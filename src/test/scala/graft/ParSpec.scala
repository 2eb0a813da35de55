package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame

import graft.operators.Par

class ParSpec extends SparkSpecBase {

  test("a failing branch rethrows its error and cancels a sibling's " +
      "running and future jobs") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("branch 0 failed")
    val secondJobRan = new AtomicBoolean(false)
    // 4 tasks of 2000 × 10 ms: ~20 s if nothing cancels it
    val slowSec = 20.0
    val failing: () => DataFrame = () => {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (sc.statusTracker.getActiveJobIds().isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(10)
      throw boom
    }
    val slow: () => DataFrame = () => {
      // the branch tolerates its first job failing, so only the
      // future-jobs half of the cancel can stop the second job
      try sc.parallelize(1 to 8000, 4).map { x => Thread.sleep(10); x }
        .count()
      catch { case _: Throwable => () }
      sc.parallelize(1 to 4, 4).count()
      secondJobRan.set(true)
      spark.range(1).toDF()
    }
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException](Par.build(Seq(failing, slow)))
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom)
    assert(!secondJobRan.get(), "the sibling's second job ran")
    assert(elapsed < slowSec / 2, s"Par.build took $elapsed s")
  }
}
