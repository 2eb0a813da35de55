package graft.tools

import graft.SparkEntry

/** Splits a query's wall time into driver-side plan phases (analysis /
  * optimization / physical planning, from QueryExecution's tracker) vs
  * the executed noop write, so optimization effort lands on the right
  * side: a 5 s query whose time is 4 s of Catalyst needs a smaller
  * plan, not a better shuffle.
  *
  * Usage: runMain graft.tools.PhaseTime <dir> [query,query,...]
  */
object PhaseTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only = if (args.length > 1) args(1).split(",").toSet
               else SparkEntry.queries.keySet
    val spark = graft.Session.local()
    val runs = sys.env.getOrElse("PROBE_RUNS", "3").toInt.max(2)
    SparkEntry.queries.keys.filter(only).toSeq.sorted.foreach { name =>
      val rows = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val tExec = (System.nanoTime() - t1) / 1e9
        // phase durations of the WRITE's execution (analysis..planning);
        // the builder time above additionally holds eager artifact reads
        val ph = df.queryExecution.tracker.phases
          .map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) / 1e3 }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
        (tBuild, tExec, ph)
      }
      val best = rows.minBy(r => r._1 + r._2)
      val phStr = best._3.toSeq.sortBy(_._1)
        .map { case (k, s) => f"$k=$s%.2f" }.mkString(" ")
      println(f"PHASE $name%-24s build=${best._1}%7.3f exec=${best._2}%7.3f  $phStr")
    }
    spark.stop()
  }
}
