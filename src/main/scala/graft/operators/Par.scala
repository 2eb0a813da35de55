package graft.operators

import org.apache.spark.sql.DataFrame

/** Parallel DataFrame BUILD for multi-branch queries (guide §2.6
  * "overlap independent jobs"): a plan builder that localCheckpoints
  * runs its subplan's AQE stage waves at API time, so a query unioning
  * k independent branches built serially pays k wave chains
  * back-to-back while the cluster idles. Building the branches from a
  * small driver thread pool lets the scheduler interleave their
  * stages; Spark's scheduler is explicitly multi-job-safe, artifact
  * builds stay single-flight behind IndexStore.ensureBuilt's lock, and
  * a branch shared-frame first-compute is serialized by RDD block
  * locks. Results are unaffected: each branch's plan is identical to
  * the serial build, only the materialization ORDER changes, and every
  * branch is deterministic.
  *
  * Use ONLY for branches that share no newly-created checkpointed
  * DataFrame (each thread must create its own frames, or take
  * already-created ones); pass pre-built shared frames in by value.
  */
object Par {
  def build(fs: Seq[() => DataFrame]): Seq[DataFrame] = {
    if (fs.sizeIs <= 1) return fs.map(_())
    // Each branch runs under its own job group so the FIRST failure can
    // cancel the siblings' running jobs and refuse every job they submit
    // afterwards, instead of blocking on the slowest branch's full
    // runtime. A sibling's driver-side code still runs until its next
    // job submission. A nested Par.build inside a branch moves its jobs
    // to groups of its own, so each branch also carries a job TAG: tags
    // accumulate and child threads inherit them, and the cancel by tag
    // reaches the nested branches' running jobs (not their future ones
    // — the nested build's own fail-fast stops those). Sibling errors
    // (usually the cancellations that follow) ride along as suppressed.
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val base = s"graft-par-build-${java.util.UUID.randomUUID()}"
    val firstErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val results = new Array[Either[Throwable, DataFrame]](fs.size)
    val threads = fs.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() => {
        results(i) =
          try {
            // group id only — the inherited thread-locals (job
            // description from the bench, scheduler pool) stay as the
            // caller set them
            sc.setLocalProperty("spark.jobGroup.id", s"$base-$i")
            sc.addJobTag(s"$base-$i")
            Right(f())
          } catch { case e: Throwable =>
            if (firstErr.compareAndSet(null, e))
              fs.indices.filter(_ != i).foreach { j =>
                sc.cancelJobGroupAndFutureJobs(s"$base-$j")
                sc.cancelJobsWithTag(s"$base-$j")
              }
            Left(e)
          }
      }, s"graft-par-build-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    val err = firstErr.get()
    if (err != null) {
      results.foreach {
        case Left(e) if e ne err => err.addSuppressed(e)
        case _ => ()
      }
      throw err
    }
    results.toSeq.zipWithIndex.map {
      case (Right(df), _) if df != null => df
      case (_, i) => throw new IllegalStateException(
        s"Par.build branch $i returned no DataFrame")
    }
  }
}
