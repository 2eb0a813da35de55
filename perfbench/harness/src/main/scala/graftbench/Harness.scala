package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.Similarity

/** One closed-loop benchmark run in one JVM: a single client sends graft
  * requests back to back, the way a user calls the public functions
  * (`SparkEntry.queries(name)(spark, dir)` into a noop sink, and the
  * `Similarity.appendTo*` functions for writes). Nothing is cleaned up
  * between requests: no `System.gc`, no unpersist, no session recycling.
  *
  * perfbench/run.py launches it with every argument as `--name value`:
  * the workload, seed, warm pass count and trace flag, the corpus and shard dirs,
  * the output, Spark local and warehouse dirs, the core count, the corpus
  * vector count, the query → module table, and the set-up start, JVM
  * launch time and input-generation time for the set-up metrics.
  * `SPARK_GRAFT_INDEX_DIR` names the (fresh) artifact root.
  *
  * Writes `<out>/result.json` (metrics), `<out>/check/` (the cold pass's
  * outputs, at the gated defaults, for the DuckDB oracle) and, when tracing,
  * `<out>/trace.jsonl` (spans).
  */
object Harness {

  // --- workloads -------------------------------------------------------

  val RagServe: Seq[String] = Seq(
    "kb_ingest", "sim_topk", "knn_join", "conversation_history",
    "conversation_context", "interaction_history", "topic_interactions",
    "high_quality", "high_quality_topic", "training_examples", "clean_text",
    "template_classify", "topic_detect", "safety_screen", "toxicity_screen",
    "effectiveness", "lemma_tokens", "category_info", "response_clean")

  val VectorProbes: Seq[String] =
    Seq("ann_ivf_kmeans", "ann_pq", "ann_ivfpq", "ann_graph", "ann_filtered")

  val Topics: Seq[String] = graft.operators.RefVocab.taxonomy.map(_._1)

  /** Seeded per-request `spark.graft.param.*` values for rag_serve. */
  def ragParams(name: String, rnd: Random, nVectors: Int): Seq[(String, String)] =
    name match {
      case "sim_topk" => Seq(
        "sim_topk.query_id" -> rnd.nextInt(nVectors).toString,
        "sim_topk.k" -> (3 + rnd.nextInt(8)).toString)
      case "high_quality" => Seq(
        "high_quality.topic" -> Topics(rnd.nextInt(Topics.size)),
        "high_quality.limit" -> (10 + rnd.nextInt(191)).toString)
      case "conversation_history" => Seq(
        "conversation_history.limit" -> (1 + rnd.nextInt(20)).toString)
      case _ => Nil
    }

  // --- per-request records ---------------------------------------------

  /** One request; times in seconds from nanoTime, span bounds in epoch ms. */
  final case class Req(id: Int, pass: Int, name: String, kind: String,
      buildS: Double, execS: Double, startMs: Long, buildEndMs: Long,
      endMs: Long, ok: Boolean, err: String, storeBytesAdded: Long,
      artifactsAdded: Int) {
    def wallS: Double = buildS + execS
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"
    val corpus = opt("corpus")
    val outDir = opt("out")
    val cores = opt("cores").toInt
    val launchMs = opt("launch-ms").toLong
    val nVectors = opt("vectors").toInt
    val indexRoot = sys.env("SPARK_GRAFT_INDEX_DIR")
    val modules: Map[String, String] =
      scala.io.Source.fromFile(opt("modules")).getLines()
        .map(_.split("\t")).collect { case Array(q, m) => q -> m }.toMap

    val sessionT0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(graft.sources.Tables.NanosFlag, "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the same status-store bound every graft entrypoint sets
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.local.dir", opt("local-dir"))
      .config("spark.sql.warehouse.dir", opt("warehouse-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.listenerManager.register(t.planTimer)
    }
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    val readyMs = System.currentTimeMillis()

    val queries = SparkEntry.queries
    val reqs = mutable.ArrayBuffer[Req]()
    val writeLat = mutable.ArrayBuffer[Double]() // NaN = failed call
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    var nextId = 0

    def storeState(): Map[String, Long] = dirSizes(Paths.get(indexRoot))

    /** One request; returns its record. A read is the plan build (jobs
      * tagged `gb-build-<id>`), then its execution (`gb-exec-<id>`) into
      * the noop sink, or, for a cold read, into parquet under
      * `<out>/check/` for the DuckDB oracle; the comparison runs after the
      * JVM exits. A write (kind "write") is one append call, whose time is
      * recorded as `buildS` and whose jobs are tagged `gb-write-<id>`.
      */
    def timed(name: String, pass: Int, kind: String,
        params: Seq[(String, String)])(build: => DataFrame): Req = {
      val id = nextId; nextId += 1
      val before = if (trace) storeState() else Map.empty[String, Long]
      params.foreach { case (k, v) => spark.conf.set(graft.Params.Namespace + k, v) }
      val buildTag = if (kind == "write") s"gb-write-$id" else s"gb-build-$id"
      val execTag = s"gb-exec-$id"
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      var n1 = n0; var b1 = t0
      val err = try {
        sc.addJobTag(buildTag)
        val d = try build finally sc.removeJobTag(buildTag)
        n1 = System.nanoTime(); b1 = System.currentTimeMillis()
        if (kind != "write") {
          sc.addJobTag(execTag)
          try {
            if (kind == "cold") d.write.mode("overwrite").parquet(s"$outDir/check/$name")
            else d.write.format("noop").mode("overwrite").save()
          } finally sc.removeJobTag(execTag)
        }
        ""
      } catch { case e: Throwable =>
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      } finally params.foreach { case (k, _) =>
        spark.conf.unset(graft.Params.Namespace + k) }
      val n2 = System.nanoTime(); val t2 = System.currentTimeMillis()
      if (err.nonEmpty) System.err.println(s"[perfbench] $name failed: $err")
      val (added, newArtifacts) =
        if (trace) {
          val after = storeState()
          (after.map { case (k, v) => (v - before.getOrElse(k, 0L)).max(0L) }.sum,
            after.keySet.count(k => !before.contains(k) && !k.contains('/')))
        } else (0L, 0)
      val r = Req(id, pass, name, kind, (n1 - n0) / 1e9, (n2 - n1) / 1e9,
        t0, b1, t2, err.isEmpty, err, added, newArtifacts)
      reqs += r
      r
    }

    def query(name: String, pass: Int, kind: String,
        params: Seq[(String, String)] = Nil): Req =
      timed(name, pass, kind, params)(queries(name)(spark, corpus))

    def check(what: String)(ok: => Boolean): Unit = {
      val res = try (if (ok) "" else "check failed") catch {
        case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      if (res.nonEmpty) System.err.println(s"[perfbench] CHECK $what: $res")
      checks += ((what, res.isEmpty, res))
    }

    val order = (xs: Seq[String], pass: Int) =>
      new Random(seed * 7919 + pass).shuffle(xs)

    // Cold pass: every query once at the gated defaults on the unmodified
    // corpus, from an empty artifact dir, in one fixed order so that every
    // seed pays the same artifact builds. Each writes its output to parquet
    // for the DuckDB oracle: executing every query a second time for it
    // would cost a run as much as its warm pass.
    val coldNames = workload match {
      case "rag_serve" => RagServe
      case "vector_ingest" => VectorProbes
    }
    coldNames.foreach(name => query(name, 0, "cold"))
    val coldS = reqs.map(_.wallS).sum
    new File(s"$outDir/check").mkdirs()
    Files.writeString(Paths.get(s"$outDir/check/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => coldNames.contains(k) }
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",\n", "}"))

    // Warm phase: closed-loop passes of the same queries, seeded order.
    val paramRnd = new Random(seed * 104729 + 1)
    def readPass(p: Int): Double = {
      val t = System.nanoTime()
      order(coldNames, p).foreach { n =>
        query(n, p, "read",
          if (workload == "rag_serve") ragParams(n, paramRnd, nVectors) else Nil)
      }
      (System.nanoTime() - t) / 1e9
    }

    // vector_ingest pass: append one shard through the three append paths,
    // check the store, then probe it.
    lazy val ivfPath = Similarity.ivfFlatIndexPath(corpus)
    lazy val pqCodes = s"${Similarity.pqIndexPath(corpus)}/codes"
    lazy val graphPath = Similarity.knnGraphPath(corpus)
    def rows(path: String): Long = spark.read.parquet(path).count()
    val shards = Option(new File(opt("shards")).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    var appendedBytes = 0L
    var ivfRows, pqRows, pqPerVector = 0L // store sizes the checks expect
    def shardPass(p: Int): Double = {
      val t = System.nanoTime()
      var checkS = 0.0
      def untimed[T](body: => T): T = {
        val u = System.nanoTime()
        try body finally checkS += (System.nanoTime() - u) / 1e9
      }
      val file = shards(p - 1)
      val shard = spark.read.parquet(file.getPath)
      appendedBytes += file.length()
      val sample = untimed {
        if (p == 1) {
          ivfRows = rows(s"$ivfPath/lists"); pqRows = rows(pqCodes)
          pqPerVector = pqRows / nVectors
        }
        shard.collect().sortBy(_.getLong(0))
      }
      order(Seq("ivfflat", "pq", "knngraph"), p).foreach { fn =>
        val r = timed(s"append_$fn", p, "write", Nil) {
          fn match {
            case "ivfflat" => Similarity.appendToIvfFlat(spark, ivfPath, shard)
            case "pq" => Similarity.appendToPqCodes(spark, corpus, shard)
            case "knngraph" => Similarity.appendToKnnGraph(spark, corpus, shard)
          }
          null
        }
        writeLat += (if (r.ok) r.wallS else Double.NaN)
      }
      untimed {
        ivfRows += sample.length; pqRows += sample.length * pqPerVector
        check(s"shard $p: ivfflat lists hold $ivfRows rows")(
          rows(s"$ivfPath/lists") == ivfRows)
        check(s"shard $p: pq codes hold $pqRows rows")(rows(pqCodes) == pqRows)
        // The PQ and graph appends dedupe against the store, so repeating
        // one is a no-op (appendToIvfFlat is a plain append by contract).
        Similarity.appendToPqCodes(spark, corpus, shard)
        check(s"shard $p: repeated pq append is a no-op")(rows(pqCodes) == pqRows)
        val edges = rows(graphPath)
        Similarity.appendToKnnGraph(spark, corpus, shard)
        check(s"shard $p: repeated graph append is a no-op")(rows(graphPath) == edges)
      }
      // The probes read the grown store twice: the first read after the
      // appends reloads it, and from one round the median of five reads
      // follows whichever probe the seed put first.
      for (_ <- 1 to 2) order(VectorProbes, p).foreach(n => query(n, p, "read"))
      untimed {
        val pick = sample(new Random(seed * 31 + p).nextInt(sample.length))
        val id = pick.getLong(0)
        spark.conf.set(graft.Params.Namespace + "ann.vector",
          pick.getSeq[Float](1).map(_.toString).mkString(","))
        check(s"shard $p: appended vector $id is its own top-1") {
          try {
            val top = queries("ann_ivf_kmeans")(spark, corpus)
              .filter(col("rank") === 1).select("neighbor_id").collect()
            top.length == 1 && top.head.getLong(0) == id
          } finally spark.conf.unset(graft.Params.Namespace + "ann.vector")
        }
      }
      (System.nanoTime() - t) / 1e9 - checkS
    }

    // The warm phase is a fixed number of passes, so a run does the same
    // work, and its metrics describe the same sample, on a fast or a slow host.
    require(workload != "vector_ingest" || shards.length >= passes,
      s"$passes passes need $passes shards, found ${shards.length}")
    val passWall = mutable.ArrayBuffer[Double]()
    val gc0 = gcSeconds()
    for (p <- 1 to passes) passWall +=
      (if (workload == "vector_ingest") shardPass(p) else readPass(p))
    val warmEndMs = System.currentTimeMillis()
    val gcWarm = gcSeconds() - gc0
    tracer.foreach(_ => org.apache.spark.graftbench.ListenerDrain(sc))

    // --- metrics ---------------------------------------------------------
    val warm = reqs.filter(_.pass > 0)
    val reads = warm.filter(_.kind == "read")
    val appends = warm.filter(_.kind == "write")
    def lat(rs: Iterable[Req]): Seq[Double] =
      rs.map(r => if (r.ok) r.wallS else Double.PositiveInfinity).toSeq
    val readLat = lat(reads)
    val wl = writeLat.map(x => if (x.isNaN) Double.PositiveInfinity else x).toSeq
    val storeBytes = dirSizes(Paths.get(indexRoot)).values.sum
    val inputBytes = dirSizes(Paths.get(corpus)).values.sum + appendedBytes
    val warmPasses = passWall.size.toDouble
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> ((readyMs - opt("process-start-ms").toLong) / 1000.0, "s"),
      "cold_pass_s" -> (coldS, "s"),
      "warm_pass_s" -> (median(passWall.toSeq), "s"),
      "read_p50_s" -> (pct(readLat, 0.5), "s"),
      "peak_rss_mb" -> (vmHwmKb() / 1024.0, "MB"),
      "store_bytes_per_input_byte" -> (storeBytes.toDouble / inputBytes, "ratio"))
    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    tracer.foreach { t =>
      val perPass = (x: Double) => x / warmPasses
      val warmIds = warm.map(_.id).toSet
      val jobs = t.jobs.values.asScala.toSeq
      val wJobs = jobs.filter(j => warmIds(j.rid))
      val bJobs = wJobs.filter(_.phase == "build")
      val eJobs = wJobs.filter(_.phase == "exec")
      val aJobs = wJobs.filter(_.phase == "write")
      def mod(r: Req) = modules.get(r.name).filter(OperatorModules.contains).getOrElse("other")
      layer("setup.jvm_s") = ((mainMs - launchMs) / 1000.0, "s")
      layer("setup.session_s") = (sessionS, "s")
      layer("setup.inputs_s") = (opt("inputs-s").toDouble, "s")
      // operators.* and exec.* cover reads only; appends are indexstore.*
      layer("operators.build_s") = (perPass(reads.map(_.buildS).sum), "s")
      layer("operators.build_jobs") = (perPass(bJobs.size), "count")
      layer("operators.build_self_s") = (perPass(reads.map { r =>
        r.buildS - t.unionS(bJobs.filter(_.rid == r.id))
      }.sum), "s")
      (OperatorModules :+ "other").foreach { m =>
        layer(s"operators.$m.build_s") =
          (perPass(reads.filter(mod(_) == m).map(_.buildS).sum), "s")
      }
      val execS = reads.map(_.execS).sum
      layer("exec.run_s") = (perPass(execS), "s")
      layer("exec.self_s") = (perPass(reads.map { r =>
        r.execS - t.unionS(eJobs.filter(_.rid == r.id))
      }.sum), "s")
      (OperatorModules :+ "other").foreach { m =>
        layer(s"exec.$m.run_s") =
          (perPass(reads.filter(mod(_) == m).map(_.execS).sum), "s")
      }
      layer("exec.jobs") = (perPass(eJobs.size), "count")
      layer("exec.stages") = (perPass(eJobs.map(_.stages).sum), "count")
      layer("exec.tasks") = (perPass(eJobs.map(_.tasks).sum), "count")
      val busy = eJobs.map(_.busyMs).sum / 1000.0
      layer("exec.task_busy_s") = (perPass(busy), "s")
      layer("exec.slot_util") = (busy / (execS * cores), "ratio")
      layer("exec.shuffle_write_mb") = (perPass(eJobs.map(_.shuffleWrite).sum / 1e6), "MB")
      layer("exec.shuffle_read_mb") = (perPass(eJobs.map(_.shuffleRead).sum / 1e6), "MB")
      layer("exec.spill_mb") = (perPass(eJobs.map(_.spill).sum / 1e6), "MB")
      // sink writes in execution order belong to the successful reads in
      // request order; a count mismatch leaves both metrics unmeasured
      val sink = t.sinkWrites.asScala.toSeq.sortBy(_._1)
      val okReqs = reqs.filter(r => r.ok && r.kind == "read")
      val writes = if (sink.size != okReqs.size) None
        else Some(okReqs.zip(sink).filter { case (r, _) => warmIds(r.id) }.map(_._2))
      layer("catalyst.plan_s") =
        (writes.fold(Double.NaN)(w => perPass(w.map(_._2).sum)), "s")
      // scans by the reads, at build and at execution
      val rJobs = bJobs ++ eJobs
      val scanRows = rJobs.map(_.inRecords).sum.toDouble
      val outRows = writes.fold(Double.NaN)(_.map(_._3).sum.toDouble)
      layer("sources.scan_mb") = (perPass(rJobs.map(_.inBytes).sum / 1e6), "MB")
      layer("sources.scan_rows") = (perPass(scanRows), "count")
      layer("sources.rows_read_per_row_out") = (scanRows / outRows.max(1.0), "ratio")
      val warmBuild = warm.groupBy(_.name).view.mapValues(rs => median(rs.map(_.buildS).toSeq))
      val created = reqs.filter(_.artifactsAdded > 0)
      layer("indexstore.cold_build_s") = (created.map { r =>
        (r.buildS - warmBuild.getOrElse(r.name, 0.0)).max(0.0) }.sum, "s")
      layer("indexstore.artifacts_built") = (reqs.map(_.artifactsAdded).sum.toDouble, "count")
      layer("indexstore.write_mb") = (perPass(warm.map(_.storeBytesAdded).sum / 1e6), "MB")
      layer("indexstore.files") = (countFiles(Paths.get(indexRoot)).toDouble, "count")
      layer("indexstore.append_s") = (perPass(appends.map(_.buildS).sum), "s")
      layer("indexstore.append_jobs") = (perPass(aJobs.size), "count")
      layer("indexstore.append_p50_s") = (if (wl.isEmpty) 0.0 else pct(wl, 0.5), "s")
      layer("indexstore.append_p90_s") = (if (wl.isEmpty) 0.0 else pct(wl, 0.9), "s")
      layer("jvm.gc_s") = (perPass(gcWarm), "s")
      writeTrace(s"$outDir/trace.jsonl", reqs.toSeq, jobs)
    }

    val failedReqs = reqs.count(!_.ok)
    val failedChecks = checks.count(!_._2)
    val out = new StringBuilder
    out ++= "{"
    out ++= s""""workload": ${jstr(workload)}, "seed": $seed, "cores": $cores, """
    out ++= s""""trace": $trace, "requests": ${reqs.size}, "failed_requests": $failedReqs, """
    out ++= s""""checks": ${checks.size}, "failed_checks": $failedChecks, """
    out ++= s""""warm_passes": ${passWall.size}, "read_samples": ${readLat.size}, """
    // too few warm reads for a steady p90 (see perfbench/README.md), so it
    // is reported beside the metrics, not among them
    out ++= s""""read_p90_s": ${num(pct(readLat, 0.9))}, """
    out ++= s""""write_samples": ${wl.size}, "run_s": ${(warmEndMs - readyMs) / 1000.0}, """
    out ++= s""""failures": ${(reqs.filter(!_.ok).map(r => s"${r.name}: ${r.err}") ++
      checks.filter(!_._2).map(c => s"${c._1}: ${c._3}")).map(jstr).mkString("[", ", ", "]")}, """
    val log = reqs.map { r =>
      Seq(r.id.toString, r.pass.toString, jstr(r.name), jstr(r.kind), num(r.wallS),
        num(r.buildS), num(r.execS), r.ok.toString).mkString("[", ", ", "]")
    }
    out ++= s""""request_log": ${log.mkString("[", ", ", "]")}, """
    def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) =>
        s"${jstr(k)}: {\"value\": ${num(v)}, \"unit\": ${jstr(u)}}" }.mkString("{", ", ", "}")
    out ++= s""""end_to_end": ${metricsJson(e2e)}, "per_layer": ${metricsJson(layer)}"""
    out ++= "}"
    Files.writeString(Paths.get(s"$outDir/result.json"), out.toString)
    spark.stop()
  }

  /** Modules the registered workloads call, each reported on its own;
    * every other module's time is reported as `other`.
    */
  val OperatorModules: Seq[String] =
    Seq("Similarity", "Interactions", "TextOps", "TextAnalysis")

  // --- tracing -----------------------------------------------------------

  final class JobRec(val id: Int, val phase: String, val rid: Int,
      val startMs: Long) {
    @volatile var endMs: Long = startMs
    var stages = 0; var tasks = 0; var busyMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L
  }

  /** Collects Spark's own counts per job, keyed by the harness's job tags
    * (`gb-<build|exec|write>-<request id>`), plus Catalyst phase times of every
    * finished SQL execution.
    */
  final class Tracer extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, JobRec]()
    /** Per finished write into the noop sink: (execution id, analysis +
      * optimization + planning seconds, rows its plan produced). The
      * harness makes exactly one such write per successful warm read.
      */
    val sinkWrites = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
        .getOrElse("").split(",").find(_.startsWith("gb-"))
      tag.foreach { t =>
        val Array(_, phase, rid) = t.split("-", 3)
        val rec = new JobRec(e.jobId, phase, rid.toInt, e.time)
        jobs.put(e.jobId, rec)
        e.stageIds.foreach(s => stageJob.put(s, rec))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks += 1
        j.busyMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inBytes += m.inputMetrics.bytesRead
          j.inRecords += m.inputMetrics.recordsRead
        }
      }

    val planTimer = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe.executedPlan.simpleString(10).contains("NoopWrite"))
          sinkWrites.add((qe.id, qe.tracker.phases.values.map(_.durationMs).sum / 1000.0,
            rowsOut(qe.executedPlan)))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }

    /** Rows the plan's top operator produced: the first `numOutputRows`
      * metric found descending through row-preserving wrappers (the sink
      * write, adaptive plans, query stages, operators without the metric).
      */
    private def rowsOut(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive._
      def find(p: SparkPlan): Option[Long] = p match {
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: QueryStageExec => find(q.plan)
        case _ => p.metrics.get("numOutputRows").map(_.value)
          .orElse(if (p.children.size == 1) find(p.children.head) else None)
      }
      find(plan).getOrElse(0L)
    }

    /** Wall seconds covered by the union of the jobs' intervals. */
    def unionS(js: Seq[JobRec]): Double = {
      var covered = 0L; var curS = -1L; var curE = -1L
      js.map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = curE.max(e)
      }
      if (curE > curS) covered += curE - curS
      covered / 1000.0
    }
  }

  /** Spans request → build/exec (or write) → job as JSON lines. */
  def writeTrace(path: String, reqs: Seq[Req], jobs: Seq[JobRec]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    def span(id: String, name: String, s: Long, e: Long, parent: String, rid: Int) =
      w.println(s"""{"span": ${jstr(id)}, "name": ${jstr(name)}, "start_ms": $s, """ +
        s""""end_ms": $e, "parent": ${if (parent == null) "null" else jstr(parent)}, "request": $rid}""")
    try {
      reqs.foreach { r =>
        span(s"r${r.id}", r.name, r.startMs, r.endMs, null, r.id)
        if (r.kind == "write")
          span(s"r${r.id}.write", "write", r.startMs, r.endMs, s"r${r.id}", r.id)
        else {
          span(s"r${r.id}.build", "build", r.startMs, r.buildEndMs, s"r${r.id}", r.id)
          span(s"r${r.id}.exec", "exec", r.buildEndMs, r.endMs, s"r${r.id}", r.id)
        }
      }
      jobs.sortBy(_.id).foreach { j =>
        span(s"j${j.id}", s"job ${j.id}", j.startMs, j.endMs, s"r${j.rid}.${j.phase}", j.rid)
      }
    } finally w.close()
  }

  // --- helpers -----------------------------------------------------------

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentile with linear interpolation between the closest ranks; a
    * failed request is +infinity, so it is never dropped from the sample.
    */
  def pct(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val r = p * (s.size - 1)
    val (lo, hi) = (math.floor(r).toInt, math.ceil(r).toInt)
    if (lo == hi || s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Bytes per path relative to `root`; top-level entries are the
    * artifacts (a relative path without '/').
    */
  def dirSizes(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { f =>
        val rel = root.relativize(f).toString
        val top = rel.takeWhile(_ != '/')
        Seq(rel -> Files.size(f), top -> 0L)
      }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      finally s.close()
    }

  def countFiles(root: Path): Long =
    if (!Files.exists(root)) 0L else {
      val s = Files.walk(root)
      try s.iterator().asScala.count(Files.isRegularFile(_)) finally s.close()
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
