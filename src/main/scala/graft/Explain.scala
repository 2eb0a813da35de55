package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit helper: the formatted physical plan of each named query
  * (or all), so broadcast/shuffle/pushdown decisions are reviewable per
  * round. With an output dir it writes one `<query>.txt` per query there;
  * without one it prints the plans. It then runs each query into the
  * `noop` sink and writes the plan that ran as `<query>.final.txt` (or
  * prints it): adaptive execution reuses exchanges and coalesces
  * partitions only while it runs, so only that plan shows whether a
  * subtree is computed once or twice.
  *
  * Written plans are diffable across builds: expression ids (`#123`),
  * exchange `plan_id=`s, lambda variable suffixes, a JVM lambda class's
  * identity (`$Lambda$5784/0x…@203c5f7e` in a `MapPartitions`'
  * arguments), checkpoint RDD ids and their creation-site line numbers
  * are the JVM's counters and the source layout, not the plan, so they
  * normalise to `N`. So do whole-stage `[codegen id : N]`s and a query
  * stage's bare-integer stage id (`Arguments: N` under a `…QueryStage`
  * node): adaptive execution numbers both in stage completion order. A
  * before/after pair then differs only where the plan changed.
  *
  * Usage: runMain graft.Explain <sfDir> [q1,q2,...|all] [outDir]
  */
object Explain {

  private val Counters = Seq(
    "#\\d+".r -> "#N",
    "plan_id=\\d+".r -> "plan_id=N",
    "RDD\\[\\d+\\]".r -> "RDD[N]",
    "(\\.scala):\\d+".r -> "$1:N",
    "(lambda [A-Za-z]+)_\\d+".r -> "$1_N",
    "\\$Lambda(?:\\$\\d+)?/0x[0-9a-f]+@[0-9a-f]+".r -> "\\$Lambda\\$N",
    "\\[codegen id : \\d+\\]".r -> "[codegen id : N]",
    ("(?m)(^\\(\\d+\\) \\w*QueryStage\n(?:(?:Output|Input) \\[\\d+\\]: .*\n)*)" +
      "Arguments: \\d+$").r -> "$1Arguments: N")

  private[graft] def normalise(plan: String): String =
    Counters.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val names = args.lift(1).filter(_ != "all")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val outDir = args.lift(2)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session.local()
    val ran = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.put(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def formatted(qe: QueryExecution): String =
      normalise(qe.explainString(ExplainMode.fromString("formatted")))
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    def emit(file: String, title: String, plan: String): Unit = {
      val text = s"\n===== $title =====\n" + plan
      outDir match {
        case Some(d) => Files.write(Paths.get(d, file),
          text.getBytes(StandardCharsets.UTF_8))
        case None => println(text)
      }
    }
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      emit(s"$name.txt", name, formatted(df.queryExecution))
      ran.clear()
      df.write.format("noop").mode("overwrite").save()
      // the listener bus is asynchronous: wait for the sink write's event
      val write = Iterator.continually(ran.poll(60, TimeUnit.SECONDS))
        .find(qe => qe == null || qe.analyzed.isInstanceOf[V2WriteCommand])
        .flatMap(Option(_))
      emit(s"$name.final.txt", s"$name (executed)", write.fold(
        "(no plan: the noop write reported no execution)")(formatted))
    }
    spark.stop()
  }
}
