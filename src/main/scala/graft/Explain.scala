package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit helper: the formatted physical plan of each named query
  * (or all), so broadcast/shuffle/pushdown decisions are reviewable per
  * round. With an output dir it writes one `<query>.txt` per query there;
  * without one it prints the plans.
  *
  * Written plans are diffable across builds: expression ids (`#123`),
  * exchange `plan_id=`s, lambda variable suffixes, checkpoint RDD ids
  * and their creation-site line numbers are the JVM's counters and the
  * source layout, not the plan, so they normalise to `N`. A
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
    "(lambda [A-Za-z]+)_\\d+".r -> "$1_N")

  private def normalise(plan: String): String =
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
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      val text = s"\n===== $name =====\n" + normalise(
        SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
      outDir match {
        case Some(d) => Files.write(Paths.get(d, s"$name.txt"),
          text.getBytes(StandardCharsets.UTF_8))
        case None => println(text)
      }
    }
    spark.stop()
  }
}
