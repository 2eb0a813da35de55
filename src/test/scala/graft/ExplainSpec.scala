package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Explain.normalise` on a captured executed plan: the counters adaptive
  * execution assigns in stage completion order become `N`; every other
  * argument stays as Spark printed it.
  */
class ExplainSpec extends AnyFunSuite {

  private val captured =
    """(5) ShuffleQueryStage
      |Output [3]: [user_id#12L, event_id#10L, _w0#31]
      |Arguments: 3
      |
      |(6) AQEShuffleRead
      |Input [3]: [user_id#12L, event_id#10L, _w0#31]
      |Arguments: coalesced
      |
      |(7) Sort [codegen id : 4]
      |Input [3]: [user_id#12L, event_id#10L, _w0#31]
      |Arguments: [user_id#12L ASC NULLS FIRST], false, 0
      |
      |(8) CollectLimit
      |Input [3]: [user_id#12L, event_id#10L, _w0#31]
      |Arguments: 10
      |
      |(9) ResultQueryStage
      |Output [3]: [user_id#12L, event_id#10L, context#40]
      |Arguments: 7
      |""".stripMargin

  test("normalise: codegen ids and query-stage ids become N; a Sort's " +
      "and a limit's integer arguments stay") {
    assert(Explain.normalise(captured) ===
      """(5) ShuffleQueryStage
        |Output [3]: [user_id#NL, event_id#NL, _w0#N]
        |Arguments: N
        |
        |(6) AQEShuffleRead
        |Input [3]: [user_id#NL, event_id#NL, _w0#N]
        |Arguments: coalesced
        |
        |(7) Sort [codegen id : N]
        |Input [3]: [user_id#NL, event_id#NL, _w0#N]
        |Arguments: [user_id#NL ASC NULLS FIRST], false, 0
        |
        |(8) CollectLimit
        |Input [3]: [user_id#NL, event_id#NL, _w0#N]
        |Arguments: 10
        |
        |(9) ResultQueryStage
        |Output [3]: [user_id#NL, event_id#NL, context#N]
        |Arguments: N
        |""".stripMargin)
  }

  test("normalise: a JVM lambda class's identity becomes N") {
    // a graph-walk MapPartitions' argument, captured in two runs
    val runs = Seq(
      "Arguments: org.apache.spark.sql.internal.UDFAdaptors$$$Lambda$5784/" +
        "0x00007f193961f6b8@203c5f7e, obj#31: scala.Tuple4",
      "Arguments: org.apache.spark.sql.internal.UDFAdaptors$$$Lambda$5790/" +
        "0x00007f0c4c63a2d0@5a1b7c3e, obj#33: scala.Tuple4")
    runs.foreach { run =>
      assert(Explain.normalise(run) === "Arguments: org.apache.spark.sql." +
        "internal.UDFAdaptors$$$Lambda$N, obj#N: scala.Tuple4")
    }
  }
}
