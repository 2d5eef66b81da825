package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-15 hardening pins (engine-review findings): the custom join
  * execs treat NULL positional keys with SQL semantics instead of
  * silently reading 0, the unit-vector expressions reject non-float/
  * double element arrays with a typed error. (The SharedFrames
  * session-collision pin lives in SharedFramesSpec.)
  */
class Round15dSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("RangeBand.join: a NULL probe key matches no band (never the band covering 0)") {
    import spark.implicits._
    val probe = Seq[(Option[Long], Long)](
      (Some(5L), 100L), (None, 101L), (Some(-7L), 102L))
      .toDF("k", "payload")
      .select(col("k").as("k"), col("payload"))
    val bands = Seq((-10L, 0L, 1L), (0L, 10L, 2L)).toDF("lo", "hi", "band_id")
    val rows = graft.plans.RangeBand.join(spark, probe, bands)
      .collect().map(r => (Option(r.get(0)), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val byPayload = rows.map(t => t._2 -> t._3).toMap
    assert(byPayload(100L).contains(2L))
    assert(byPayload(101L).isEmpty, "NULL key must match no band (0's band leaked)")
    assert(byPayload(102L).contains(1L))
  }

  test("AsOf.join: NULL uid/ts probe rows and NULL build rows follow SQL semantics") {
    import spark.implicits._
    val probe = Seq[(Option[Long], Option[Long], Long)](
      (Some(0L), Some(50L), 1L), // uid 0 — the value a null would be misread as
      (None, Some(60L), 2L),     // null uid: must NOT match uid 0's build rows
      (Some(1L), None, 3L),      // null ts: must match nothing
      (Some(1L), Some(70L), 4L))
      .toDF("uid", "ts", "payload")
    val build = Seq[(Option[Long], Option[Long], Option[Long])](
      (None, Some(5L), Some(900L)),   // null uid build row: matches nothing
      (Some(0L), Some(40L), Some(77L)),
      (Some(1L), Some(65L), None))    // qualifying row with a NULL key
      .toDF("uid", "ts", "key")
    val rows = graft.plans.AsOf.join(spark, probe, build)
      .collect().map(r => r.getLong(2) ->
        ((if (r.isNullAt(3)) None else Some(r.getLong(3))),
          (if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(rows(1L) == ((Some(40L), Some(77L))), "uid 0 matches its own build row")
    assert(rows(2L) == ((None, None)), "null-uid probe must match nothing")
    assert(rows(3L) == ((None, None)), "null-ts probe must match nothing")
    assert(rows(4L) == ((Some(65L), None)),
      "a qualifying build row with a NULL key yields matched_ts + null matched_key")
  }

  test("graft_unit / graft_qunit reject non-float/double element arrays with a typed error") {
    import spark.implicits._
    graft.functions.UnitVector.register(spark)
    graft.functions.QuantUnitVector.register(spark)
    val ints = Seq((1L, Seq(1, 2, 3))).toDF("id", "v")
    val e1 = intercept[Exception] {
      ints.select(call_function("graft_unit", col("v"))).collect()
    }
    assert(e1.getMessage != null)
    val e2 = intercept[Exception] {
      ints.select(call_function("graft_qunit", col("v"))).collect()
    }
    assert(e2.getMessage != null)
    // the valid types still work
    val ok = Seq((1L, Seq(3.0, 4.0))).toDF("id", "v")
      .select(call_function("graft_unit", col("v"))).collect()
    assert(ok.nonEmpty)
  }
}
