package graft

import graft.core.{OwnedCaches, SharedFrames}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The SharedFrames lifecycle: memoized session-shared frames, the
  * record of which planned query reads which key, and release after a
  * frame's last recorded reader. The record is JVM-wide, so every test
  * uses keys of its own.
  */
class SharedFramesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  /** Runs `plan` as a harness does: `body(q)` between begin and
    * queryDone, then `after(q)` on the state right after q is done.
    */
  private def runPlan(plan: Seq[String])(body: String => Unit,
      after: String => Unit = _ => ()): Unit = {
    SharedFrames.planQueries(plan)
    plan.foreach { q =>
      SharedFrames.begin(q)
      body(q)
      SharedFrames.queryDone(q)
      after(q)
    }
  }

  private def live(key: String): Boolean =
    SharedFrames.diagnostics._3.exists(_.startsWith(s"$key@"))

  private def frame(key: String): org.apache.spark.sql.DataFrame =
    SharedFrames.get(spark, key, "mem")(spark.range(5).toDF("x"))

  test("SharedFrames releases a frame exactly after its last planned consumer") {
    import spark.implicits._
    val plan = Seq("qa", "qb", "qc", "qd")
    var builds = 0
    def frame = SharedFrames.get(spark, "t13.lifecycle", "mem") {
      builds += 1
      (1 to 10).toDF("x")
    }
    try {
      // the first plan records qa and qc as the frame's readers
      runPlan(plan)(q => if (q == "qa" || q == "qc") frame.count())
      SharedFrames.planQueries(plan)
      SharedFrames.begin("qa")
      val df = frame
      df.count()
      assert(builds == 2 && df.storageLevel.useMemory)
      SharedFrames.queryDone("qa")
      assert(df.storageLevel.useMemory, "qc still pending: frame must survive qa")
      SharedFrames.begin("qb"); SharedFrames.queryDone("qb")
      assert(df.storageLevel.useMemory, "qb is not a consumer: no release")
      SharedFrames.begin("qc")
      // memoization: a second get returns the SAME frame, no rebuild
      assert(frame eq df)
      assert(builds == 2)
      SharedFrames.queryDone("qc")
      assert(df.storageLevel == StorageLevel.NONE,
        "last planned consumer finished: frame must be unpersisted")
      // a rebuild after release is counted — the drift tell Bench
      // emits per query as shared_rebuilds in the sidecar
      val df2 = frame
      assert(builds == 3)
      assert(SharedFrames.diagnostics._1 >= 1, "rebuild-after-release must be observable")
      df2.unpersist()
      SharedFrames.begin("qd"); SharedFrames.queryDone("qd")
    } finally SharedFrames.clearPlan()
  }

  test("SharedFrames without a plan keeps library session semantics (no auto-release)") {
    import spark.implicits._
    SharedFrames.clearPlan()
    val df = SharedFrames.get(spark, "t13.noplan", "mem") {
      (1 to 5).toDF("x")
    }
    df.count()
    SharedFrames.begin("qa"); SharedFrames.queryDone("qa")
    assert(df.storageLevel.useMemory,
      "without planQueries, queryDone must not release anything")
    df.unpersist()
  }

  test("SharedFrames flags an undeclared consumer instead of failing") {
    import spark.implicits._
    def frame = SharedFrames.get(spark, "t13.undeclared", "mem") {
      (1 to 5).toDF("x")
    }
    try {
      runPlan(Seq("declared"))(_ => frame.count())
      SharedFrames.planQueries(Seq("declared", "stranger"))
      SharedFrames.begin("stranger")
      val df = frame
      df.count() // works — drift is a diagnostic, never a failure
      val (_, und, _) = SharedFrames.diagnostics
      assert(und.exists(_.contains("t13.undeclared")), s"expected drift tag, got $und")
      SharedFrames.queryDone("stranger")
      SharedFrames.begin("declared"); SharedFrames.queryDone("declared")
      assert(df.storageLevel == StorageLevel.NONE)
    } finally SharedFrames.clearPlan()
  }

  test("SharedFrames: a key collision with a DIFFERENT live session rebuilds, never cross-serves") {
    val s2 = spark.newSession()
    // same key text except the session suffix differs by identity —
    // manufacture the cross-session case by asking both sessions for
    // the same logical key and checking each gets ITS OWN frame
    val f1 = graft.core.SharedFrames.get(spark, "r15d.test", "dir") {
      spark.range(3).toDF("a")
    }
    val f2 = graft.core.SharedFrames.get(s2, "r15d.test", "dir") {
      s2.range(3).toDF("a")
    }
    assert(f1.sparkSession eq spark)
    assert(f2.sparkSession eq s2, "a frame must belong to the session that asked")
  }

  test("a first plan keeps an unrecorded key until the plan's last query") {
    try runPlan(Seq("f1a", "f1b", "f1c"))(q => if (q == "f1a") frame("sf.first").count(),
      after = q => assert(live("sf.first") == (q != "f1c"), s"after $q"))
    finally SharedFrames.clearPlan()
  }

  test("a second plan releases a frame right after its last recorded reader, with zero rebuilds") {
    val plan = Seq("s2a", "s2b", "s2c")
    val readers = Set("s2a", "s2b")
    try {
      runPlan(plan)(q => if (readers(q)) frame("sf.second").count())
      runPlan(plan)(q => if (readers(q)) frame("sf.second").count(),
        after = q => assert(live("sf.second") == (q == "s2a"), s"after $q"))
      assert(SharedFrames.diagnostics._1 == 0)
      assert(SharedFrames.diagnostics._2.isEmpty)
    } finally SharedFrames.clearPlan()
  }

  test("a key read only while another key was built stays live until the outer key's last reader") {
    def outer = SharedFrames.get(spark, "sf.outer", "mem")(frame("sf.inner").filter("x > 0"))
    val plan = Seq("t3a", "t3b", "t3c")
    try {
      // t3b only ever touches the memoized outer frame
      runPlan(plan)(q => if (q != "t3c") outer.count())
      runPlan(plan)(q => if (q != "t3c") outer.count(), after = {
        case "t3a" => assert(live("sf.inner") && live("sf.outer"))
        case "t3b" => assert(!live("sf.inner") && !live("sf.outer"))
        case _ =>
      })
      assert(SharedFrames.diagnostics._1 == 0)
    } finally SharedFrames.clearPlan()
  }

  test("the record survives reset()") {
    try {
      runPlan(Seq("r4a", "r4b"))(q => if (q == "r4a") frame("sf.reset").count())
      SharedFrames.reset()
      runPlan(Seq("r4a", "r4b"))(q => if (q == "r4a") frame("sf.reset").count(),
        after = q => if (q == "r4a") assert(!live("sf.reset"), "recorded key must release"))
    } finally SharedFrames.clearPlan()
  }

  test("a second-plan read by an unrecorded query is tagged in undeclared") {
    val plan = Seq("u5a", "u5b")
    try {
      runPlan(plan)(q => if (q == "u5a") frame("sf.tag").count())
      assert(SharedFrames.diagnostics._2.isEmpty, "a first-plan read is learning, not drift")
      runPlan(plan)(_ => frame("sf.tag").count())
      assert(SharedFrames.diagnostics._2 == Seq("sf.tag<-u5b"))
      runPlan(plan)(_ => frame("sf.tag").count())
      assert(SharedFrames.diagnostics._2.isEmpty, "the record learned u5b's read")
    } finally SharedFrames.clearPlan()
  }

  test("two planned passes over graph and basket queries: the second rebuilds nothing") {
    val plan = Seq("cooccur_recs", "triangle_count", "basket_lift", "basket_triples")
    def run(q: String): Unit = {
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
      OwnedCaches.release()
    }
    try {
      runPlan(plan)(run)
      runPlan(plan)(run, after = {
        case "cooccur_recs" => assert(live("graph.basketPairCounts"))
        case "triangle_count" =>
          assert(!live("graph.basketPairCounts") && !live("graph.supportEdges"))
        case "basket_lift" => assert(live("commerce.brandBaskets"))
        case _ =>
      })
      val (rebuilds, undeclared, left) = SharedFrames.diagnostics
      assert(rebuilds == 0)
      assert(undeclared.isEmpty)
      assert(left.isEmpty, s"nothing may stay live after the plan: $left")
    } finally SharedFrames.clearPlan()
  }
}
