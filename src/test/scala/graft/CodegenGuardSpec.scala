package graft

import org.scalatest.funsuite.AnyFunSuite

/** Execution-mode guard (round 16, VERDICT r15 #1): no query on the
  * r15 CPU-ratio tail — the giant-generated-expression suspects —
  * may generate a whole-stage-codegen method HotSpot would refuse to
  * JIT (`-XX:HugeMethodLimit`, 8000 bytecode bytes; a refused method
  * runs interpreted forever at ~10-15× CPU). The full-registry sweep
  * lives in `graft.tools.CodegenAudit` (worst measured this round:
  * 4305 bytes, source_divergence_matrix); this pin keeps the
  * known-expensive expression chains (unrolled ExactLn Horner stages,
  * PQ ADC tables, 64-way positional equalities) inside the compiled
  * mode as they evolve. The r15 tail itself was adjudicated to JIT
  * code-cache exhaustion (see build.sbt's ReservedCodeCacheSize note
  * and Bench's codecache_mb/jit_ms sidecar), which this spec's limit
  * does not cover — the sidecar does. A stage whose generated class
  * does not compile at all (Janino's 64 KB ceiling) falls back on
  * every run; the audit counts it as failed, and the second test pins
  * the event-type pair statistics, where that happened, at zero.
  */
class CodegenGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  // every r15 CPU-ratio-tail query plus the registry's two largest
  // generated-method queries from the round-16 full sweep
  private val Suspects = Seq(
    "perplexity_bucket_filter", "mips_topk", "minhash_estimate_audit",
    "path_topk", "price_index_monthly", "pq_distortion_eval",
    "ann_pq_topk", "source_divergence_matrix", "token_entropy_by_source",
    "bigram_perplexity_by_source")

  // AQE off for the audit session only: pre-execution, the adaptive
  // wrapper hides WholeStageCodegen subtrees from plan.collect, and
  // expression codegen size is identical either way
  private lazy val auditSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2
  }

  private def audit(name: String) = {
    val r = graft.tools.CodegenAudit.audit(SparkEntry.queries(name)(auditSession, sf))
    assert(r.stages > 0, s"$name: no codegen stage found (audit not seeing the plan)")
    r
  }

  test("r15 tail queries stay under the JIT huge-method limit") {
    val failures = Suspects.flatMap { name =>
      val r = audit(name)
      if (r.over.nonEmpty || r.failed.nonEmpty)
        Some(s"$name max=${r.maxMethodBytes} over=${r.over} failed=${r.failed}")
      else None
    }
    assert(failures.isEmpty,
      s"generated methods over the 8000-byte JIT limit:\n${failures.mkString("\n")}")
  }

  // the event-type pair statistics once computed all 10 pairs in one
  // wide row: lepage_test's 60 decimal sums and tost_equivalence's
  // 10-way stack grew past the 64 KB method limit, and Spark fell back
  // to interpreted execution on every run
  test("event-type pair statistics compile every codegen stage") {
    val pairQueries = Seq("lepage_test", "brunner_munzel", "cliff_delta", "tost_equivalence")
    val failures = pairQueries.flatMap { name =>
      val r = audit(name)
      if (r.failed.nonEmpty) Some(s"$name failed=${r.failed}") else None
    }
    assert(failures.isEmpty,
      s"whole-stage codegen stages that fail to compile:\n${failures.mkString("\n")}")
  }
}
