package graft.tools

import org.apache.spark.sql.execution.debug

/** Per-query generated-code size audit — the execution-mode
  * diagnostic behind VERDICT r15 #1.
  *
  * HotSpot never JIT-compiles a method whose bytecode exceeds
  * `-XX:HugeMethodLimit` (8000 bytes, and `DontCompileHugeMethods`
  * is on by default): a whole-stage-codegen `processNext()` that
  * crosses the limit runs INTERPRETED forever — 10-15× the CPU of
  * the compiled mode — while a sibling stage a few hundred bytes
  * smaller runs compiled. That is a cliff, not a slope: the r15
  * driver bench measured `perplexity_bucket_filter` burning 91.2 s
  * of task CPU where the matched shared run burned 6.7 s on the
  * same binary and data, and the CPU-ratio tail was concentrated on
  * exactly the giant-generated-expression queries (unrolled ExactLn
  * Horner chains, PQ distance tables, 64-way positional
  * equalities). Spark itself only aborts codegen above
  * `spark.sql.codegen.hugeMethodLimit` (default 65535 — the Janino
  * class-file ceiling), so the 8001–65535 band compiles fine,
  * passes every functional test, and silently runs interpreted.
  *
  * This main makes the mode OBSERVABLE per query: for every
  * registered query it walks the executed plan's
  * WholeStageCodegenExec subtrees (via
  * `org.apache.spark.sql.execution.debug.codegenStringSeq`, which
  * compiles each subtree's generated source and reports
  * `ByteCodeStats.maxMethodCodeSize`) and prints one JSON line
  *
  * {{{
  * {"query":NAME,"stages":N,"max_method_bytes":M,
  *  "stages_over_8000":K,"over":["WholeStageCodegen id=..: bytes"],
  *  "stages_failed":F,"failed":["WholeStageCodegen id=.."]}
  * }}}
  *
  * `stages_over_8000 > 0` = this query HAS a JIT-refused slow mode.
  * `stages_failed > 0` = a stage's generated class does not compile
  * at all (Janino's 64 KB "Code grows beyond" ceiling, say): Spark
  * then re-tries the compile and falls back to interpreted execution
  * on EVERY run. `codegenStringSeq` swallows that failure and reports
  * `ByteCodeStats.UNAVAILABLE` (−1 bytes), which would read as "under
  * the limit" — so unavailable stats count as a failure here.
  * The fix is never a JVM flag (raising HugeMethodLimit trades the
  * cliff for a permanently-unoptimized method): shrink the generated
  * code — compact custom Expressions whose doGenCode calls a
  * scalac-compiled (hence normally JIT-able) static method replace
  * unrolled expression text on the Spark side while the DuckDB
  * oracle keeps the textual form (bit-identical by construction:
  * same IEEE ops, same order). CodegenGuardSpec pins the audited
  * registry clean; run this after adding any expression-heavy query.
  *
  * Usage: runMain graft.tools.CodegenAudit <sfDir> [name,name,...]
  */
object CodegenAudit {

  /** One DataFrame's executed-plan codegen audit: the stage count,
    * the largest generated method, the stage tags over `limit` (with
    * their size) and the stage tags whose generated code fails to
    * compile.
    */
  case class Result(stages: Int, maxMethodBytes: Int, over: Seq[String],
      failed: Seq[String])

  /** Audit one DataFrame's executed plan. AQE note: the
    * pre-execution `executedPlan` of an AdaptiveSparkPlanExec exposes
    * the initial physical plan's codegen subtrees — exchanges are not
    * yet reoptimized, but expression codegen (the thing that can blow
    * the method limit) is identical in the final plan, and runtime
    * reoptimization only ever SPLITS stages further.
    */
  def audit(df: org.apache.spark.sql.DataFrame, limit: Int = 8000): Result = {
    val stages = debug.codegenStringSeq(df.queryExecution.executedPlan)
    val sizes = stages.map { case (subtree, _, stats) =>
      val tag = subtree.linesIterator.find(_.nonEmpty).getOrElse("?").trim
        .take(60)
      (tag, stats.maxMethodCodeSize)
    }
    val over = sizes.filter(_._2 > limit).map { case (t, s) => s"$t: $s" }
    val failed = sizes.filter(_._2 < 0).map(_._1)
    Result(sizes.size, if (sizes.isEmpty) 0 else sizes.map(_._2).max, over, failed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set.empty
    // AQE off for the AUDIT only: pre-execution, AdaptiveSparkPlanExec
    // hides its WholeStageCodegen subtrees from plan.collect, and the
    // thing being measured — per-expression generated code size — is
    // identical with and without runtime reoptimization (AQE re-plans
    // exchanges, never expression codegen)
    val spark = graft.core.GraftSession.harness("graft-codegen-audit",
      Seq("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    var worst = 0
    var failing = 0
    names.foreach { name =>
      val line =
        try {
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          val r = audit(df)
          if (r.maxMethodBytes > worst) worst = r.maxMethodBytes
          if (r.failed.nonEmpty) failing += 1
          def arr(xs: Seq[String]) = xs.map(o => "\"" + esc(o) + "\"").mkString("[", ",", "]")
          s"""{"query":"${esc(name)}","stages":${r.stages},"max_method_bytes":${r.maxMethodBytes},""" +
            s""""stages_over_8000":${r.over.size},"over":${arr(r.over)},""" +
            s""""stages_failed":${r.failed.size},"failed":${arr(r.failed)}}"""
        } catch {
          case scala.util.control.NonFatal(e) =>
            s"""{"query":"${esc(name)}","error":"${esc(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(120))}"}"""
        }
      println(line)
      graft.core.OwnedCaches.release()
    }
    println(s"""{"audit":"done","queries":${names.size},"worst_method_bytes":$worst,""" +
      s""""queries_failing_compile":$failing}""")
    spark.stop()
  }
}
