package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names, for fast local
    // iteration on a subset (the driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = graft.core.GraftSession.harness("graft-verify",
      Seq(graft.core.GraftSession.retainAllCodegen))
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** The dump body, session-preserving — split from [[main]] so the
    * `errors.json` contract (a failing query leaves an `_ERROR`
    * marker AND an errors.json entry — the round-10 silent-absence
    * failure mode) is testable in-process against the shared test
    * session (VERDICT r11 #5).
    */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    // sorted order matches Bench (HashMap order reshuffles per build);
    // operator-owned caches release after each query's write. Run from
    // main, this is the JVM's first planned pass: SharedFrames holds the
    // session-shared frames (dedup shingles, support edges, kmeans
    // assignment, brand baskets) until the dump ends while it records
    // which query reads which; a later planned pass in the same JVM
    // releases each after its last recorded reader
    // a failing query must leave a visible trace, not just a stderr
    // line — absence from the artifact otherwise masquerades as
    // "no entry" (this is how 55 failures vanished in round 10)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    graft.core.SharedFrames.planQueries(names)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      graft.core.SharedFrames.begin(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"), msg)
      }
      graft.core.OwnedCaches.release()
      graft.core.SharedFrames.queryDone(name)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // corpus-cap routing audit (ADVICE r15): the embedding near-dup
    // family's exact-n² oracle is the ground truth ONLY on the exact
    // branch (corpus ≤ cap). Dump which branch this dir takes so an
    // oracle mismatch on a routed corpus reads as the expected
    // semantics (recall-audited candidates), not silent breakage.
    // two divergence channels, both corpus-size-gated: the exact-n²
    // oracles are ground truth only ≤ EmbExactCap, and EVERY oracle
    // that replays the Lloyd's/probe CTEs bakes k = 8 — valid only
    // while kmKFor(corpus) = 8 (≤ 8·KmTargetCellSize vectors) AND the
    // flat quantizer branch is active (k ≤ TwoLevelK)
    val routedFamily = Seq("dedup_embedding_cosine", "dedup_embedding_clusters",
      "embedding_keep_canonical", "dedup_embedding_lsh",
      "dedup_embedding_incremental", "embedding_neardup_recall",
      "knn_graph", "knn_confusion", "embedding_kmeans", "semdedup_prune",
      "cluster_purity", "embedding_hubness_audit", "knn_reciprocal_rate")
    if (routedFamily.exists(n => only.isEmpty || only.contains(n))) {
      try {
        val (n, cap, branch) = graft.operators.Ann.embRouteAudit(spark, sfDir)
        val k = graft.operators.Ann.kmKFor(n)
        val flatK8 = k == 8 && k <= graft.operators.Ann.TwoLevelK
        Files.writeString(Paths.get(s"$outDir/route_audit.json"),
          s"""{"family": ${routedFamily.map(q).mkString("[", ",", "]")}, """ +
            s""""corpus": $n, "cap": $cap, "branch": ${q(branch)}, "k": $k, """ +
            s""""exact_oracle_valid": ${branch == "exact"}, """ +
            s""""kmeans_oracle_valid": $flatK8}""")
        if (branch != "exact" || !flatK8)
          System.err.println(s"[verify] embeddings corpus $n (k=$k, cap $cap): " +
            "kmeans-family oracles expect the flat k=8 quantizer; " +
            "hash mismatches on this dir are the routed semantics, not breakage")
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
  }
}
