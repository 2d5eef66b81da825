package graft.operators

import graft.core.Tables
import graft.functions.GraftFunctions.normTokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM-training-data pipeline over the
  * `documents` table: quality scoring, language ID, token counting,
  * fingerprinting. Everything is a narrow map-only projection — no
  * shuffle, scales linearly with input splits (SURVEY.md §2 H).
  *
  * All ratios are int/int divisions in double (exactly-representable
  * operands → bit-identical across engines), so every query here is
  * oracled.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "and", "to", "is")

  /** Quality metrics: length, punctuation ratio, stopword ratio, avg
    * token length, and a blended score — the heuristics used to filter
    * low-quality web text before training.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks") // materialized once below (see normTokens note)
    val len = length(col("text"))
    val nTok = size(toks)
    val punct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    val stopCnt = size(filter(toks, t => t.isin(stopwords: _*)))
    val tokLenSum = aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
    val punctRatio = punct.cast("double") / len.cast("double")
    val stopRatio = stopCnt.cast("double") / nTok.cast("double")
    val avgTokLen = tokLenSum.cast("double") / nTok.cast("double")
    Tables(spark, dir).documents
      .withColumn("toks", normTokens(col("text")))
      .select(
        col("doc_id"),
        len.as("text_len"),
        nTok.as("n_tokens"),
        punct.as("punct_count"),
        punctRatio.as("punct_ratio"),
        stopCnt.as("stopword_count"),
        stopRatio.as("stopword_ratio"),
        avgTokLen.as("avg_token_len"),
        (lit(0.3) * stopRatio + lit(0.3) * (lit(1.0) - punctRatio) +
          lit(0.4) * least(avgTokLen / lit(10.0), lit(1.0))).as("quality_score"))
      .orderBy("doc_id")
  }

  val textQualitySql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(text) AS INTEGER) AS text_len,
      |  CAST(len(toks) AS INTEGER) AS n_tokens,
      |  CAST(len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS INTEGER) AS punct_count,
      |  CAST(len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE) AS punct_ratio,
      |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','is'))) AS INTEGER) AS stopword_count,
      |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','is'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
      |  CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len,
      |  0.3 * (CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','is'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
      |    + 0.3 * (1.0 - CAST(len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE))
      |    + 0.4 * least((CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) / 10.0, 1.0) AS quality_score
      |FROM t ORDER BY doc_id""".stripMargin

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une"))

  /** Marker-word language scoring (n-gram-heuristic language ID):
    * count marker hits per language, argmax with a fixed precedence
    * tie-break. Map-only.
    */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    def score(ws: Seq[String]): Column = size(filter(toks, t => t.isin(ws: _*)))
    val Seq(en, de, es, fr) = langMarkers.map(m => score(m._2))
    val pred = when(en >= de && en >= es && en >= fr && en > 0, "en")
      .when(de >= es && de >= fr && de > 0, "de")
      .when(es >= fr && es > 0, "es")
      .when(fr > 0, "fr")
      .otherwise("unknown")
    Tables(spark, dir).documents
      .withColumn("toks", normTokens(col("text")))
      .select(
        col("doc_id"), col("lang").as("labeled_lang"),
        en.as("score_en"), de.as("score_de"), es.as("score_es"), fr.as("score_fr"),
        pred.as("pred_lang"))
      .orderBy("doc_id")
  }

  val textLangIdSql: String = {
    def s(ws: Seq[String]) =
      s"len(list_filter(toks, x -> x IN (${ws.map(w => s"'$w'").mkString(",")})))"
    val Seq(en, de, es, fr) = langMarkers.map(m => s(m._2))
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS toks
       |  FROM documents)
       |SELECT doc_id, lang AS labeled_lang,
       |  CAST($en AS INTEGER) AS score_en, CAST($de AS INTEGER) AS score_de,
       |  CAST($es AS INTEGER) AS score_es, CAST($fr AS INTEGER) AS score_fr,
       |  CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en > 0 THEN 'en'
       |       WHEN $de >= $es AND $de >= $fr AND $de > 0 THEN 'de'
       |       WHEN $es >= $fr AND $es > 0 THEN 'es'
       |       WHEN $fr > 0 THEN 'fr'
       |       ELSE 'unknown' END AS pred_lang
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Token counting: whitespace tokens and a BPE-ish regex token count
    * (alnum runs + individual punctuation marks), the standard cheap
    * proxy for LLM token budgeting.
    */
  def textTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val ws = size(filter(split(col("text"), " +"), t => length(t) > 0))
    val bpe = size(regexp_extract_all(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))
    Tables(spark, dir).documents.select(
        col("doc_id"),
        col("n_chars"),
        ws.as("ws_token_count"),
        bpe.as("regex_token_count"),
        (length(col("text")).cast("double") / ws.cast("double")).as("chars_per_token"))
      .orderBy("doc_id")
  }

  val textTokenCountSql: String =
    """SELECT doc_id, n_chars,
      |  CAST(len(list_filter(string_split_regex(text, ' +'), x -> len(x) > 0)) AS INTEGER) AS ws_token_count,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS INTEGER) AS regex_token_count,
      |  CAST(len(text) AS DOUBLE) / CAST(len(list_filter(string_split_regex(text, ' +'), x -> len(x) > 0)) AS DOUBLE) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Deterministic content-hash train/test split: bucket = first 16
    * bits of md5(doc id) mod 100, train iff bucket < 90. Hash-based
    * (not random) so the split is stable under any repartitioning or
    * re-run — the property a training-data pipeline needs to keep
    * train/test membership frozen across incremental rebuilds.
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100)
    Tables(spark, dir).documents.select(
        col("doc_id"),
        bucket.as("bucket"),
        when(bucket < 90, "train").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  val trainTestSplitSql: String =
    """SELECT doc_id,
      |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS INTEGER) AS bucket,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90
      |       THEN 'train' ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Normalized document fingerprint: md5 of the sorted distinct token
    * set — an order/count-insensitive content hash (the "fingerprint
    * dedup" normalization).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val uniq = col("uniq")
    Tables(spark, dir).documents
      .withColumn("uniq", array_sort(array_distinct(normTokens(col("text")))))
      .select(
        col("doc_id"),
        size(uniq).as("n_uniq_tokens"),
        md5(concat_ws(" ", uniq)).as("fingerprint"))
      .orderBy("doc_id")
  }

  val textFingerprintSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_sort(list_distinct(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0))) AS uniq
      |  FROM documents)
      |SELECT doc_id, CAST(len(uniq) AS INTEGER) AS n_uniq_tokens,
      |  md5(array_to_string(uniq, ' ')) AS fingerprint
      |FROM t ORDER BY doc_id""".stripMargin

  /** Corpus-wide top-k n-grams by document frequency (the LM-stats /
    * contamination-check primitive): distinct bigrams per doc via the
    * one-pass shingle expression, then a counting shuffle with map-side
    * partial aggregation and a partial top-k (TakeOrdered) — the
    * full-corpus n-gram table never materializes on one node.
    * Deterministic total order: (count desc, bigram asc).
    */
  def ngramTopk(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TokenShingles.register(spark)
    Tables(spark, dir).documents
      .select(explode(call_function("graft_shingles", col("text"), lit(2))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("bigram"))
      .limit(20)
  }

  val ngramTopkSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 2
      |    THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
      |    ELSE [array_to_string(t, ' ')] END) AS sd
      |  FROM toks)
      |SELECT bigram, count(*) AS n_docs
      |FROM (SELECT doc_id, unnest(sd) AS bigram FROM sh)
      |GROUP BY bigram ORDER BY n_docs DESC, bigram LIMIT 20""".stripMargin

  /** PII redaction (emails / phone numbers): synthesize the PII the
    * way parse_price synthesizes raw prices (the corpus is clean), then
    * detect + redact with dialect-neutral regexes. Map-only; the
    * redacted text is output as an md5 so the oracle compares content
    * without shipping the full string through the hash gate.
    */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    val raw = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or call 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val redacted = regexp_replace(regexp_replace(raw, emailRe, "[EMAIL]"),
      phoneRe, "[PHONE]")
    Tables(spark, dir).documents
      .withColumn("raw", raw)
      .select(col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0))).as("n_phones"),
        md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  val textPiiRedactSql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or call 555-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+')) AS INTEGER) AS n_emails,
      |  CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
      |  md5(regexp_replace(regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+', '[EMAIL]', 'g'), '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5
      |FROM r ORDER BY doc_id""".stripMargin

  /** Group-wise train/test split: the split decision hashes the GROUP
    * key (source), not the document — every document of a source lands
    * in the same split, the standard leakage guard when near-identical
    * documents cluster within a source (a doc-level split would put
    * siblings on both sides and leak). Same content-hash determinism
    * as `train_test_split`: stable under re-runs and repartitioning,
    * pure map-side.
    */
  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("source")), 1, 8), 16, 10)
      .cast("long") % 100
    Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        when(bucket < 80, "train").otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("split")
  }

  val groupSplitSql: String =
    """WITH s AS (
      |  SELECT doc_id, source,
      |    CASE WHEN ('0x'||substr(md5(source),1,8))::BIGINT % 100 < 80
      |         THEN 'train' ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, count(*) AS n_docs, count(DISTINCT source) AS n_sources
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  /** Rolling-hash (Rabin–Karp) document fingerprints: every 8-byte
    * window hashed in ONE O(n) pass by the [[graft.functions.RollingHashes]]
    * expression, mod-64 content-defined sampling, sorted distinct
    * output. Docs with no sampled window (or shorter than the window)
    * drop out — mirrored in the oracle, which re-derives each window's
    * polynomial per position (same values, O(n·K) — the declarative
    * form the custom expression exists to beat).
    */
  def textRollingHashFp(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.RollingHashes.register(spark)
    Tables(spark, dir).documents
      .select(col("doc_id"),
        call_function("graft_rolling_hashes", col("text")).as("fps"))
      .filter(size(col("fps")) > 0)
      .select(col("doc_id"), size(col("fps")).as("n_fp"),
        array_join(transform(col("fps"), _.cast("string")), ",").as("fp_csv"))
      .orderBy("doc_id")
  }

  val textRollingHashFpSql: String = {
    import graft.functions.RollingHashes.{B, K, P, SampleMod}
    s"""WITH pos AS (
      |  SELECT doc_id, unnest(range(1, strlen(text) - $K + 2)) AS i, text
      |  FROM documents WHERE strlen(text) >= $K),
      |h AS (
      |  SELECT doc_id,
      |    list_reduce([CAST(ord(c) AS BIGINT) for c in [substring(text, CAST(i + j AS INTEGER), 1) for j in range($K)]],
      |      (a, x) -> (a * $B + x) % $P) AS hv
      |  FROM pos),
      |fp AS (SELECT DISTINCT doc_id, hv FROM h WHERE hv % $SampleMod = 0)
      |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_fp,
      |  string_agg(CAST(hv AS VARCHAR), ',' ORDER BY hv) AS fp_csv
      |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private val ContamWidth = 8 // token n-gram width for overlap detection

  /** Benchmark decontamination: test-split docs sharing ≥1 8-gram with
    * any train-split doc (the standard n-gram-overlap contamination
    * check an LLM training pipeline runs between its corpus and its
    * eval sets). Split = the same deterministic content-hash assignment
    * as [[trainTestSplit]].
    *
    * Scale shape: per-doc distinct 8-gram shingles (one-pass
    * TokenShingles expression, map-side), reduced to 56-bit md5-word
    * keys so the shuffle carries 8-byte keys instead of 8-token
    * strings; train×test overlap is ONE equi-join on the shingle hash
    * (work ∝ actually-colliding n-grams, never |train|×|test|), then a
    * per-test-doc count aggregation. The same md5-word family as the
    * sketch suite, so any hash collision affects both engines
    * identically — the result stays bit-reproducible in the oracle.
    *
    * `maxTrainDf` guards the join against shingle skew: a ubiquitous
    * 8-gram (boilerplate headers, license text) is a hot key whose
    * collision count grows ~df·|test hits| — standard decontamination
    * caps the train-side shingle document frequency and treats
    * anything above it as non-signal boilerplate. The default (no cap)
    * keeps the oracle bit-identical; at 100 TB pass a cap in the
    * thousands.
    */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame =
    contaminationCheck(spark, dir, maxTrainDf = Long.MaxValue)

  def contaminationCheck(spark: SparkSession, dir: String,
      maxTrainDf: Long): DataFrame = {
    graft.functions.TokenShingles.register(spark)
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100)
    val sh = Tables(spark, dir).documents
      .select(col("doc_id"),
        when(bucket < 90, "train").otherwise("test").as("split"),
        explode(call_function("graft_shingles", col("text"), lit(ContamWidth))).as("s"))
      .select(col("doc_id"), col("split"),
        conv(substring(md5(col("s")), 1, 14), 16, 10).cast("long").as("h"))
    val trainAll = sh.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc"), col("h")).distinct()
    val train =
      if (maxTrainDf == Long.MaxValue) trainAll
      else {
        // boilerplate shingles (train-side df above the cap) are
        // dropped BEFORE the join via an anti-join on the hot-key
        // list — the aggregation producing it is partial (map-side
        // combine on h), so no skewed shuffle survives anywhere
        val hot = trainAll.groupBy(col("h"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxTrainDf)
          .select(col("h"))
        trainAll.join(hot, Seq("h"), "left_anti")
      }
    val test = sh.filter(col("split") === "test")
      .select(col("doc_id").as("test_doc"), col("h"))
    test.join(train, "h")
      .groupBy(col("test_doc"))
      .agg(countDistinct(col("h")).as("n_shared_shingles"),
        countDistinct(col("train_doc")).as("n_train_docs"))
      .orderBy("test_doc")
  }

  val contaminationCheckSql: String = {
    val w = ContamWidth
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= $w
      |    THEN [array_to_string(t[i:i+${w - 1}], ' ') for i in range(1, len(t) - ${w - 2})]
      |    ELSE [array_to_string(t, ' ')] END) AS sd
      |  FROM toks),
      |split AS (
      |  SELECT doc_id,
      |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90
      |         THEN 'train' ELSE 'test' END AS split
      |  FROM documents),
      |ex AS (
      |  SELECT u.doc_id, s.split, ('0x' || substr(md5(u.s2), 1, 14))::BIGINT AS h
      |  FROM (SELECT doc_id, unnest(sd) AS s2 FROM sh) u JOIN split s ON u.doc_id = s.doc_id),
      |tr AS (SELECT DISTINCT doc_id AS train_doc, h FROM ex WHERE split = 'train'),
      |te AS (SELECT doc_id AS test_doc, h FROM ex WHERE split = 'test')
      |SELECT test_doc, count(DISTINCT h) AS n_shared_shingles,
      |  count(DISTINCT train_doc) AS n_train_docs
      |FROM te JOIN tr USING (h)
      |GROUP BY test_doc ORDER BY test_doc""".stripMargin
  }

  /** Intra-document repetition (the C4/Gopher duplicate-n-gram quality
    * signal): fraction of a doc's 3-gram positions occupied by a
    * repeated shingle — `1 − distinct/total`. One map-side pass per
    * doc (the one-pass TokenShingles expression gives the distinct
    * count; the total is just token count − 2), no shuffle at any
    * scale. Ratios are int/int divisions → oracled exactly.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TokenShingles.register(spark)
    val nTok = size(col("toks"))
    // shingle positions; the <3-token edge case yields ONE whole-doc
    // shingle (TokenShingles' ELSE branch), so total is 1 there too
    val total = greatest(nTok - 2, lit(1))
    val nd = size(call_function("graft_shingles", col("text"), lit(3)))
    val ratio = (total - nd).cast("double") / total.cast("double")
    Tables(spark, dir).documents
      .withColumn("toks", normTokens(col("text")))
      .select(col("doc_id"),
        total.as("n_shingles_total"),
        nd.as("n_shingles_distinct"),
        ratio.as("dup_ngram_ratio"),
        when(ratio >= 0.05, 1).otherwise(0).as("is_repetitive"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, CAST(greatest(len(t) - 2, 1) AS INTEGER) AS total,
      |    CAST(len(list_distinct(CASE WHEN len(t) >= 3
      |      THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
      |      ELSE [array_to_string(t, ' ')] END)) AS INTEGER) AS nd
      |  FROM toks)
      |SELECT doc_id, total AS n_shingles_total, nd AS n_shingles_distinct,
      |  CAST(total - nd AS DOUBLE) / total AS dup_ngram_ratio,
      |  CASE WHEN CAST(total - nd AS DOUBLE) / total >= 0.05 THEN 1 ELSE 0 END AS is_repetitive
      |FROM sh ORDER BY doc_id""".stripMargin

  private val TfidfTopK = 5

  /** Per-doc top-5 terms by TF-IDF — the keyword/salience profile a
    * corpus-analysis pass produces per document. IDF is the RATIONAL
    * form N/df (no logarithm): tf·N is an exact integer < 2^53 and the
    * single division is correctly rounded, so the score — and therefore
    * the ranking — is bit-identical across engines (a log-based IDF
    * changes only the monotonic scale, not the per-doc order, and
    * would not oracle exactly).
    *
    * Scale shape: three keyed aggregations/joins (doc-term counts,
    * term doc-frequency, term join) + one per-doc window — all
    * partial-aggregating, nothing corpus-crossing except the O(terms)
    * df table. The corpus size N rides a 1-row broadcast
    * (no driver scalar).
    */
  /** The (doc, term) frequency frame shared VERBATIM by `tfidf_topk`
    * and `bm25_topk` (optimization round 19): each query consumed it
    * 2-3 times (document frequencies, doc lengths, the scoring join),
    * re-running the corpus tokenization on every read.
    */
  private def termFreqFrame(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "text.termFreq", dir) {
      Tables(spark, dir).documents
        .select(col("doc_id"), explode(normTokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
    }

  def tfidfTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val tf = termFreqFrame(spark, dir)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val score = (col("tf") * col("n")).cast("double") / col("df")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(score.desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        score.as("score"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  val tfidfTopkSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS t
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    CAST(tf * (SELECT n FROM n) AS DOUBLE) / df AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf * (SELECT n FROM n) AS DOUBLE) / df DESC, term) AS rank
      |  FROM tf JOIN df USING (term))
      |SELECT doc_id, term, tf, df, score, CAST(rank AS INTEGER) AS rank
      |FROM scored WHERE rank <= $TfidfTopK
      |ORDER BY doc_id, rank""".stripMargin

  private val MinKeepTokens = 30

  /** Composite C4/Gopher-style quality gate: every doc gets its
    * filter signals (token count, duplicate-3-gram ratio, stopword
    * ratio), a keep/drop verdict, and the FIRST failing rule as the
    * reject reason — the audit trail a corpus-curation run ships with
    * its drop decisions. One map-side pass per doc (the signals reuse
    * the one-pass TokenShingles distinct count and the normalized
    * token array — no shuffle at any scale); the thresholds are
    * shared literal expressions (`CAST(0.05 AS DOUBLE)`) so every
    * comparison is bit-identical in the oracle, and both ratios are
    * int/int divisions — the verdicts hash-match exactly.
    */
  /** The quality rule's raw INTEGER signals — cleaned token count,
    * duplicate-3-shingle excess over the shingle total, stopword
    * count — ONE definition shared by [[qualityFilter]] (the verdict)
    * and [[qualityLogregFilter]] (the student distilled from it), so
    * retuning the rule can never leave the trained filter supervised
    * by a stale copy. SQL twins: [[QualityToksCte]] /
    * [[TriShingleDistinctSql]] / [[StopListSql]].
    */
  private[graft] def qualityRuleSignals(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TokenShingles.register(spark)
    val nTok = size(col("toks"))
    val total = greatest(nTok - 2, lit(1))
    val nd = size(call_function("graft_shingles", col("text"), lit(3)))
    val stopCnt = size(filter(col("toks"), t => t.isin(stopwords: _*)))
    Tables(spark, dir).documents
      .withColumn("toks", normTokens(col("text")))
      .select(col("doc_id"), nTok.cast("long").as("nt"),
        (total - nd).cast("long").as("dupn"), total.cast("long").as("tt"),
        stopCnt.cast("long").as("sc"))
  }

  /** [[qualityRuleSignals]]' SQL prelude — the cleaned-token CTE both
    * quality oracles splice in verbatim.
    */
  private val QualityToksCte: String =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS t
      |  FROM documents)""".stripMargin

  /** Distinct-3-shingle count over the cleaned tokens `t` — the
    * shared SQL text of the rule's repetition signal.
    */
  private val TriShingleDistinctSql: String =
    """len(list_distinct(CASE WHEN len(t) >= 3
      |    THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
      |    ELSE [array_to_string(t, ' ')] END))""".stripMargin

  /** The stoplist as SQL — generated from the ONE [[stopwords]] Seq. */
  private val StopListSql: String = stopwords.map("'" + _ + "'").mkString(",")

  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val thresh = expr("CAST(0.05 AS DOUBLE)")
    qualityRuleSignals(spark, dir)
      .select(col("doc_id"), col("nt").cast("int").as("n_tokens"),
        (col("dupn").cast("double") / col("tt").cast("double")).as("dup_ngram_ratio"),
        (col("sc").cast("double") / col("nt").cast("double")).as("stopword_ratio"))
      .withColumn("reject_reason",
        when(col("n_tokens") < MinKeepTokens, "too_short")
          .when(col("dup_ngram_ratio") >= thresh, "repetitive")
          .when(col("stopword_ratio") < thresh, "low_stopword")
          .otherwise("ok"))
      .withColumn("is_kept", when(col("reject_reason") === "ok", 1).otherwise(0))
      .orderBy("doc_id")
  }

  val qualityFilterSql: String =
    s"""WITH $QualityToksCte,
      |m AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
      |  CAST(greatest(len(t) - 2, 1) - $TriShingleDistinctSql AS DOUBLE) / greatest(len(t) - 2, 1) AS dup_ngram_ratio,
      |  CAST(len(list_filter(t, x -> x IN ($StopListSql))) AS DOUBLE) / len(t) AS stopword_ratio
      | FROM toks),
      |v AS (SELECT doc_id, n_tokens, dup_ngram_ratio, stopword_ratio,
      |  CASE WHEN n_tokens < $MinKeepTokens THEN 'too_short'
      |       WHEN dup_ngram_ratio >= CAST(0.05 AS DOUBLE) THEN 'repetitive'
      |       WHEN stopword_ratio < CAST(0.05 AS DOUBLE) THEN 'low_stopword'
      |       ELSE 'ok' END AS reject_reason
      | FROM m)
      |SELECT doc_id, n_tokens, dup_ngram_ratio, stopword_ratio, reject_reason,
      |  CASE WHEN reject_reason = 'ok' THEN 1 ELSE 0 END AS is_kept
      |FROM v ORDER BY doc_id""".stripMargin

  private[graft] val PackCapacity = 2048L
  private[graft] val PackBucketWidth = 1000L

  /** Sample packing: assign every document (in doc_id order) to the
    * fixed-capacity training sequence ("pack") its first token lands
    * in — the contiguous-fill packing an LLM pipeline runs to turn a
    * corpus into 2048-token training rows. Output: the doc's token
    * count, the corpus-wide running token total, its pack id and
    * offset within the pack (docs may span packs; the id is the pack
    * containing the first token).
    *
    * Scale shape: the global running total is NOT one unpartitioned
    * window (which would drag the whole corpus through a single task).
    * It's a two-level distributed prefix sum: per-bucket cumulative
    * sums run partitioned (buckets = fixed doc_id ranges, so the
    * assignment is deterministic — no sampling-based range partitioner
    * in the result path), the per-bucket totals (one row per
    * [[PackBucketWidth]] docs) take the tiny ordered window, and the
    * bucket offsets broadcast back. The oracle states the same values
    * as ONE global window — equal by construction, which is exactly
    * the point: the distributed formulation is invisible in the
    * result. At 10⁹+ docs the bucket-totals table is ~10⁶ 16-byte
    * rows — still one comfortable task; beyond that, recurse a third
    * level over the bucket table.
    */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), size(normTokens(col("text"))).as("n_tokens"))
    val bucketed = toks.withColumn("bucket", expr(s"doc_id div $PackBucketWidth"))
    val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    val local = bucketed.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("btot"))
      .select(col("bucket"), coalesce(sum(col("btot")).over(wOff), lit(0L)).as("boff"))
    local.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum_end", col("boff") + col("local_cum"))
      .select(col("doc_id"), col("n_tokens"), col("cum_end"),
        expr(s"(cum_end - n_tokens) div $PackCapacity").as("pack_id"),
        ((col("cum_end") - col("n_tokens")) % PackCapacity).as("pack_offset"))
      .orderBy("doc_id")
  }

  val sequencePackSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0)) AS INTEGER) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_end FROM toks)
      |SELECT doc_id, n_tokens, cum_end,
      |  (cum_end - n_tokens) // $PackCapacity AS pack_id,
      |  (cum_end - n_tokens) % $PackCapacity AS pack_offset
      |FROM c ORDER BY doc_id""".stripMargin

  private val Bm25TopK = 5

  /** Per-doc top-5 terms by Okapi BM25 weight (k1 = 1.2, b = 0.75) —
    * the length-normalized, saturation-damped upgrade of
    * [[tfidfTopk]]'s salience profile. The IDF is the RATIONAL Okapi
    * core (N − df + 0.5)/(df + 0.5) without the logarithm: every
    * input is an exact integer (or the exact 0.5), each double op is
    * correctly rounded, and the Spark expression tree mirrors the
    * oracle's operand order token for token — so the scores, and the
    * ranking, hash-match exactly (the log changes only monotonic
    * scale per term; see tfidfTopk's note). Constants ride shared
    * `CAST(1.2 AS DOUBLE)` literal strings on both engines.
    *
    * Scale shape: same as tfidf — keyed partial aggregations (tf, df,
    * dl) meeting on broadcast-sized side tables; N and avgdl are
    * one-row broadcasts; the only window is per-doc top-k.
    */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // tf is the session-shared termFreqFrame (round 19): its three
    // consumers here (dl, dfreq, the scoring join) each re-ran the
    // tokenize+explode+count chain — three full corpus tokenizations
    // per run, plus tfidf_topk's own identical build; and dl derives
    // FROM tf (Σ per-term counts per doc IS the token count)
    val tf = termFreqFrame(spark, dir)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val avgdl = dl.agg(sum(col("dl")).as("sdl")).crossJoin(broadcast(n))
      .select((col("sdl").cast("double") / col("n")).as("avgdl"))
    val half = expr("CAST(0.5 AS DOUBLE)")
    val k1 = expr("CAST(1.2 AS DOUBLE)")
    val b = expr("CAST(0.75 AS DOUBLE)")
    val one = expr("CAST(1.0 AS DOUBLE)")
    val idf = ((col("n") - col("df")).cast("double") + half) /
      (col("df").cast("double") + half)
    val score = (idf * (col("tf").cast("double") * (k1 + one))) /
      (col("tf").cast("double") +
        k1 * (one - b + b * (col("dl").cast("double") / col("avgdl"))))
    val w = Window.partitionBy(col("doc_id")).orderBy(score.desc, col("term"))
    tf.join(dfreq, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(avgdl))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25TopK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
        score.as("score"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  val bm25TopkSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS t
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
      |dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY 1),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |ad AS (SELECT CAST(sum(dl) AS DOUBLE) / (SELECT n FROM n) AS avgdl FROM dl),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df, dl.dl,
      |    (((CAST((SELECT n FROM n) - df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |       / (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |     * (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))))
      |    / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |       + CAST(0.75 AS DOUBLE) * (CAST(dl.dl AS DOUBLE) / (SELECT avgdl FROM ad)))) AS score
      |  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM scored)
      |SELECT doc_id, term, tf, df, dl, score, CAST(rank AS INTEGER) AS rank
      |FROM r WHERE rank <= $Bm25TopK ORDER BY doc_id, rank""".stripMargin

  private val BpeTopK = 20

  /** Top-20 adjacent token pairs by total corpus occurrences — ONE
    * BPE merge step of tokenizer training, run at corpus scale (the
    * highest-count pair is the merge a BPE trainer would apply next).
    * Distinct from [[ngramTopk]], which ranks by DOCUMENT frequency:
    * merge ranking needs multiplicity, so pairs come from the
    * one-pass [[graft.functions.TokenGrams]] expression (all bigrams,
    * not the distinct set). Map-side explode → one partial-aggregating
    * count shuffle → global top-k: the full pair table never sits on
    * any node, and the iterated trainer would just re-run this query
    * after applying each merge.
    */
  def bpeMergeTopk(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TokenGrams.register(spark)
    Tables(spark, dir).documents
      .select(explode(call_function("graft_grams", col("text"), lit(2))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(BpeTopK)
  }

  val bpeMergeTopkSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS t
      |  FROM documents),
      |pairs AS (
      |  SELECT unnest(CASE WHEN len(t) >= 2
      |    THEN [t[i]||' '||t[i+1] for i in range(1, len(t))] ELSE [] END) AS pair
      |  FROM toks)
      |SELECT pair, count(*) AS n_occurrences
      |FROM pairs GROUP BY 1 ORDER BY n_occurrences DESC, pair LIMIT $BpeTopK""".stripMargin

  private val MixBudgetPerSource = 20

  /** Deterministic corpus-mix rebalancing: downsample every source to
    * an expected [[MixBudgetPerSource]]-doc budget via the same
    * content-hash bucketing as [[trainTestSplit]] — the "fix the
    * source mix before training" step of corpus assembly. The keep
    * test is the integer cross-multiplication
    * `bucket · count_s < budget · 10000` (no double rate, no
    * engine-dependent rounding), so membership is exact and stable
    * under re-runs and repartitioning. Per-source weights generalize
    * by replacing the budget literal with a weight column on the
    * (broadcast-sized) counts table.
    *
    * Scale shape: the per-source counts table is
    * sources-cardinality (broadcast); the corpus stream takes one
    * map-side hash + compare — no shuffle of the corpus at any scale.
    */
  def corpusMixSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 10000
    docs.join(broadcast(counts), "source")
      .filter(bucket * col("cnt") < lit(MixBudgetPerSource.toLong) * lit(10000L))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  val corpusMixSampleSql: String =
    s"""WITH counts AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
      |b AS (
      |  SELECT d.doc_id, d.source, c.cnt,
      |    ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,4))::BIGINT % 10000 AS bucket
      |  FROM documents d JOIN counts c USING (source))
      |SELECT doc_id, source FROM b
      |WHERE bucket * cnt < $MixBudgetPerSource * 10000
      |ORDER BY doc_id""".stripMargin

  private val ChunkSize = 64 // tokens per chunk
  private val ChunkStride = 48 // tokens between chunk starts (16-token overlap)

  /** Fixed-size token chunking with overlap — the RAG / training-prep
    * fan-out that turns each document into 64-token chunks on a
    * 48-token stride (16 tokens of overlap so no sentence straddles a
    * boundary unseen). Chunk count is sized so the last chunk's window
    * reaches the end of the document; every chunk is identified by a
    * content hash, the unit an embedding/indexing stage downstream
    * would key on.
    *
    * Scale shape: pure map-side 1→N fan-out (sequence + explode over
    * the already-materialized token array) — no shuffle at any corpus
    * size, output rows ∝ tokens/stride. The same fan-out contract as
    * `multimodal_framesample`, at the text grain.
    */
  def docChunk(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(col("toks"))
    // 1 + ceil(max(nTok − size, 0) / stride): enough starts that the
    // last window reaches the end of the doc; integer-in-double
    // arithmetic on small counts — exact in both engines
    val nChunks = lit(1) + floor(
      (greatest(nTok - ChunkSize, lit(0)) + lit(ChunkStride - 1)) / lit(ChunkStride))
      .cast("int")
    val start = (col("chunk_id") * ChunkStride).cast("int")
    val chunk = slice(col("toks"), start + 1, lit(ChunkSize))
    Tables(spark, dir).documents
      .withColumn("toks", normTokens(col("text")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        start.as("start_tok"),
        size(chunk).cast("int").as("n_chunk_toks"),
        md5(concat_ws(" ", chunk)).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  val docChunkSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, toks,
      |    1 + CAST(floor((greatest(len(toks) - $ChunkSize, 0) + ${ChunkStride - 1}) / $ChunkStride.0) AS INTEGER) AS nchunks
      |  FROM t),
      |c AS (SELECT doc_id, toks, unnest(range(nchunks)) AS cid FROM n)
      |SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id,
      |  CAST(cid * $ChunkStride AS INTEGER) AS start_tok,
      |  CAST(len(toks[cid * $ChunkStride + 1 : cid * $ChunkStride + $ChunkSize]) AS INTEGER) AS n_chunk_toks,
      |  -- array_to_string([]) is NULL in DuckDB but '' in Spark
      |  md5(coalesce(array_to_string(toks[cid * $ChunkStride + 1 : cid * $ChunkStride + $ChunkSize], ' '), '')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Per-test-document n-gram NOVELTY against the train split: the
    * fraction of a held-out doc's bigram POSITIONS (multiplicity, via
    * the one-pass TokenGrams expression) whose bigram never occurs in
    * any train-split document. The language-model-flavored cousin of
    * `contamination_check`: that query finds verbatim 8-gram overlap,
    * this one scores how much of a doc a bigram LM trained on the
    * corpus has never seen — the cheap proxy for OOD/novelty filtering
    * in a training-data pipeline. Split = the same frozen content-hash
    * assignment as [[trainTestSplit]].
    *
    * Scale shape: grams reduce to 56-bit md5-word keys (8-byte shuffle
    * keys); test-side counts are partial-aggregated per (doc, gram)
    * BEFORE the join, the train vocabulary is a distinct partial agg,
    * and the join is one equi-join ∝ distinct colliding grams — never
    * |test| × |train|. Ratios are int/int → hash-oracled.
    */
  def lmNovelty(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TokenGrams.register(spark)
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100)
    val grams = Tables(spark, dir).documents
      .select(col("doc_id"),
        when(bucket < 90, "train").otherwise("test").as("split"),
        explode(call_function("graft_grams", col("text"), lit(2))).as("g"))
      .select(col("doc_id"), col("split"),
        conv(substring(md5(col("g")), 1, 14), 16, 10).cast("long").as("h"))
    val trainVocab = grams.filter(col("split") === "train")
      .select(col("h")).distinct().withColumn("seen", lit(1))
    val testCounts = grams.filter(col("split") === "test")
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
    testCounts.join(trainVocab, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_bigrams"),
        sum(when(col("seen").isNull, col("c")).otherwise(lit(0L))).cast("long").as("n_novel"))
      .withColumn("novelty_ratio",
        col("n_novel").cast("double") / col("n_bigrams").cast("double"))
      .orderBy("doc_id")
  }

  val lmNoveltySql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |sp AS (
      |  SELECT doc_id,
      |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90
      |         THEN 'train' ELSE 'test' END AS split
      |  FROM documents),
      |g AS (
      |  SELECT t.doc_id, sp.split,
      |    unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS g2
      |  FROM t JOIN sp ON t.doc_id = sp.doc_id),
      |h AS (SELECT doc_id, split, ('0x' || substr(md5(g2), 1, 14))::BIGINT AS h FROM g),
      |tr AS (SELECT DISTINCT h FROM h WHERE split = 'train'),
      |te AS (SELECT doc_id, h, count(*) AS c FROM h WHERE split = 'test' GROUP BY 1, 2)
      |SELECT te.doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_bigrams,
      |  CAST(sum(CASE WHEN tr.h IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(sum(CASE WHEN tr.h IS NULL THEN c ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(c) AS DOUBLE) AS novelty_ratio
      |FROM te LEFT JOIN tr ON te.h = tr.h
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val MaskPct = 15 // % of token positions masked

  /** Deterministic masked-LM example builder (BERT-style token
    * corruption): each token position is masked iff its content hash
    * (md5(doc_id ⊕ position)) falls under [[MaskPct]]% — so the SAME
    * document always yields the SAME training example, across reruns,
    * repartitions, and incremental rebuilds (the property random
    * masking destroys and a reproducible data pipeline needs; the
    * seed is the doc identity, epoch variation comes from salting the
    * hash input). Output: per-doc mask count/ratio + content hashes
    * of the corrupted input and the mask targets.
    *
    * Map-only, no shuffle; the per-token mask decision is one md5 per
    * position — inherently per-token work (the same cost class as
    * shingling), not an avoidable HOF-in-hot-loop.
    */
  def mlmMask(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    // one md5 per position: the boolean mask is materialized once and
    // both the corrupted input and the target list derive from it (a
    // maskAt call inside each lambda would hash every position twice —
    // HOF subtrees are not shared by subexpression elimination)
    val mask = col("mask")
    val masked = zip_with(toks, mask, (t, m) => when(m, "<X>").otherwise(t))
    val targets = filter(zip_with(toks, mask, (t, m) => when(m, t)),
      x => x.isNotNull)
    Tables(spark, dir).documents
      .withColumn("toks", normTokens(col("text")))
      .filter(size(toks) > 0)
      .withColumn("mask", transform(sequence(lit(0), size(toks) - 1), i =>
        (conv(substring(md5(concat(col("doc_id").cast("string"), lit("_"),
          i.cast("string"))), 1, 4), 16, 10).cast("int") % 100) < MaskPct))
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(targets).as("n_masked"),
        (size(targets).cast("double") / size(toks).cast("double")).as("mask_ratio"),
        md5(array_join(masked, " ")).as("input_md5"),
        md5(array_join(targets, " ")).as("targets_md5"))
      .orderBy("doc_id")
  }

  val mlmMaskSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, toks,
      |    [CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < $MaskPct
      |          THEN '<X>' ELSE toks[i] END for i in range(1, len(toks) + 1)] AS masked,
      |    [toks[i] for i in range(1, len(toks) + 1)
      |     if CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < $MaskPct] AS targets
      |  FROM t WHERE len(toks) > 0)
      |SELECT doc_id,
      |  CAST(len(toks) AS INTEGER) AS n_tokens,
      |  CAST(len(targets) AS INTEGER) AS n_masked,
      |  CAST(len(targets) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mask_ratio,
      |  md5(array_to_string(masked, ' ')) AS input_md5,
      |  -- array_to_string([]) is NULL in DuckDB but '' in Spark
      |  md5(coalesce(array_to_string(targets, ' '), '')) AS targets_md5
      |FROM m ORDER BY doc_id""".stripMargin

  /** Robust-winnowing fingerprints ([[graft.functions.WinnowedHashes]]
    * — the MOSS selection rule over the Rabin–Karp position hashes):
    * guarantees any verbatim match of ≥ K+W−1 bytes shares ≥1
    * fingerprint between the two documents, which mod-sampling
    * (`text_rollinghash_fp`) cannot promise. One map-side pass per
    * doc, no shuffle; the oracle re-derives every position hash
    * (O(n·K)) and replays the window-min/rightmost-tie selection
    * relationally — same (position, hash) set, the asymptotics the
    * fused expression exists to beat.
    */
  def winnowingFp(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.WinnowedHashes.register(spark)
    Tables(spark, dir).documents
      .select(col("doc_id"),
        call_function("graft_winnowed_hashes", col("text")).as("fps"))
      .filter(size(col("fps")) > 0)
      .select(col("doc_id"), size(col("fps")).as("n_fp"),
        array_join(
          transform(col("fps"), e => concat_ws(":",
            shiftrightunsigned(e, 31).cast("string"),
            e.bitwiseAND(lit(2147483647L)).cast("string"))), ",").as("fp_csv"))
      .orderBy("doc_id")
  }

  val winnowingFpSql: String = {
    import graft.functions.RollingHashes.{B, K, P}
    import graft.functions.WinnowedHashes.W
    s"""WITH pos AS (
      |  SELECT doc_id, unnest(range(1, strlen(text) - $K + 2)) AS i, text
      |  FROM documents WHERE strlen(text) >= $K),
      |h AS (
      |  SELECT doc_id, i,
      |    list_reduce([CAST(ord(c) AS BIGINT) for c in [substring(text, CAST(i + j AS INTEGER), 1) for j in range($K)]],
      |      (a, x) -> (a * $B + x) % $P) AS hv
      |  FROM pos),
      |m AS (SELECT doc_id, count(*) AS m FROM h GROUP BY 1),
      |wl AS (SELECT doc_id, m, least($W, m) AS L FROM m),
      |ws AS (SELECT doc_id, L, unnest(range(1, m - L + 2)) AS t FROM wl),
      |wmin AS (
      |  SELECT ws.doc_id, ws.t, ws.L, min(h.hv) AS mn
      |  FROM ws JOIN h ON h.doc_id = ws.doc_id AND h.i BETWEEN ws.t AND ws.t + ws.L - 1
      |  GROUP BY 1, 2, 3),
      |sel AS (
      |  SELECT w2.doc_id, max(h.i) AS pos, w2.mn AS hv
      |  FROM wmin w2 JOIN h ON h.doc_id = w2.doc_id AND h.hv = w2.mn
      |    AND h.i BETWEEN w2.t AND w2.t + w2.L - 1
      |  GROUP BY w2.doc_id, w2.t, w2.L, w2.mn),
      |fp AS (SELECT DISTINCT doc_id, pos, hv FROM sel)
      |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_fp,
      |  string_agg(CAST(pos AS VARCHAR) || ':' || CAST(hv AS VARCHAR), ',' ORDER BY pos) AS fp_csv
      |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private val ZipfTopK = 100

  /** Zipf rank–frequency profile of the corpus vocabulary: the top
    * 100 terms with rank, frequency, corpus share, and the rank×freq
    * product whose constancy IS Zipf's law — the vocabulary-health
    * check a tokenizer build runs before committing a vocab (a flat
    * product curve ⇒ natural text; a cliff ⇒ boilerplate or spam
    * flooding the corpus). Same normalized tokenization as the rest
    * of the text suite; shares are exact-integer divisions.
    *
    * Scale shape: explode → term-count partial agg (the vocabulary,
    * not the corpus, survives the shuffle), then one bounded-k
    * ordered take. The rank window runs on the top-k slice only.
    */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables(spark, dir).documents
      .select(explode(normTokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val tot = tf.agg(sum(col("freq")).as("total"))
    val w = Window.orderBy(col("freq").desc, col("term"))
    tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ZipfTopK)
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("term"), col("freq"),
        expr("CAST(freq AS DOUBLE) / CAST(total AS DOUBLE)").as("share"),
        expr("CAST(rank * freq AS DOUBLE) / CAST(total AS DOUBLE)").as("zipf_c"))
      .orderBy("rank")
  }

  val zipfProfileSql: String =
    s"""WITH ex AS (
      |  SELECT unnest(list_filter(string_split_regex(
      |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
      |    x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT term, count(*) AS freq FROM ex GROUP BY 1),
      |t AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM tf),
      |r AS (
      |  SELECT term, freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
      |  FROM tf QUALIFY rank <= $ZipfTopK)
      |SELECT CAST(rank AS INTEGER) AS rank, term, freq,
      |  CAST(freq AS DOUBLE) / CAST(total AS DOUBLE) AS share,
      |  CAST(rank * freq AS DOUBLE) / CAST(total AS DOUBLE) AS zipf_c
      |FROM r, t ORDER BY rank""".stripMargin

  // --------------------------------------------------- token_entropy_by_source

  /** Per-source unigram entropy and KL divergence against the corpus
    * LM — "how idiosyncratic is each feed": entropy reads lexical
    * diversity on the source's own distribution, KL(src ‖ corpus)
    * reads how far the source's token mix sits from the blend the
    * model will actually train on (the corpus-mix rebalancer's
    * ranking signal). Both were out of reach before the engine-exact
    * [[graft.functions.ExactLn]]; `zipf_profile` (rank-frequency
    * slope) and `hapax_ratio` (singleton share) profile different
    * axes. Every word in a source exists in the corpus, so the KL
    * denominator needs no smoothing; per-term contributions reduce
    * order-independently via the round-to-decimal sum.
    *
    * Scale shape: the token stream partial-aggregates to (source,
    * word) cells map-side — VOCABULARY survives the shuffle, the
    * token stream doesn't; the corpus-marginal join is vocab-keyed;
    * ln arguments p ≥ 1/n_tot stay in domain through 2⁴⁰ tokens.
    */
  def tokenEntropyBySource(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val tok = Tables(spark, dir).documents
      .select(col("source"), explode(normTokens(col("text"))).as("w"))
    val perSW = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
    val perW = perSW.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val tot = perW.agg(sum(col("c_w")).as("n_tot"))
    perSW.join(perW, Seq("w"))
      .withColumn("n_s", sum(col("c_sw")).over(Window.partitionBy("source")))
      .crossJoin(broadcast(tot))
      .withColumn("p_src", expr("CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE)"))
      .withColumn("p_cor", expr("CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE)"))
      .withColumn("__ys", expr(ExactLn.yExpr("p_src")))
      .withColumn("__zs", expr(ExactLn.zExpr("__ys")))
      .withColumn("__yc", expr(ExactLn.yExpr("p_cor")))
      .withColumn("__zc", expr(ExactLn.zExpr("__yc")))
      .withColumn("ent_t", expr(s"-(p_src * ${ExactLn.lnExpr("__zs")})"))
      .withColumn("crs_t", expr(s"-(p_src * ${ExactLn.lnExpr("__zc")})"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(expr("CAST(round(ent_t, 9) AS DECIMAL(18,9))")).as("hd"),
        sum(expr("CAST(round(crs_t, 9) AS DECIMAL(18,9))")).as("cd"))
      .selectExpr("source",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(vocab_size AS BIGINT) AS vocab_size",
        "CAST(hd AS DOUBLE) AS entropy_nats",
        "CAST(cd AS DOUBLE) AS cross_entropy_nats",
        "CAST(cd AS DOUBLE) - CAST(hd AS DOUBLE) AS kl_nats")
      .orderBy("source")
  }

  val tokenEntropyBySourceSql: String = {
    import graft.functions.ExactLn
    s"""WITH ex AS (
       |  SELECT source, unnest(list_filter(string_split_regex(
       |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
       |    x -> len(x) > 0)) AS w
       |  FROM documents),
       |psw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw FROM ex GROUP BY 1, 2),
       |pw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM psw GROUP BY 1),
       |tt AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tot FROM pw),
       |j AS (
       |  SELECT psw.*, pw.c_w, n_tot,
       |    sum(c_sw) OVER (PARTITION BY source) AS n_s
       |  FROM psw JOIN pw USING (w), tt),
       |p AS (SELECT *,
       |    CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE) AS p_src,
       |    CAST(c_w AS DOUBLE) / CAST(n_tot AS DOUBLE) AS p_cor
       |  FROM j),
       |y AS (SELECT *, ${ExactLn.yExpr("p_src")} AS __ys, ${ExactLn.yExpr("p_cor")} AS __yc FROM p),
       |z AS (SELECT *, ${ExactLn.zExpr("__ys")} AS __zs, ${ExactLn.zExpr("__yc")} AS __zc FROM y),
       |x AS (SELECT *,
       |    -(p_src * ${ExactLn.lnExpr("__zs")}) AS ent_t,
       |    -(p_src * ${ExactLn.lnExpr("__zc")}) AS crs_t
       |  FROM z),
       |g AS (
       |  SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS vocab_size,
       |    sum(CAST(round(ent_t, 9) AS DECIMAL(18,9))) AS hd,
       |    sum(CAST(round(crs_t, 9) AS DECIMAL(18,9))) AS cd
       |  FROM x GROUP BY 1)
       |SELECT source, n_tokens, vocab_size,
       |  CAST(hd AS DOUBLE) AS entropy_nats,
       |  CAST(cd AS DOUBLE) AS cross_entropy_nats,
       |  CAST(cd AS DOUBLE) - CAST(hd AS DOUBLE) AS kl_nats
       |FROM g ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------- dup_rate_by_source

  /** Duplicate share per corpus source (exact md5 identity): the
    * curation KPI that decides which source needs the dedup budget —
    * `dedup_exact` finds the duplicates, this scores the FEEDS. One
    * pass, exact integer share.
    *
    * Scale shape: md5 reduces each doc to a 16-byte key map-side;
    * count-distinct partial-aggregates per source (at 100 TB:
    * approx_count_distinct and the HLL rollup family when exactness
    * can be traded).
    */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        expr("CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE)").as("dup_share"))
      .orderBy("source")

  val dupRateBySourceSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
      |  CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS dup_share
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------- term_cooccur_lift

  private val CooccurVocab = 50

  /** Term co-occurrence lift over the top-[[CooccurVocab]] vocabulary
    * (by doc frequency, term tiebreak): for every vocab pair, lift =
    * n_ab·N / (df_a·df_b) — `basket_lift`'s machinery on DOCUMENT
    * term sets, the collocation/topic-seed signal a corpus pipeline
    * extracts (log-free PMI surrogate: same ranking, exact-integer
    * single-divide score).
    *
    * Scale shape: per-doc distinct terms partial-aggregate to df; the
    * vocab cut broadcasts (50 rows); the pair explode is bounded by
    * Σ (vocab terms per doc)² ≤ 50² per doc — never raw-token
    * quadratic. df marginals broadcast back onto ≤1225 pair rows.
    */
  def termCooccurLift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // distinct (doc, term) IS the key set of the session-shared
    // (doc, term, tf) frequency frame (round 19): consuming it drops
    // the 3-4 independent corpus tokenizations this query ran (dfreq
    // pass + both sides of the vt self-join) — explode(array_distinct)
    // and the (doc, term) groupBy key set are the same set by
    // construction
    val terms = termFreqFrame(spark, dir).select(col("doc_id"), col("term"))
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vocab = dfreq.orderBy(col("df").desc, col("term")).limit(CooccurVocab)
    val vt = terms.join(broadcast(vocab), "term") // term, doc_id, df
    val n = docs.agg(count(lit(1)).as("__n"))
    val pairs = vt.select(col("doc_id"), col("term").as("t1"), col("df").as("df_a"))
      .join(vt.select(col("doc_id"), col("term").as("t2"), col("df").as("df_b")), "doc_id")
      .filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"), col("df_a"), col("df_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs.crossJoin(broadcast(n))
      .select(col("t1"), col("t2"), col("n_ab"), col("df_a"), col("df_b"),
        expr("CAST(n_ab * __n AS DOUBLE) / CAST(df_a * df_b AS DOUBLE)").as("lift"))
      .orderBy(col("lift").desc, col("t1"), col("t2"))
  }

  val termCooccurLiftSql: String =
    s"""WITH toks AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_distinct(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0)) AS t
      |  FROM documents),
      |terms AS MATERIALIZED (SELECT doc_id, unnest(t) AS term FROM toks),
      |dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY 1),
      |vocab AS MATERIALIZED (
      |  SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT $CooccurVocab),
      |n AS (SELECT count(*) AS __n FROM documents),
      |vt AS MATERIALIZED (
      |  SELECT doc_id, terms.term, df FROM terms JOIN vocab USING (term)),
      |pairs AS (
      |  SELECT a.term AS t1, b.term AS t2, a.df AS df_a, b.df AS df_b,
      |    count(*) AS n_ab
      |  FROM vt a JOIN vt b USING (doc_id)
      |  WHERE a.term < b.term
      |  GROUP BY 1, 2, 3, 4)
      |SELECT t1, t2, CAST(n_ab AS BIGINT) AS n_ab,
      |  CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
      |  CAST(n_ab * __n AS DOUBLE) / CAST(df_a * df_b AS DOUBLE) AS lift
      |FROM pairs, n
      |ORDER BY lift DESC, t1, t2""".stripMargin

  // ------------------------------------------------------------ lang_mix_by_source

  /** Language mix per corpus feed: `text_langid`'s per-doc verdicts
    * rolled up to (source, predicted language) with within-source
    * share — the composition check a multilingual training-mix spec
    * is written against (feed X claims German; its predicted mix
    * says otherwise). Counts exact; share one division.
    *
    * Scale shape: the langid scoring is map-only; the rollup frame is
    * ≤ sources×languages.
    */
  def langMixBySource(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir).documents.select(col("doc_id"), col("source"))
    val mixed = textLangId(spark, dir).select(col("doc_id"), col("pred_lang"))
      .join(src, "doc_id")
      .groupBy(col("source"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    mixed
      .withColumn("source_total", sum(col("n_docs")).over(
        Window.partitionBy("source")))
      .select(col("source"), col("pred_lang"), col("n_docs"),
        expr("CAST(n_docs AS DOUBLE) / CAST(source_total AS DOUBLE)").as("share"))
      .orderBy("source", "pred_lang")
  }

  lazy val langMixBySourceSql: String =
    s"""WITH lid AS ($textLangIdSql),
       |m AS (
       |  SELECT d.source, lid.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM lid JOIN documents d ON d.doc_id = lid.doc_id
       |  GROUP BY 1, 2)
       |SELECT source, pred_lang, n_docs,
       |  CAST(n_docs AS DOUBLE)
       |    / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE) AS share
       |FROM m
       |ORDER BY source, pred_lang""".stripMargin

  // ---------------------------------------------------------------- hapax_ratio

  /** Per-source hapax legomena profile: vocabulary size, number of
    * terms occurring exactly once, and the hapax ratio — the
    * lexical-diversity fingerprint that separates template/boilerplate
    * sources (tiny hapax tail) from organic text (Zipf predicts ~50%
    * hapax; pair with `zipf_profile`, which fits the head — this
    * measures the tail). Tokenization is the whitespace convention
    * (`text_tokencount`). All counts exact; the ratio is one int/int
    * division.
    *
    * Scale shape: explode → two-level aggregate, all equi-shuffles on
    * (source, term) then source. The term-grain partial agg combines
    * map-side, so the shuffle carries the per-source vocabulary, not
    * the token stream — the Zipf head is the only heavy key and it
    * combines first.
    */
  def hapaxRatio(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables(spark, dir).documents
      .select(col("source"), explode(filter(split(col("text"), " +"),
        t => length(t) > 0)).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    terms.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("hapax_count"),
        sum(col("tf")).as("n_tokens"))
      .select(col("source"), col("vocab_size"), col("hapax_count"), col("n_tokens"),
        expr("CAST(hapax_count AS DOUBLE) / CAST(vocab_size AS DOUBLE)").as("hapax_ratio"))
      .orderBy("source")
  }

  val hapaxRatioSql: String =
    """WITH terms AS (
      |  SELECT source, term, count(*) AS tf
      |  FROM (
      |    SELECT source, unnest(list_filter(string_split_regex(text, ' +'),
      |      x -> len(x) > 0)) AS term
      |    FROM documents)
      |  GROUP BY source, term)
      |SELECT source, CAST(count(*) AS BIGINT) AS vocab_size,
      |  CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
      |  CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS hapax_ratio
      |FROM terms GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------- langid_confusion

  /** Confusion matrix of the n-gram language detector against the
    * corpus's labeled language — the eval every curation pipeline
    * runs before TRUSTING `text_langid` to route documents (its
    * per-doc scores say what was predicted; this says where the
    * detector is wrong, per true language). Cells carry the count,
    * the per-labeled-language share (row-normalized recall), and the
    * overall accuracy repeated per row — all integer counts and two
    * shared-text double divisions.
    *
    * Scale shape: the detector is map-only; the matrix is a ≤langs²
    * aggregate with windows over that tiny frame. Eval cost never
    * scales past the label cardinality after the first shuffle.
    */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val p = textLangId(spark, dir).select(col("labeled_lang"), col("pred_lang"))
    val cells = p.groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_labeled",
        sum(col("n")).over(Window.partitionBy("labeled_lang")))
      .withColumn("n_total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("n_correct",
        sum(when(col("labeled_lang") === col("pred_lang"), col("n"))
          .otherwise(0L)).over(Window.partitionBy()))
      .select(col("labeled_lang"), col("pred_lang"), col("n"),
        expr("CAST(n AS DOUBLE) / CAST(n_labeled AS DOUBLE)").as("row_share"),
        expr("CAST(n_correct AS DOUBLE) / CAST(n_total AS DOUBLE)").as("overall_accuracy"))
      .orderBy("labeled_lang", "pred_lang")
  }

  lazy val langidConfusionSql: String =
    s"""WITH pred AS ($textLangIdSql),
       |cells AS (
       |  SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2),
       |t AS (
       |  SELECT *,
       |    sum(n) OVER (PARTITION BY labeled_lang) AS n_labeled,
       |    sum(n) OVER () AS n_total,
       |    sum(CASE WHEN labeled_lang = pred_lang THEN n ELSE 0 END) OVER () AS n_correct
       |  FROM cells)
       |SELECT labeled_lang, pred_lang, n,
       |  CAST(n AS DOUBLE) / CAST(n_labeled AS DOUBLE) AS row_share,
       |  CAST(n_correct AS DOUBLE) / CAST(n_total AS DOUBLE) AS overall_accuracy
       |FROM t ORDER BY labeled_lang, pred_lang""".stripMargin

  // ------------------------------------------------------------ cohens_kappa

  /** Cohen's κ for the language router against the labeled language —
    * the chance-corrected agreement score `langid_confusion`'s raw
    * accuracy overstates: a router that always answers the majority
    * language scores high accuracy but κ ≈ 0. p₀ = Σdiag/N is one
    * exact division; pₑ = Σ_g (row_g·col_g)/N² sums per-language
    * products of sub-2⁵³ double casts with the order-independent
    * round-to-decimal reduction (bounded ≤ 1, 9 dp); κ = (p₀−pₑ)/(1−pₑ)
    * is pure IEEE on both engines.
    *
    * Scale shape: rides the langid confusion cells (≤ langs² rows);
    * everything beyond the one corpus scan is bounded-cardinality.
    */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val pred = textLangId(spark, dir)
      .select(col("labeled_lang"), col("pred_lang"))
    val cells = pred.groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.agg(sum(col("n")).as("nn"),
      sum(when(col("labeled_lang") === col("pred_lang"), col("n"))
        .otherwise(0L)).as("diag"))
    // pe marginals via a FULL OUTER join on language — a language the
    // router never gets right still contributes row_g·col_g (building
    // pe from diagonal cells alone would silently drop it)
    val rows = cells.groupBy(col("labeled_lang").as("lang")).agg(sum(col("n")).as("r"))
    val cols = cells.groupBy(col("pred_lang").as("lang")).agg(sum(col("n")).as("c"))
    val marg = rows.join(cols, Seq("lang"), "full_outer")
      .select(coalesce(col("r"), lit(0L)).as("r"),
        coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(totals))
      .withColumn("pe_term", expr(
        "(CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))"))
    marg.agg(
        max(col("nn")).as("n_docs"),
        max(col("diag")).as("n_agree"),
        sum(expr("CAST(round(pe_term, 9) AS DECIMAL(18,9))")).as("ped"))
      .selectExpr(
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_agree AS BIGINT) AS n_agree",
        "CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po",
        "CAST(ped AS DOUBLE) AS pe",
        "(CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE) - CAST(ped AS DOUBLE))" +
          " / (1.0 - CAST(ped AS DOUBLE)) AS kappa")
  }

  lazy val cohensKappaSql: String =
    s"""WITH pred AS ($textLangIdSql),
       |cells AS (
       |  SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2),
       |tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS nn,
       |    CAST(sum(CASE WHEN labeled_lang = pred_lang THEN n ELSE 0 END) AS BIGINT) AS diag
       |  FROM cells),
       |rw AS (SELECT labeled_lang AS lang, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1),
       |cl AS (SELECT pred_lang AS lang, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY 1),
       |marg AS (
       |  SELECT coalesce(r, 0) AS r, coalesce(c, 0) AS c, nn, diag
       |  FROM rw FULL OUTER JOIN cl USING (lang), tot),
       |p AS (
       |  SELECT *,
       |    (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS pe_term
       |  FROM marg),
       |a AS (
       |  SELECT CAST(max(nn) AS BIGINT) AS n_docs,
       |    CAST(max(diag) AS BIGINT) AS n_agree,
       |    sum(CAST(round(pe_term, 9) AS DECIMAL(18,9))) AS ped
       |  FROM p)
       |SELECT n_docs, n_agree,
       |  CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
       |  CAST(ped AS DOUBLE) AS pe,
       |  (CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE) - CAST(ped AS DOUBLE))
       |    / (1.0 - CAST(ped AS DOUBLE)) AS kappa
       |FROM a""".stripMargin

  // -------------------------------------------------------- tokenizer_fertility

  /** Tokenizer fertility (chars per token) by language and source —
    * the budgeting number BPE planning reads: a language whose
    * fertility is high under the current tokenization burns more
    * context window per character, and a source whose fertility
    * deviates from its language's norm is markup- or noise-heavy.
    * Tokens are the `text_tokencount` BPE-ish regex on lowered text;
    * chars are raw lengths — totals are exact integers, fertility is
    * one shared-text double division.
    *
    * Scale shape: map-only token/char counts, one partial-agg pass
    * to the (lang, source) grain — nothing document-sized shuffles.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(regexp_extract_all(lower(col("text")),
      lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))
    Tables(spark, dir).documents
      .select(col("lang"), col("source"), length(col("text")).as("chars"),
        toks.as("toks"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars").cast("long")).as("total_chars"),
        sum(col("toks").cast("long")).as("total_tokens"))
      .withColumn("fertility",
        expr("CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE)"))
      .orderBy("lang", "source")
  }

  val tokenizerFertilitySql: String =
    """WITH t AS (
      |  SELECT lang, source, CAST(length(text) AS BIGINT) AS chars,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS toks
      |  FROM documents)
      |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(chars) AS BIGINT) AS total_chars,
      |  CAST(sum(toks) AS BIGINT) AS total_tokens,
      |  CAST(sum(chars) AS DOUBLE) / CAST(sum(toks) AS DOUBLE) AS fertility
      |FROM t GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------- token_window_histogram

  /** Context-window packing histogram: documents bucketed by BPE-ish
    * token count into power-of-two context classes (≤16 … >512),
    * with per-bucket doc counts, token mass, and CUMULATIVE doc
    * share — the planning table `sequence_pack` consumes (what share
    * of the corpus fits a 512 window, how much token mass the long
    * tail carries). Bucket edges are integer comparisons in one
    * shared CASE ladder; shares are single double divisions; the
    * cumulative sum runs over the ≤8-row bucket frame.
    *
    * Scale shape: map-only token counts, one partial-agg pass to the
    * bucket grain, windows over ≤8 rows. Nothing document-sized
    * shuffles.
    */
  def tokenWindowHistogram(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(regexp_extract_all(lower(col("text")),
      lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")
    val bucketCase =
      "CASE WHEN t <= 16 THEN 16 WHEN t <= 32 THEN 32 " +
        "WHEN t <= 64 THEN 64 WHEN t <= 128 THEN 128 " +
        "WHEN t <= 256 THEN 256 WHEN t <= 512 THEN 512 ELSE 1024 END"
    val d = Tables(spark, dir).documents.select(toks.as("t"))
      .select(col("t"), expr(bucketCase).as("window_bucket"))
    val b = d.groupBy(col("window_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("total_tokens"))
    val w = Window.orderBy("window_bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("all_docs", sum(col("n_docs")).over(Window.partitionBy()))
      .select(col("window_bucket").cast("int").as("window_bucket"),
        col("n_docs"), col("total_tokens"),
        expr("CAST(cum_docs AS DOUBLE) / CAST(all_docs AS DOUBLE)").as("cum_doc_share"))
      .orderBy("window_bucket")
  }

  val tokenWindowHistogramSql: String =
    """WITH d AS (
      |  SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS t
      |  FROM documents),
      |x AS (
      |  SELECT t,
      |    CASE WHEN t <= 16 THEN 16 WHEN t <= 32 THEN 32
      |         WHEN t <= 64 THEN 64 WHEN t <= 128 THEN 128
      |         WHEN t <= 256 THEN 256 WHEN t <= 512 THEN 512 ELSE 1024 END AS window_bucket
      |  FROM d),
      |b AS (
      |  SELECT window_bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(t) AS BIGINT) AS total_tokens
      |  FROM x GROUP BY 1)
      |SELECT CAST(window_bucket AS INTEGER) AS window_bucket, n_docs, total_tokens,
      |  CAST(sum(n_docs) OVER (ORDER BY window_bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(sum(n_docs) OVER () AS DOUBLE) AS cum_doc_share
      |FROM b ORDER BY window_bucket""".stripMargin

  // --------------------------------------------------- training_shard_manifest

  private val NumShards = 8

  /** Training-shard manifest: every document deterministically
    * assigned to one of [[NumShards]] shards by md5(doc_id) — the
    * dataset-prep step that writes the shard listing a training job
    * consumes — with the balance audit per shard (doc count, token
    * mass, share of tokens, doc-id range). Hash sharding beats
    * range sharding here because adjacent doc ids are crawl
    * neighbors (same feed, correlated length); the manifest IS the
    * evidence the shards came out balanced. All counts exact; one
    * share division.
    *
    * Scale shape: map-only hash + token count, one partial-agg pass
    * to the [[NumShards]]-row manifest.
    */
  def trainingShardManifest(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(regexp_extract_all(lower(col("text")),
      lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), toks.as("t"),
        expr(s"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % $NumShards")
          .as("shard"))
    val b = d.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("total_tokens"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
    b.withColumn("all_tokens",
        sum(col("total_tokens")).over(Window.partitionBy()))
      .select(col("shard").cast("int").as("shard"), col("n_docs"),
        col("total_tokens"), col("min_doc_id"), col("max_doc_id"),
        expr("CAST(total_tokens AS DOUBLE) / CAST(all_tokens AS DOUBLE)")
          .as("token_share"))
      .orderBy("shard")
  }

  val trainingShardManifestSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS t,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $NumShards AS shard
       |  FROM documents),
       |b AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(t) AS BIGINT) AS total_tokens,
       |    min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
       |  FROM d GROUP BY 1)
       |SELECT CAST(shard AS INTEGER) AS shard, n_docs, total_tokens,
       |  min_doc_id, max_doc_id,
       |  CAST(total_tokens AS DOUBLE) / CAST(sum(total_tokens) OVER () AS DOUBLE) AS token_share
       |FROM b ORDER BY shard""".stripMargin

  // ---------------------------------------------------- vocab_coverage_topk

  private val CoverageKs = Seq(10, 100, 1000)

  /** Vocabulary coverage curve: the share of all token OCCURRENCES
    * covered by the top-10/100/1000 most frequent types — the number
    * a tokenizer-vocabulary budget is sized against (`zipf_profile`
    * shows the head's shape; this integrates it into the cumulative
    * share a vocab of size k buys, and `bpe_merge_topk` then spends
    * that budget). Frequencies and cumulative covered counts are
    * exact integers; each k's coverage is one conditional sum off the
    * SAME ranked frame (no per-k pass), and the share is a single
    * exact division.
    *
    * Scale shape: one explode + term-grain partial agg (the tf
    * shuffle every term op shares), a global rank over the
    * VOCABULARY-bounded frame (≪ corpus; Heaps' law keeps it
    * sublinear), then ONE row of conditional sums stacked to 3.
    */
  def vocabCoverageTopk(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables(spark, dir).documents
      .select(explode(normTokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val ranked = tf.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("term"))))
    val aggs = Seq(count(lit(1)).as("vocab"), sum(col("freq")).as("total")) ++
      CoverageKs.map(k =>
        sum(when(col("rank") <= k, col("freq")).otherwise(0L)).as(s"c_$k"))
    val stackArgs = CoverageKs.map(k => s"$k, c_$k").mkString(", ")
    ranked.agg(aggs.head, aggs.tail: _*)
      .selectExpr("vocab", "total",
        s"stack(${CoverageKs.size}, $stackArgs) AS (top_k, covered)")
      .selectExpr("CAST(top_k AS INTEGER) AS top_k",
        "CAST(vocab AS BIGINT) AS vocab_size",
        "CAST(total AS BIGINT) AS total_tokens",
        "CAST(covered AS BIGINT) AS covered_tokens",
        "CAST(covered AS DOUBLE) / CAST(total AS DOUBLE) AS coverage")
      .orderBy("top_k")
  }

  val vocabCoverageTopkSql: String = {
    val sums = CoverageKs.map(k =>
      s"CAST(sum(CASE WHEN rank <= $k THEN freq ELSE 0 END) AS BIGINT) AS c_$k")
    val arms = CoverageKs.map(k =>
      s"SELECT vocab, total, $k AS top_k, c_$k AS covered FROM a")
      .mkString("\n  UNION ALL ")
    s"""WITH ex AS (
       |  SELECT unnest(list_filter(string_split_regex(
       |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
       |    x -> len(x) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT term, count(*) AS freq FROM ex GROUP BY 1),
       |r AS (
       |  SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
       |  FROM tf),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS vocab, CAST(sum(freq) AS BIGINT) AS total,
       |    ${sums.mkString(",\n    ")}
       |  FROM r),
       |s AS (
       |  $arms)
       |SELECT CAST(top_k AS INTEGER) AS top_k, vocab AS vocab_size,
       |  total AS total_tokens, covered AS covered_tokens,
       |  CAST(covered AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
       |FROM s ORDER BY top_k""".stripMargin
  }

  // ------------------------------------------------- quality_pass_by_source

  /** The quality gate rolled to FEED grain: per source, docs kept vs
    * rejected by first-failing reason (the `quality_filter` audit
    * trail aggregated to the table a feed owner is actually shown) —
    * pass rate plus per-reason counts as columns, so one row per
    * source reads as a scorecard. A feed whose pass rate sags or
    * whose dominant reason flips (length → repetition) changed
    * upstream; paired with `term_drift_by_source` (what shifted) and
    * `dup_rate_by_source` (how much is copies). Pure integer counts
    * + exact divisions.
    *
    * Scale shape: the per-doc classification is `quality_filter`'s
    * map-only pass; one source-grain partial agg after a doc-grain
    * source join — both corpus-linear, no new shuffle grain.
    */
  def qualityPassBySource(spark: SparkSession, dir: String): DataFrame = {
    val cls = qualityFilter(spark, dir)
      .select(col("doc_id"), col("reject_reason"))
    val src = Tables(spark, dir).documents.select(col("doc_id"), col("source"))
    cls.join(src, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("reject_reason") === "ok", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("reject_reason") === "too_short", 1L).otherwise(0L)).as("n_too_short"),
        sum(when(col("reject_reason") === "repetitive", 1L).otherwise(0L)).as("n_repetitive"),
        sum(when(col("reject_reason") === "low_stopword", 1L).otherwise(0L)).as("n_low_stopword"))
      .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_kept AS BIGINT) AS n_kept",
        "CAST(n_too_short AS BIGINT) AS n_too_short",
        "CAST(n_repetitive AS BIGINT) AS n_repetitive",
        "CAST(n_low_stopword AS BIGINT) AS n_low_stopword",
        "CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pass_rate")
      .orderBy("source")
  }

  lazy val qualityPassBySourceSql: String =
    s"""WITH qf AS ($qualityFilterSql)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN reject_reason = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN reject_reason = 'too_short' THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
       |  CAST(sum(CASE WHEN reject_reason = 'repetitive' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       |  CAST(sum(CASE WHEN reject_reason = 'low_stopword' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_stopword,
       |  CAST(sum(CASE WHEN reject_reason = 'ok' THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS pass_rate
       |FROM qf JOIN documents d ON d.doc_id = qf.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // --------------------------------------------------- term_drift_by_source

  private val DriftTopTerms = 50

  /** Per-source term-distribution drift vs the corpus: total-variation
    * distance over the global top-[[DriftTopTerms]] terms plus an
    * "everything else" bucket — the LOG-FREE feed-composition monitor
    * (KL would need ln; TV is ½Σ|p−q| and stays exact — the
    * `tv_distance_drift` reasoning applied at TERM grain). A source
    * whose term mix walks away from the corpus is the early sign of
    * a template flood, a language shift, or a scraper change —
    * caught BEFORE it shifts `lang_mix_by_source` or `zipf_profile`.
    * Every |p_s(t) − p(t)| clears denominators to
    * |c_s·N − C·n_s| / (2·n_s·N): exact integer cross-products, ONE
    * double division per source.
    *
    * Scale shape: the tf build is the shared term-grain shuffle; the
    * top-k head is vocabulary-bounded; the drift grid is sources ×
    * (k+1) — domain-bounded at any corpus size.
    */
  def termDriftBySource(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("source"), explode(normTokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("cg"))
    val top = tf.withColumn("rn",
        row_number().over(Window.orderBy(col("cg").desc, col("term"))))
      .filter(col("rn") <= DriftTopTerms).select(col("term"), col("cg"))
    val nTot = tf.agg(sum(col("cg")).as("n_g"))
    val srcTot = toks.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val st = toks.join(broadcast(top.select(col("term"))), "term")
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cs0"))
    val grid = srcTot.crossJoin(broadcast(top))
      .join(st, Seq("source", "term"), "left")
      .withColumn("cs", coalesce(col("cs0"), lit(0L)))
    // cross-products widen to DECIMAL(38,0) (the cross_price_elasticity
    // overflow ledger, ADVICE r12): past 2^63 plain BIGINT would WRAP
    // silently in Spark while DuckDB raises — the engines would
    // diverge instead of drifting ≤1 ulp in the final double
    val agg = grid.crossJoin(broadcast(nTot))
      .withColumn("num", abs(expr(
        "CAST(CAST(cs AS DECIMAL(38,0)) * n_g - CAST(cg AS DECIMAL(38,0)) * n_s AS DECIMAL(38,0))")))
      .groupBy(col("source"), col("n_s"), col("n_g"))
      .agg(sum(col("num")).as("sum_top"),
        sum(col("cs")).as("cs_top"), sum(col("cg")).as("cg_top"))
    agg
      .withColumn("oth_num", abs(expr(
        "CAST(CAST(n_s - cs_top AS DECIMAL(38,0)) * n_g - CAST(n_g - cg_top AS DECIMAL(38,0)) * n_s AS DECIMAL(38,0))")))
      .selectExpr("source", "CAST(n_s AS BIGINT) AS n_tokens",
        "CAST(sum_top + oth_num AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(n_s AS DOUBLE) * CAST(n_g AS DOUBLE)) AS tv_distance")
      .orderBy("source")
  }

  val termDriftBySourceSql: String =
    s"""WITH ex AS (
       |  SELECT source, unnest(list_filter(string_split_regex(
       |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
       |    x -> len(x) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS cg FROM ex GROUP BY 1),
       |top AS (
       |  SELECT term, cg FROM (
       |    SELECT *, row_number() OVER (ORDER BY cg DESC, term) AS rn FROM tf) r0
       |  WHERE rn <= $DriftTopTerms),
       |ng AS (SELECT CAST(sum(cg) AS BIGINT) AS n_g FROM tf),
       |stot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM ex GROUP BY 1),
       |st AS (
       |  SELECT source, ex.term, CAST(count(*) AS BIGINT) AS cs
       |  FROM ex JOIN top ON top.term = ex.term GROUP BY 1, 2),
       |grid AS (
       |  SELECT s.source, s.n_s, t.term, t.cg, coalesce(st.cs, 0) AS cs
       |  FROM stot s CROSS JOIN top t
       |  LEFT JOIN st ON st.source = s.source AND st.term = t.term),
       |agg AS (
       |  SELECT source, n_s, any_value(n_g) AS n_g,
       |    sum(abs(CAST(CAST(cs AS DECIMAL(38,0)) * n_g - CAST(cg AS DECIMAL(38,0)) * n_s AS DECIMAL(38,0)))) AS sum_top,
       |    CAST(sum(cs) AS BIGINT) AS cs_top, CAST(sum(cg) AS BIGINT) AS cg_top
       |  FROM grid, ng GROUP BY 1, 2)
       |SELECT source, n_s AS n_tokens,
       |  CAST(sum_top + abs(CAST(CAST(n_s - cs_top AS DECIMAL(38,0)) * n_g - CAST(n_g - cg_top AS DECIMAL(38,0)) * n_s AS DECIMAL(38,0))) AS DOUBLE)
       |    / (CAST(2 AS DOUBLE) * CAST(n_s AS DOUBLE) * CAST(n_g AS DOUBLE)) AS tv_distance
       |FROM agg ORDER BY source""".stripMargin

  // ------------------------------------------------------- heaps_law_curve

  private val HeapsQuarters = 1 to 4

  /** Heaps'-law vocabulary growth: distinct-type and token counts at
    * the 25/50/75/100% corpus prefixes (by doc id — the generator's
    * arrival order), the curve that predicts how much NEW vocabulary
    * the next billion tokens will add (sizing unknown-token risk and
    * vocab budgets before a 100 TB crawl is committed). The key
    * observation making this ONE pass instead of four: vocab(prefix)
    * = #{terms whose FIRST document falls inside the prefix}, so a
    * single term-grain min(doc_id) aggregate answers every
    * checkpoint via conditional sums — no per-checkpoint distinct.
    * Prefix membership tests are exact integer cross-products
    * (doc·4 < q·n_docs — no division anywhere).
    *
    * Scale shape: one explode + term-grain min partial-agg (the tf
    * shuffle), one doc-grain token-count partial-agg, each reduced to
    * a single conditional-sum row — joined as two 1-row frames and
    * stacked to 4.
    */
  def heapsLawCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val toks = docs.select(col("doc_id"), explode(normTokens(col("text"))).as("term"))
    val nd = docs.agg((max(col("doc_id")) + 1).as("nd"))
    val fd = toks.groupBy(col("term")).agg(min(col("doc_id")).as("fdoc"))
    val vAggs = HeapsQuarters.map(q =>
      sum(when(col("fdoc") * 4 < col("nd") * q, 1L).otherwise(0L)).as(s"v_$q"))
    val vrow = fd.crossJoin(broadcast(nd)).agg(vAggs.head, vAggs.tail: _*)
    val tc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("tc"))
    val tAggs = HeapsQuarters.flatMap(q =>
      Seq(sum(when(col("doc_id") * 4 < col("nd") * q, col("tc")).otherwise(0L)).as(s"t_$q"),
        sum(when(col("doc_id") * 4 < col("nd") * q, 1L).otherwise(0L)).as(s"d_$q")))
    val trow = tc.crossJoin(broadcast(nd)).agg(tAggs.head, tAggs.tail: _*)
    val stackArgs = HeapsQuarters.map(q => s"$q, d_$q, t_$q, v_$q").mkString(", ")
    vrow.crossJoin(trow)
      .selectExpr(s"stack(${HeapsQuarters.size}, $stackArgs) AS (quartile, n_docs, n_tokens, vocab_size)")
      .selectExpr("CAST(quartile AS INTEGER) AS quartile",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(vocab_size AS BIGINT) AS vocab_size",
        "CAST(vocab_size AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio")
      .orderBy("quartile")
  }

  val heapsLawCurveSql: String = {
    val vSums = HeapsQuarters.map(q =>
      s"CAST(sum(CASE WHEN fdoc * 4 < nd * $q THEN 1 ELSE 0 END) AS BIGINT) AS v_$q")
    val tSums = HeapsQuarters.flatMap(q =>
      Seq(s"CAST(sum(CASE WHEN doc_id * 4 < nd * $q THEN tc ELSE 0 END) AS BIGINT) AS t_$q",
        s"CAST(sum(CASE WHEN doc_id * 4 < nd * $q THEN 1 ELSE 0 END) AS BIGINT) AS d_$q"))
    val arms = HeapsQuarters.map(q =>
      s"SELECT $q AS quartile, d_$q AS n_docs, t_$q AS n_tokens, v_$q AS vocab_size FROM vrow, trow")
      .mkString("\n  UNION ALL ")
    s"""WITH ex AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(
       |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
       |    x -> len(x) > 0)) AS term
       |  FROM documents),
       |nd AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS nd FROM documents),
       |fd AS (SELECT term, CAST(min(doc_id) AS BIGINT) AS fdoc FROM ex GROUP BY 1),
       |vrow AS (
       |  SELECT
       |    ${vSums.mkString(",\n    ")}
       |  FROM fd, nd),
       |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tc FROM ex GROUP BY 1),
       |trow AS (
       |  SELECT
       |    ${tSums.mkString(",\n    ")}
       |  FROM tc, nd),
       |s AS (
       |  $arms)
       |SELECT CAST(quartile AS INTEGER) AS quartile, n_docs, n_tokens, vocab_size,
       |  CAST(vocab_size AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio
       |FROM s ORDER BY quartile""".stripMargin
  }

  // -------------------------------------------- bigram_perplexity_by_source

  /** Per-source bigram-LM cross-entropy on the held-out split — the
    * CCNet-style quality signal: train an add-1-smoothed bigram model
    * on the 90% md5 split (the `lm_novelty` split convention), score
    * the 10% test docs with p(w₂|w₁) = (c₁₂+1)/(c₁+V+1), and roll
    * mean negative log-likelihood (nats/bigram) to source grain — a
    * feed whose text the corpus LM finds surprising is boilerplate,
    * another language, or garbage, and this is the number corpus
    * curation thresholds on. `lm_novelty` counts UNSEEN bigrams
    * (support); this weights every bigram by how unlikely it is
    * (probability) — possible only since the engine-exact
    * [[graft.functions.ExactLn]]. p's numerator and denominator are
    * exact counts cast to double individually; −ln p terms reduce
    * order-independently via the round-to-decimal sum; p ≥ 1/(c₁+V+1)
    * keeps ln in domain through 2⁴⁰ train bigrams.
    *
    * Scale shape: bigram/unigram counts partial-aggregate map-side —
    * the LM's VOCABULARY survives the two shuffles, the token stream
    * doesn't; test scoring is two hash-keyed equi-joins (h₂ for c₁₂,
    * h₁ for c₁) + one broadcast 1-row vocab frame; the roll-up is
    * source-grain.
    */
  /** The hashed bigram/unigram frame shared VERBATIM by
    * `bigram_perplexity_by_source` and `perplexity_bucket_filter`
    * (optimization round 19): each query consumed it 3-4 times
    * (bigram counts, unigram counts, vocab, scoring join), re-running
    * the gram-explode + two-md5-per-gram chain on every read — the
    * corpus tokenization/hash pass now runs once per session.
    */
  private def bigramHashBase(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "text.bigramHashBase", dir) {
      graft.functions.TokenGrams.register(spark)
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100)
      Tables(spark, dir).documents
        .select(col("doc_id"), col("source"),
          when(bucket < 90, "train").otherwise("test").as("split"),
          explode(call_function("graft_grams", col("text"), lit(2))).as("g"))
        .select(col("doc_id"), col("source"), col("split"),
          conv(substring(md5(col("g")), 1, 14), 16, 10).cast("long").as("h2"),
          conv(substring(md5(split(col("g"), " ").getItem(0)), 1, 14), 16, 10)
            .cast("long").as("h1"))
    }

  def bigramPerplexityBySource(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val base = bigramHashBase(spark, dir)
    val train = base.filter(col("split") === "train")
    val biCnt = train.groupBy(col("h2")).agg(count(lit(1)).as("c12"))
    val uniCnt = train.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    val vocab = train.agg(countDistinct(col("h1")).as("v"))
    base.filter(col("split") === "test")
      .join(biCnt, Seq("h2"), "left")
      .join(uniCnt, Seq("h1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("p", expr(
        "CAST(coalesce(c12, 0) + 1 AS DOUBLE) / CAST(coalesce(c1, 0) + v + 1 AS DOUBLE)"))
      .withColumn("__y", expr(ExactLn.yExpr("p")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("nll", expr(s"-(${ExactLn.lnExpr("__z")})"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        sum(expr("CAST(round(nll, 9) AS DECIMAL(18,9))")).as("sd"))
      .withColumn("hh", expr("CAST(sd AS DOUBLE) / CAST(n_bigrams AS DOUBLE)"))
      .withColumn("__u", expr(graft.functions.ExactExp.uExpr("hh")))
      .withColumn("__p", expr(graft.functions.ExactExp.pExpr("__u")))
      .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_bigrams AS BIGINT) AS n_bigrams",
        "hh AS cross_entropy_nats",
        s"${graft.functions.ExactExp.expExpr("__p")} AS perplexity")
      .orderBy("source")
  }

  val bigramPerplexityBySourceSql: String = {
    import graft.functions.ExactLn
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90
       |         THEN 'train' ELSE 'test' END AS split,
       |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, source, split,
       |    unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS g2
       |  FROM t),
       |h AS (SELECT doc_id, source, split,
       |    ('0x' || substr(md5(g2), 1, 14))::BIGINT AS h2,
       |    ('0x' || substr(md5(split_part(g2, ' ', 1)), 1, 14))::BIGINT AS h1
       |  FROM g),
       |bi AS (SELECT h2, count(*) AS c12 FROM h WHERE split = 'train' GROUP BY 1),
       |uni AS (SELECT h1, count(*) AS c1 FROM h WHERE split = 'train' GROUP BY 1),
       |vv AS (SELECT count(DISTINCT h1) AS v FROM h WHERE split = 'train'),
       |te AS (
       |  SELECT tst.doc_id, tst.source,
       |    CAST(coalesce(c12, 0) + 1 AS DOUBLE) / CAST(coalesce(c1, 0) + v + 1 AS DOUBLE) AS p
       |  FROM h tst LEFT JOIN bi USING (h2) LEFT JOIN uni USING (h1), vv
       |  WHERE tst.split = 'test'),
       |y AS (SELECT *, ${ExactLn.yExpr("p")} AS __y FROM te),
       |z AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM y),
       |x AS (SELECT *, -(${ExactLn.lnExpr("__z")}) AS nll FROM z),
       |agg AS (
       |  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(CAST(round(nll, 9) AS DECIMAL(18,9))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS hh
       |  FROM x GROUP BY 1),
       |eu AS (SELECT *, ${graft.functions.ExactExp.uExpr("hh")} AS __u FROM agg),
       |ep AS (SELECT *, ${graft.functions.ExactExp.pExpr("__u")} AS __p FROM eu)
       |SELECT source, n_docs, n_bigrams, hh AS cross_entropy_nats,
       |  ${graft.functions.ExactExp.expExpr("__p")} AS perplexity
       |FROM ep ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------- weighted_sample_topk

  private val WsTopK = 100

  /** Deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis A-ES): each doc draws u from its identity
    * hash and ranks by ln(u)/w with w = its length — the top-k under
    * that key IS an exact weighted sample, and because the key is
    * pure arithmetic on the doc's own row it runs as ONE map-side
    * expression + a distributed top-k, no sequential draw loop (the
    * classic distributed answer to "sample 100 docs ∝ length").
    * `corpus_mix_sample` hits per-source TARGET counts; this is the
    * single-knob proportional-to-weight primitive a curriculum or
    * eval-set builder reaches for first. Identity-hashed u means the
    * sample is REPRODUCIBLE across reruns, repartitions, and
    * incremental rebuilds (the mlm_mask determinism argument); u is
    * 40 hash bits mapped to [2⁻⁴⁰, 1] — exactly [[ExactLn]]'s
    * domain — and ln(u)/w is shared-text IEEE, so even the sample
    * KEYS hash-match the oracle.
    */
  def weightedSampleTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        greatest(length(col("text")), lit(1)).cast("long").as("w"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 10), 16, 10)
          .cast("long").as("h"))
      .withColumn("u", expr(
        "(CAST(h AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(1099511627776 AS DOUBLE)"))
      .withColumn("__y", expr(ExactLn.yExpr("u")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("sample_key", expr(
        s"${ExactLn.lnExpr("__z")} / CAST(w AS DOUBLE)"))
      .orderBy(col("sample_key").desc, col("doc_id"))
      .limit(WsTopK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sample_key").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("source"), col("w"), col("sample_key"))
      .orderBy("rank")
  }

  val weightedSampleTopkSql: String = {
    import graft.functions.ExactLn
    s"""WITH b AS (
       |  SELECT doc_id, source,
       |    CAST(greatest(len(text), 1) AS BIGINT) AS w,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT AS h
       |  FROM documents),
       |u AS (SELECT *, (CAST(h AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(1099511627776 AS DOUBLE) AS u FROM b),
       |y AS (SELECT *, ${ExactLn.yExpr("u")} AS __y FROM u),
       |z AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM y),
       |k AS (SELECT *, ${ExactLn.lnExpr("__z")} / CAST(w AS DOUBLE) AS sample_key FROM z),
       |r AS (SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rank FROM k)
       |SELECT CAST(rank AS INTEGER) AS rank, doc_id, source, w, sample_key
       |FROM r WHERE rank <= $WsTopK ORDER BY rank""".stripMargin
  }

  // ------------------------------------------------------- readability_profile

  /** Flesch-style readability profile per source: words per sentence
    * unit, syllables per word (vowel-group approximation — the
    * standard heuristic when no dictionary is at hand), share of
    * complex (≥3-syllable) words, and the Flesch reading-ease score
    * 206.835 − 1.015·(w/s) − 84.6·(syl/w). This corpus carries no
    * sentence punctuation, so the sentence unit degrades to the
    * DOCUMENT (swap the splitter for `[.!?]+` runs on a punctuated
    * corpus); the formula mechanics and the per-source comparison are
    * the point — a curation gate uses exactly this to spot sources
    * whose complexity profile drifts from the mix. All counts exact
    * integers; every rate is a cast-each-operand double division over
    * shared literal coefficients.
    *
    * Scale shape: map-only per-doc counting (one regexp pass per
    * doc), then ONE partial-aggregating reduce to the bounded source
    * spine.
    */
  def readabilityProfile(spark: SparkSession, dir: String): DataFrame = {
    val toks = normTokens(col("text"))
    val syl = size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0)))
    val cw = size(filter(toks,
      t => size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))) >= 3))
    Tables(spark, dir).documents
      .select(col("source"), size(toks).as("nw"), syl.as("syl"), cw.as("cw"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("tw"),
        sum(col("syl")).as("ts"), sum(col("cw")).as("tc"))
      .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(tw AS BIGINT) AS n_words",
        "CAST(tw AS DOUBLE) / CAST(n_docs AS DOUBLE) AS words_per_doc",
        "CAST(ts AS DOUBLE) / CAST(tw AS DOUBLE) AS syllables_per_word",
        "CAST(tc AS DOUBLE) / CAST(tw AS DOUBLE) AS pct_complex",
        "CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * (CAST(tw AS DOUBLE) / CAST(n_docs AS DOUBLE))" +
          " - CAST(84.6 AS DOUBLE) * (CAST(ts AS DOUBLE) / CAST(tw AS DOUBLE)) AS flesch_score")
      .orderBy("source")
  }

  val readabilityProfileSql: String =
    """WITH t AS (
      |  SELECT source,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS toks,
      |    len(regexp_extract_all(text, '[aeiouy]+')) AS syl
      |  FROM documents),
      |per AS (
      |  SELECT source, len(toks) AS nw, syl,
      |    len(list_filter(toks, x -> len(regexp_extract_all(x, '[aeiouy]+')) >= 3)) AS cw
      |  FROM t),
      |g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(nw) AS BIGINT) AS tw, CAST(sum(syl) AS BIGINT) AS ts,
      |    CAST(sum(cw) AS BIGINT) AS tc
      |  FROM per GROUP BY 1)
      |SELECT source, n_docs, tw AS n_words,
      |  CAST(tw AS DOUBLE) / CAST(n_docs AS DOUBLE) AS words_per_doc,
      |  CAST(ts AS DOUBLE) / CAST(tw AS DOUBLE) AS syllables_per_word,
      |  CAST(tc AS DOUBLE) / CAST(tw AS DOUBLE) AS pct_complex,
      |  CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * (CAST(tw AS DOUBLE) / CAST(n_docs AS DOUBLE))
      |    - CAST(84.6 AS DOUBLE) * (CAST(ts AS DOUBLE) / CAST(tw AS DOUBLE)) AS flesch_score
      |FROM g ORDER BY source""".stripMargin

  // ------------------------------------------------- source_divergence_matrix

  /** Pairwise Jensen–Shannon divergence between every pair of source
    * unigram distributions — the redundancy MATRIX behind a corpus
    * mix (`js_divergence_drift` compares two time halves of one
    * stream; `term_drift_by_source` scores each source against the
    * blend; this says which sources duplicate EACH OTHER, the signal
    * for merging or down-weighting a source before training). Exact
    * integer counts; the 2p/(p+q) ratio trick avoids explicit
    * normalization; every ln engine-exact
    * ([[graft.functions.ExactLn]]); per-pair JS by round-to-decimal
    * sum. JS is symmetric and bounded by ln 2 — both pinned.
    *
    * Scale shape: the token stream partial-aggregates to (source,
    * word) cells map-side (the vocabulary survives the shuffle, the
    * stream doesn't); the pair grid is |sources|²/2 × vocab —
    * vocab-bounded, never token- or corpus-bounded; totals and vocab
    * ride broadcasts.
    */
  def sourceDivergenceMatrix(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val cells = graft.core.OwnedCaches.own(Tables(spark, dir).documents
      .select(col("source"), explode(normTokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .cache())
    val totals = cells.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val vocab = cells.select(col("w")).distinct()
    val pairs = totals.toDF("sa", "ta")
      .join(totals.toDF("sb", "tb"), col("sa") < col("sb"))
    pairs.crossJoin(broadcast(vocab))
      .join(cells.toDF("sa", "w", "ca"), Seq("sa", "w"), "left")
      .join(cells.toDF("sb", "w", "cb"), Seq("sb", "w"), "left")
      .withColumn("ca", coalesce(col("ca"), lit(0L)))
      .withColumn("cb", coalesce(col("cb"), lit(0L)))
      .filter(col("ca") + col("cb") > 0)
      .withColumn("da", expr("CAST(ca AS DOUBLE) * CAST(tb AS DOUBLE)"))
      .withColumn("db", expr("CAST(cb AS DOUBLE) * CAST(ta AS DOUBLE)"))
      .withColumn("rp", expr("2.0 * da / (da + db)"))
      .withColumn("rq", expr("2.0 * db / (da + db)"))
      .withColumn("__ya", expr(ExactLn.yExpr("rp")))
      .withColumn("__za", expr(ExactLn.zExpr("__ya")))
      .withColumn("__yb", expr(ExactLn.yExpr("rq")))
      .withColumn("__zb", expr(ExactLn.zExpr("__yb")))
      .withColumn("contrib", expr(
        s"0.5 * ((CASE WHEN ca = 0 THEN 0.0 ELSE (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)) * ${ExactLn.lnExpr("__za")} END)" +
          s" + (CASE WHEN cb = 0 THEN 0.0 ELSE (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) * ${ExactLn.lnExpr("__zb")} END))"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_union"),
        sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L)).as("n_shared"),
        sum(expr("CAST(round(contrib, 9) AS DECIMAL(18,9))")).as("jsd"))
      .selectExpr("sa AS source_a", "sb AS source_b",
        "CAST(n_union AS BIGINT) AS n_union_words",
        "CAST(n_shared AS BIGINT) AS n_shared_words",
        "CAST(jsd AS DOUBLE) AS js_divergence")
      .orderBy("source_a", "source_b")
  }

  val sourceDivergenceMatrixSql: String = {
    import graft.functions.ExactLn
    s"""WITH ex AS (
       |  SELECT source, unnest(list_filter(string_split_regex(
       |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
       |    x -> len(x) > 0)) AS w
       |  FROM documents),
       |cells AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM ex GROUP BY 1, 2),
       |totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM cells GROUP BY 1),
       |vocab AS (SELECT DISTINCT w FROM cells),
       |pairs AS (
       |  SELECT a.source AS sa, a.tot AS ta, b.source AS sb, b.tot AS tb
       |  FROM totals a JOIN totals b ON a.source < b.source),
       |grid AS (SELECT sa, ta, sb, tb, w FROM pairs CROSS JOIN vocab),
       |g2 AS (
       |  SELECT grid.sa, grid.ta, grid.sb, grid.tb, grid.w,
       |    coalesce(la.c, 0) AS ca, coalesce(lb.c, 0) AS cb
       |  FROM grid
       |  LEFT JOIN cells la ON la.source = grid.sa AND la.w = grid.w
       |  LEFT JOIN cells lb ON lb.source = grid.sb AND lb.w = grid.w),
       |g3 AS (SELECT * FROM g2 WHERE ca + cb > 0),
       |d AS (SELECT *,
       |    CAST(ca AS DOUBLE) * CAST(tb AS DOUBLE) AS da,
       |    CAST(cb AS DOUBLE) * CAST(ta AS DOUBLE) AS db
       |  FROM g3),
       |rr AS (SELECT *, 2.0 * da / (da + db) AS rp, 2.0 * db / (da + db) AS rq FROM d),
       |y AS (SELECT *, ${ExactLn.yExpr("rp")} AS __ya, ${ExactLn.yExpr("rq")} AS __yb FROM rr),
       |z AS (SELECT *, ${ExactLn.zExpr("__ya")} AS __za, ${ExactLn.zExpr("__yb")} AS __zb FROM y),
       |ct AS (SELECT *,
       |    0.5 * ((CASE WHEN ca = 0 THEN 0.0 ELSE (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)) * ${ExactLn.lnExpr("__za")} END)
       |      + (CASE WHEN cb = 0 THEN 0.0 ELSE (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) * ${ExactLn.lnExpr("__zb")} END)) AS contrib
       |  FROM z)
       |SELECT sa AS source_a, sb AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_union_words,
       |  CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_words,
       |  CAST(sum(CAST(round(contrib, 9) AS DECIMAL(18,9))) AS DOUBLE) AS js_divergence
       |FROM ct GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin
  }

  // ------------------------------------------- doclen_percentiles_by_source

  /** Document-length percentile profile per source (p10/p50/p90/p99
    * token counts + mean): the length SHAPE a pretraining mix is
    * balanced against — `training_shard_manifest` totals tokens per
    * shard and `readability_profile` averages per source; neither
    * shows the tails, and it's the tails (truncation risk at p99,
    * fragment noise at p10) that drive sequence-packing and filter
    * thresholds. Percentiles are exact ceil-rank positions on the
    * per-source COUNT-OF-COUNTS histogram — no doc-grain sort
    * anywhere; mean is one double division.
    *
    * Scale shape: one map-side token count, one partial-agg to the
    * (source, distinct-length) histogram (bounded by distinct length
    * VALUES, tiny even at 10⁹ docs); windows run per source on that
    * bounded frame.
    */
  def doclenPercentilesBySource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = size(regexp_extract_all(lower(col("text")),
      lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")
    val hist = Tables(spark, dir).documents
      .select(col("source"), toks.as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.partitionBy("source")
        .orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
      .withColumn("st", sum(expr("t * c")).over(Window.partitionBy("source")))
    hist.groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), max(col("st")).as("total_tokens"),
        min(when(col("cum") >= expr("(10 * n + 99) div 100"), col("t"))).as("p10"),
        min(when(col("cum") >= expr("(50 * n + 99) div 100"), col("t"))).as("p50"),
        min(when(col("cum") >= expr("(90 * n + 99) div 100"), col("t"))).as("p90"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("t"))).as("p99"))
      .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(total_tokens AS BIGINT) AS total_tokens",
        "CAST(p10 AS BIGINT) AS p10_tokens", "CAST(p50 AS BIGINT) AS p50_tokens",
        "CAST(p90 AS BIGINT) AS p90_tokens", "CAST(p99 AS BIGINT) AS p99_tokens",
        "CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens")
      .orderBy("source")
  }

  val doclenPercentilesBySourceSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS t
       |  FROM documents),
       |hist AS (
       |  SELECT source, t, CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(count(*)) OVER (PARTITION BY source ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(count(*)) OVER (PARTITION BY source) AS BIGINT) AS n,
       |    CAST(sum(t * count(*)) OVER (PARTITION BY source) AS BIGINT) AS st
       |  FROM d GROUP BY 1, 2)
       |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       |  CAST(max(st) AS BIGINT) AS total_tokens,
       |  CAST(min(CASE WHEN cum >= (10 * n + 99) // 100 THEN t END) AS BIGINT) AS p10_tokens,
       |  CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN t END) AS BIGINT) AS p50_tokens,
       |  CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN t END) AS BIGINT) AS p90_tokens,
       |  CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN t END) AS BIGINT) AS p99_tokens,
       |  CAST(max(st) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS mean_tokens
       |FROM hist GROUP BY 1 ORDER BY source""".stripMargin

  // ------------------------------------------------- stylometry_delta_matrix

  private val StyloTopTerms = 30

  /** Rank-based stylometric distance between every source pair: each
    * source ranks the global top-[[StyloTopTerms]] terms by its OWN
    * usage frequency, and each pair reports the mean absolute rank
    * displacement plus the Spearman ρ of the two rankings — the
    * Burrows-Delta idea made integer-exact (classic Delta z-scores
    * per-word frequencies, which would put engine-divergent σ's in
    * the hot path; ranking by count WITHIN a source is the same
    * ordering as relative frequency — n_s is constant per source —
    * so the whole statistic reduces to exact integer rank
    * arithmetic). `source_divergence_matrix` measures WHAT mass
    * shifted; this measures whether the USAGE ORDER of the common
    * vocabulary changed — the stylometric signature that survives
    * volume differences.
    *
    * Scale shape: the term-frequency shuffle is shared-shape with
    * `term_drift_by_source`; the ranked grid is sources ×
    * [[StyloTopTerms]] and the pair join runs on that domain-bounded
    * grid only.
    */
  def stylometryDeltaMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(spark, dir).documents
      .select(col("source"), explode(normTokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("cg"))
    val top = tf.withColumn("rn",
        row_number().over(Window.orderBy(col("cg").desc, col("term"))))
      .filter(col("rn") <= StyloTopTerms).select(col("term"))
    val st = toks.join(broadcast(top), "term")
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cs0"))
    val grid = toks.select(col("source")).distinct().crossJoin(broadcast(top))
      .join(st, Seq("source", "term"), "left")
      .withColumn("cs", coalesce(col("cs0"), lit(0L)))
      .withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy(col("cs").desc, col("term"))))
    val a = grid.select(col("source").as("source_a"), col("term"), col("r").as("ra"))
    val b = grid.select(col("source").as("source_b"), col("term"), col("r").as("rb"))
    a.join(b, Seq("term"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("k"),
        sum(expr("abs(ra - rb)")).as("sad"),
        sum(expr("(ra - rb) * (ra - rb)")).as("sd2"))
      .selectExpr("source_a", "source_b", "CAST(k AS BIGINT) AS n_terms",
        "CAST(sad AS DOUBLE) / CAST(k AS DOUBLE) AS rank_delta",
        // ρ = 1 − 6Σd²/(k(k²−1)) — exact integer moments, one division
        "CAST(1 AS DOUBLE) - CAST(6 AS DOUBLE) * CAST(sd2 AS DOUBLE) / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - CAST(1 AS DOUBLE))) AS spearman_rho")
      .orderBy("source_a", "source_b")
  }

  val stylometryDeltaMatrixSql: String =
    s"""WITH ex AS (
       |  SELECT source, unnest(list_filter(string_split_regex(
       |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
       |    x -> len(x) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS cg FROM ex GROUP BY 1),
       |top AS (
       |  SELECT term FROM (
       |    SELECT term, row_number() OVER (ORDER BY cg DESC, term) AS rn FROM tf) r0
       |  WHERE rn <= $StyloTopTerms),
       |st AS (
       |  SELECT source, ex.term, CAST(count(*) AS BIGINT) AS cs
       |  FROM ex JOIN top ON top.term = ex.term GROUP BY 1, 2),
       |grid AS (
       |  SELECT s.source, t.term, coalesce(st.cs, 0) AS cs
       |  FROM (SELECT DISTINCT source FROM ex) s CROSS JOIN top t
       |  LEFT JOIN st ON st.source = s.source AND st.term = t.term),
       |rk AS (
       |  SELECT source, term,
       |    row_number() OVER (PARTITION BY source ORDER BY cs DESC, term) AS r
       |  FROM grid)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(sum(abs(a.r - b.r)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rank_delta,
       |  CAST(1 AS DOUBLE) - CAST(6 AS DOUBLE) * CAST(sum((a.r - b.r) * (a.r - b.r)) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) - CAST(1 AS DOUBLE))) AS spearman_rho
       |FROM rk a JOIN rk b ON a.term = b.term AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // ----------------------------------------------------- perplexity_bucket_filter

  /** CCNet-style perplexity bucketing: every document scored by the
    * add-one-smoothed bigram LM trained on the 90% md5 split (the
    * `bigram_perplexity_by_source` model — that op reports per-source
    * TEST cross-entropy; this scores EVERY doc and assigns it to the
    * head / middle / tail of its OWN source's distribution, the exact
    * shape CCNet uses to keep fluent text and route the tail to
    * re-review). Doc cross-entropy is a 9-dp quantized decimal mean
    * of engine-exact lns, then quantized to a 3-dp grid so source
    * terciles come off a COUNT-OF-COUNTS histogram (ceil-rank
    * thresholds, ties-to-head — value-threshold semantics,
    * deterministic) — no doc-grain global sort anywhere, the
    * `doclen_percentiles_by_source` discipline.
    *
    * Scale shape: the token explode → (doc) partial agg is the only
    * data-scale shuffle (LM counts are vocabulary-grain, the
    * bigram_perplexity shape); terciles, buckets, and shares all run
    * on the (source × 3-dp CE grid) frame, bounded by the quantized
    * domain, not the corpus.
    */
  def perplexityBucketFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    // session-shared hashed-gram frame (round 19) — see bigramHashBase
    val base = bigramHashBase(spark, dir)
    val train = base.filter(col("split") === "train")
    val biCnt = train.groupBy(col("h2")).agg(count(lit(1)).as("c12"))
    val uniCnt = train.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    val vocab = train.agg(countDistinct(col("h1")).as("v"))
    val docCe = base
      .join(biCnt, Seq("h2"), "left")
      .join(uniCnt, Seq("h1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("p", expr(
        "CAST(coalesce(c12, 0) + 1 AS DOUBLE) / CAST(coalesce(c1, 0) + v + 1 AS DOUBLE)"))
      .withColumn("__y", expr(ExactLn.yExpr("p")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("nll", expr(s"-(${ExactLn.lnExpr("__z")})"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("nb"),
        sum(expr("CAST(round(nll, 9) AS DECIMAL(18,9))")).as("sd"))
      .withColumn("q", expr(
        "CAST(round(CAST(sd AS DOUBLE) / CAST(nb AS DOUBLE), 3) AS DECIMAL(12,3))"))
    // cells is cached (round 19): the threshold scan AND the final
    // bucket join both consume it, and an uncached read re-runs the
    // whole scoring join + ExactLn chain; (source × q)-bounded
    val cells = graft.core.OwnedCaches.own(docCe.groupBy(col("source"), col("q"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("source").orderBy("q")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("source")))
      .cache())
    val thr = cells.groupBy(col("source"))
      .agg(min(expr("CASE WHEN cum >= (n + 2) div 3 THEN q END")).as("thr1"),
        min(expr("CASE WHEN cum >= (2 * n + 2) div 3 THEN q END")).as("thr2"))
    cells.join(broadcast(thr), Seq("source"))
      .withColumn("bucket", expr(
        "CASE WHEN q <= thr1 THEN 'head' WHEN q <= thr2 THEN 'middle' ELSE 'tail' END"))
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("cnt")).as("n_docs"), max(col("n")).as("n_src"),
        sum(expr("q * cnt")).as("qs"),
        max(col("thr1")).as("t1"), max(col("thr2")).as("t2"))
      .selectExpr("source", "bucket", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_docs AS DOUBLE) / CAST(n_src AS DOUBLE) AS share",
        "CAST(qs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_cross_entropy",
        "CAST(t1 AS DOUBLE) AS head_threshold", "CAST(t2 AS DOUBLE) AS tail_threshold")
      .orderBy("source", "bucket")
  }

  val perplexityBucketFilterSql: String = {
    import graft.functions.ExactLn
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90
       |         THEN 'train' ELSE 'test' END AS split,
       |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, source, split,
       |    unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS g2
       |  FROM t),
       |h AS (SELECT doc_id, source, split,
       |    ('0x' || substr(md5(g2), 1, 14))::BIGINT AS h2,
       |    ('0x' || substr(md5(split_part(g2, ' ', 1)), 1, 14))::BIGINT AS h1
       |  FROM g),
       |bi AS (SELECT h2, count(*) AS c12 FROM h WHERE split = 'train' GROUP BY 1),
       |uni AS (SELECT h1, count(*) AS c1 FROM h WHERE split = 'train' GROUP BY 1),
       |vv AS (SELECT count(DISTINCT h1) AS v FROM h WHERE split = 'train'),
       |sc AS (
       |  SELECT a.doc_id, a.source,
       |    CAST(coalesce(c12, 0) + 1 AS DOUBLE) / CAST(coalesce(c1, 0) + v + 1 AS DOUBLE) AS p
       |  FROM h a LEFT JOIN bi USING (h2) LEFT JOIN uni USING (h1), vv),
       |y AS (SELECT *, ${ExactLn.yExpr("p")} AS __y FROM sc),
       |z AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM y),
       |x AS (SELECT *, -(${ExactLn.lnExpr("__z")}) AS nll FROM z),
       |dce AS (
       |  SELECT doc_id, source,
       |    CAST(round(CAST(sum(CAST(round(nll, 9) AS DECIMAL(18,9))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE), 3) AS DECIMAL(12,3)) AS q
       |  FROM x GROUP BY 1, 2),
       |cells AS (
       |  SELECT source, q, CAST(count(*) AS BIGINT) AS cnt,
       |    sum(count(*)) OVER (PARTITION BY source ORDER BY q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(count(*)) OVER (PARTITION BY source) AS n
       |  FROM dce GROUP BY 1, 2),
       |thr AS (
       |  SELECT source,
       |    min(CASE WHEN cum >= (n + 2) // 3 THEN q END) AS thr1,
       |    min(CASE WHEN cum >= (2 * n + 2) // 3 THEN q END) AS thr2
       |  FROM cells GROUP BY 1),
       |bk AS (
       |  SELECT cells.*, thr1, thr2,
       |    CASE WHEN q <= thr1 THEN 'head' WHEN q <= thr2 THEN 'middle'
       |    ELSE 'tail' END AS bucket
       |  FROM cells JOIN thr USING (source))
       |SELECT source, bucket, CAST(sum(cnt) AS BIGINT) AS n_docs,
       |  CAST(sum(cnt) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS share,
       |  CAST(sum(q * cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS mean_cross_entropy,
       |  CAST(max(thr1) AS DOUBLE) AS head_threshold,
       |  CAST(max(thr2) AS DOUBLE) AS tail_threshold
       |FROM bk GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin
  }

  // ------------------------------------------------------- corpus_mix_plan

  /** Static data-mixing plan (round 14): per source, the exact token
    * inventory and the repeat factor / epoch count needed to hit a
    * UNIFORM target mix at the corpus's own total-token budget — the
    * planning artifact behind weighted multi-epoch sampling (DoReMi /
    * Pile-style mixes reduce to exactly this table with a different
    * target vector). `corpus_mix_sample` draws the rows; this PLANS
    * the weights: repeat_factor = (total/K)/tokens says how many
    * passes over a source hit its target share, epochs = its ceiling
    * is what a shuffled-epoch loader actually runs.
    *
    * Parity: counts are exact whitespace tokens (the textTokenCount
    * convention), every non-integer output is one division of exact
    * sub-2^53 integers in identical text on both engines, and
    * Spark\'s `ceil(double)`→LONG vs DuckDB\'s `ceil`→DOUBLE is
    * reconciled by the explicit BIGINT cast.
    *
    * Scale shape: one map-side token-count pass partial-aggregates to
    * a |sources|-row frame; the total is a 1-row broadcast back. At
    * 100 TB this is a metadata query over the same scan the quality
    * screens already make.
    */
  def corpusMixPlan(spark: SparkSession, dir: String): DataFrame = {
    val ws = size(filter(split(col("text"), " +"), t => length(t) > 0)).cast("long")
    val per = Tables(spark, dir).documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(ws).as("tokens"))
    mixPlanFrom(per)
  }

  /** The mixing-table projection over a (source, n_docs, tokens)
    * frame — shared by the batch operator and the streaming
    * [[graft.streaming.MixPlanSink]], so both faces derive the plan
    * with the identical expressions.
    */
  def mixPlanFrom(per: DataFrame): DataFrame = {
    val tot = per.agg(sum(col("tokens")).as("total_tokens"),
      count(lit(1)).as("k_sources"))
    per.crossJoin(broadcast(tot))
      .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(tokens AS BIGINT) AS tokens",
        "CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS natural_share",
        "CAST(1 AS DOUBLE) / CAST(k_sources AS DOUBLE) AS target_share",
        "CAST(total_tokens AS DOUBLE) / CAST(k_sources AS DOUBLE) / CAST(tokens AS DOUBLE) AS repeat_factor",
        "CAST(ceil(CAST(total_tokens AS DOUBLE) / CAST(k_sources AS DOUBLE) / CAST(tokens AS DOUBLE)) AS BIGINT) AS epochs")
      .orderBy("source")
  }

  val corpusMixPlanSql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    sum(len(list_filter(string_split_regex(text, ' +'), x -> len(x) > 0))) AS tokens
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT sum(tokens) AS total_tokens, count(*) AS k_sources FROM per)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(tokens AS BIGINT) AS tokens,
      |  CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS natural_share,
      |  CAST(1 AS DOUBLE) / CAST(k_sources AS DOUBLE) AS target_share,
      |  CAST(total_tokens AS DOUBLE) / CAST(k_sources AS DOUBLE) / CAST(tokens AS DOUBLE) AS repeat_factor,
      |  CAST(ceil(CAST(total_tokens AS DOUBLE) / CAST(k_sources AS DOUBLE) / CAST(tokens AS DOUBLE)) AS BIGINT) AS epochs
      |FROM per, tot ORDER BY source""".stripMargin

  // ------------------------------------------------------ importance_resample

  /** Vocabulary size for the importance-weight LM (top-V raw-corpus
    * unigrams; add-1 smoothing denominators use the same V).
    */
  private val DsirVocab = 256

  /** Sources whose unigram distribution defines the TARGET domain
    * (the "high-quality reference corpus" a DSIR pass upsamples
    * toward).
    */
  private val DsirTargets = Seq("src0", "src1", "src2", "src3")

  /** Data Selection with Importance Resampling (DSIR-style, Xie et
    * al. 2023, arXiv:2302.03169): score every document by how much
    * more likely its unigrams are under a TARGET domain LM than under
    * the raw-corpus LM — the standard cheap proxy for "does this raw
    * document look like the data I actually want to train on".
    * Per-token log importance ratio ln p_target(w) − ln p_raw(w) over
    * a top-[[DsirVocab]] vocabulary with add-1 smoothing; per-doc
    * weight = mean ratio over its in-vocab tokens; ADMIT iff the
    * ratio SUM is positive — the admit boundary is an exact
    * decimal(18,9) comparison (per-token ratios are rounded-exact),
    * never a float threshold.
    *
    * Scale shape: one token-explode pass builds the raw counts; the
    * vocabulary is a TakeOrdered top-V (never a global sort); target
    * counts reduce before joining; the per-doc score is one
    * broadcast join (V rows) + partial-agg groupBy(doc); the exploded
    * frame is cached across its three consumers. The ln runs
    * [[graft.functions.ExactLn]] on the V-row vocab frame only —
    * per-doc work is integer counts and one exact-decimal sum.
    */
  def importanceResample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    graft.functions.TokenGrams.register(spark)
    val docs = Tables(spark, dir).documents
    // the exploded token frame feeds THREE independent subtrees (raw
    // counts, target counts, per-doc scoring) — cached once so the
    // tokenize+explode pass is paid once, not three times
    val ex = graft.core.OwnedCaches.own(
      docs.select(col("doc_id"), col("source"),
        explode(call_function("graft_grams", col("text"), lit(1))).as("w"))
      .cache())
    val rawCnt = ex.groupBy(col("w")).agg(count(lit(1)).as("c_r"))
    val vocab = rawCnt.orderBy(col("c_r").desc, col("w")).limit(DsirVocab)
    val tgtCnt = ex.filter(col("source").isin(DsirTargets: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("c_t"))
    val vc = vocab.join(tgtCnt, Seq("w"), "left")
      .withColumn("c_t", coalesce(col("c_t"), lit(0L)))
    val tot = vc.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))
    val scored = vc.crossJoin(broadcast(tot))
      .withColumn("p_t", expr(
        s"CAST(c_t + 1 AS DOUBLE) / CAST(n_t + $DsirVocab AS DOUBLE)"))
      .withColumn("p_r", expr(
        s"CAST(c_r + 1 AS DOUBLE) / CAST(n_r + $DsirVocab AS DOUBLE)"))
      .withColumn("__yt", expr(ExactLn.yExpr("p_t")))
      .withColumn("__zt", expr(ExactLn.zExpr("__yt")))
      .withColumn("__yr", expr(ExactLn.yExpr("p_r")))
      .withColumn("__zr", expr(ExactLn.zExpr("__yr")))
      .withColumn("lr_q9", expr(
        s"CAST(round((${ExactLn.lnExpr("__zt")}) - (${ExactLn.lnExpr("__zr")}), 9)" +
          " AS DECIMAL(18,9))"))
      .select(col("w"), col("lr_q9"))
    val perDoc = ex.join(broadcast(scored), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_vocab_toks"), sum(col("lr_q9")).as("sw"))
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_vocab_toks"), lit(0L)).as("n_vocab_toks"),
        expr("CAST(sw AS DOUBLE) / CAST(n_vocab_toks AS DOUBLE)").as("weight"),
        coalesce(col("sw") > 0, lit(false)).as("admit"))
      .orderBy("doc_id")
  }

  val importanceResampleSql: String = {
    import graft.functions.ExactLn
    val tgts = DsirTargets.map(s => s"'$s'").mkString(", ")
    s"""WITH ex AS (
       |  SELECT doc_id, source, unnest(list_filter(string_split_regex(
       |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
       |    x -> len(x) > 0)) AS w
       |  FROM documents),
       |raw_cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c_r FROM ex GROUP BY 1),
       |vocab AS (SELECT * FROM raw_cnt ORDER BY c_r DESC, w LIMIT $DsirVocab),
       |tgt AS (SELECT w, CAST(count(*) AS BIGINT) AS c_t FROM ex
       |        WHERE source IN ($tgts) GROUP BY 1),
       |vc AS (
       |  SELECT v.w, v.c_r, coalesce(t.c_t, 0) AS c_t
       |  FROM vocab v LEFT JOIN tgt t ON t.w = v.w),
       |tot AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r, CAST(sum(c_t) AS BIGINT) AS n_t FROM vc),
       |p AS (
       |  SELECT vc.w,
       |    CAST(c_t + 1 AS DOUBLE) / CAST(n_t + $DsirVocab AS DOUBLE) AS p_t,
       |    CAST(c_r + 1 AS DOUBLE) / CAST(n_r + $DsirVocab AS DOUBLE) AS p_r
       |  FROM vc, tot),
       |y AS (SELECT *, ${ExactLn.yExpr("p_t")} AS __yt, ${ExactLn.yExpr("p_r")} AS __yr FROM p),
       |z AS (SELECT *, ${ExactLn.zExpr("__yt")} AS __zt, ${ExactLn.zExpr("__yr")} AS __zr FROM y),
       |lr AS (SELECT w,
       |    CAST(round((${ExactLn.lnExpr("__zt")}) - (${ExactLn.lnExpr("__zr")}), 9) AS DECIMAL(18,9)) AS lr_q9
       |  FROM z),
       |per_doc AS (
       |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_vocab_toks, sum(lr.lr_q9) AS sw
       |  FROM ex e JOIN lr ON lr.w = e.w GROUP BY 1)
       |SELECT d.doc_id, d.source,
       |  coalesce(p.n_vocab_toks, 0) AS n_vocab_toks,
       |  CAST(p.sw AS DOUBLE) / CAST(p.n_vocab_toks AS DOUBLE) AS weight,
       |  coalesce(p.sw > 0, false) AS admit
       |FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------- quality_logreg_filter

  private val LrSteps = 20
  // full-batch GD stability: with the small-scale rule features
  // (x1 = tokens/100 <= ~2, ratios <= ~0.3) the logistic Hessian's
  // largest eigenvalue sits near E[x^2]/4 ~ 0.4, so any step under
  // ~5 is stable; 2.0 x 20 steps is the measured knee where the
  // model starts genuinely separating the rule's verdicts (admit
  // rates 0.79 kept vs 0.38 rejected at sf0.01) while |logit| stays
  // ~0.7 -- far inside ExactExp's |x| <= 40 domain.
  private val LrRate = 2.0

  /** Shared logit text: the fixed-order 4-term dot product both
    * engines evaluate on bit-identical weights and features.
    */
  private def lrLogit(pfx: String): String =
    s"(${pfx}w0 + ${pfx}w1 * x1 + ${pfx}w2 * x2 + ${pfx}w3 * x3)"

  /** A TRAINED quality filter -- rule distillation, the
    * fasttext-classifier pattern: batch logistic regression by
    * [[LrSteps]] full-gradient descent steps, supervised by the
    * hand-written [[qualityFilter]] verdict and fed the rule's own
    * raw inputs (token count / 100, stopword ratio, duplicate-3-gram
    * ratio) -- the model that replaces a hard threshold AND-chain
    * with a calibrated soft score (rank documents near the boundary,
    * re-tune the operating point without re-running the rule).
    * Every document is scored and ADMITTED iff its final logit >= 0.
    * The engine trains the model and applies it in ONE declarative
    * plan -- no driver-side loop over data, no UDF.
    *
    * Parity: features are single divisions of exact integers
    * (bit-identical); each step's logit is the fixed-order
    * [[lrLogit]]; the sigmoid runs [[graft.functions.ExactExp]]
    * (correctly-rounded staged chain); per-doc gradient contributions
    * round to 9 decimals into DECIMAL(18,9) (the rounded-parity
    * convention -- a sum of doubles has no canonical order) so each
    * step's gradient is exact and the weight updates reproduce bit
    * for bit. The admit boundary compares the final bit-identical
    * logit to 0.
    *
    * Scale shape: the feature frame is computed once and cached
    * (doc-count-sized, 5 columns); each GD step is ONE map-side
    * partial aggregate over it against a broadcast 1-row weight
    * frame (the previous weights ride THROUGH the aggregate as
    * first() columns, so each step references its predecessor
    * exactly once -- the louvain severance lesson applied to plan
    * width); scoring is one more broadcast projection. T steps =
    * T+1 scans of the cached features, zero shuffles beyond the
    * 1-row aggregates.
    */
  /** The model's feature projection over the raw rule signals —
    * shared by training ([[qualityLogregFilter]]) and streaming
    * serving ([[graft.streaming.QualityScoreStream]]), so the served
    * features can never drift from the trained ones. `withLabel`
    * adds the teacher verdict (training only — a served stream has
    * no label).
    */
  private[graft] def lrFeaturesOf(signals: DataFrame, withLabel: Boolean): DataFrame = {
    val base = signals.filter(col("nt") > 0)
    val feats = Seq(
      expr("CAST(nt AS DOUBLE) / 100.0").as("x1"),
      expr("CAST(sc AS DOUBLE) / CAST(nt AS DOUBLE)").as("x2"),
      expr("CAST(dupn AS DOUBLE) / CAST(tt AS DOUBLE)").as("x3"))
    if (withLabel)
      base.select(col("doc_id") +: (expr("CASE WHEN nt >= " + MinKeepTokens +
        " AND CAST(dupn AS DOUBLE) / CAST(tt AS DOUBLE) < CAST(0.05 AS DOUBLE)" +
        " AND CAST(sc AS DOUBLE) / CAST(nt AS DOUBLE) >= CAST(0.05 AS DOUBLE)" +
        " THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END").as("y") +: feats): _*)
    else base.select(col("doc_id") +: feats: _*)
  }

  /** [[qualityRuleSignals]] over an ARBITRARY documents frame (the
    * streaming face scores micro-batches, not a table dir).
    */
  private[graft] def qualityRuleSignalsOf(docs: DataFrame): DataFrame = {
    graft.functions.TokenShingles.register(docs.sparkSession)
    val nTok = size(col("toks"))
    val total = greatest(nTok - 2, lit(1))
    val nd = size(call_function("graft_shingles", col("text"), lit(3)))
    val stopCnt = size(filter(col("toks"), t => t.isin(stopwords: _*)))
    docs.withColumn("toks", normTokens(col("text")))
      .select(col("doc_id"), nTok.cast("long").as("nt"),
        (total - nd).cast("long").as("dupn"), total.cast("long").as("tt"),
        stopCnt.cast("long").as("sc"))
  }

  /** Train the quality model and return its 1-row weight frame
    * (w0..w3) — the artifact a serving surface installs (the
    * VectorIngestSink installed-quantizer pattern: train offline,
    * serve anywhere).
    */
  private[graft] def trainQualityModel(feat: DataFrame): DataFrame = {
    import graft.functions.ExactExp
    var w = feat.sparkSession.range(1)
      .select(lit(0.0).as("w0"), lit(0.0).as("w1"),
        lit(0.0).as("w2"), lit(0.0).as("w3"))
    for (_ <- 1 to LrSteps) {
      val sums = feat.crossJoin(broadcast(w))
        .withColumn("z", expr(lrLogit("")))
        .withColumn("__u", expr(ExactExp.uExpr("(0.0 - z)")))
        .withColumn("__p", expr(ExactExp.pExpr("__u")))
        .withColumn("g", expr(
          s"(1.0 / (1.0 + ${ExactExp.expExpr("__p")})) - y"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(g, 9) AS DECIMAL(18,9))")).as("s0"),
          sum(expr("CAST(round(g * x1, 9) AS DECIMAL(18,9))")).as("s1"),
          sum(expr("CAST(round(g * x2, 9) AS DECIMAL(18,9))")).as("s2"),
          sum(expr("CAST(round(g * x3, 9) AS DECIMAL(18,9))")).as("s3"),
          first(col("w0")).as("pw0"), first(col("w1")).as("pw1"),
          first(col("w2")).as("pw2"), first(col("w3")).as("pw3"))
      w = sums.select(
        (0 to 3).map(j => expr(
          s"(pw$j - $LrRate * (CAST(s$j AS DOUBLE) / CAST(n AS DOUBLE)))").as(s"w$j")): _*)
    }
    w
  }

  /** Measured single-task cost of one [[lrTrainReplay]] row·step (the
    * BigDecimal 9-dp quantizations dominate); sized like the graph
    * replay families and gated through `Graph.replayCap`, so the
    * admission budget stays the shared ~3 s single-task ceiling.
    */
  private val QualityLrPerRowUs = 0.6

  /** [[trainQualityModel]] with the single-task admission the graph
    * centralities use (optimization round 18): the 20-step GD chain
    * costs ~60 scheduled stages (a broadcast exchange + a two-stage
    * aggregate per step) — for corpora under the measured cap the
    * whole training loop is microseconds of arithmetic, so one
    * mapPartitions task replays it bit-identically (same IEEE op
    * order for the logit/ExactExp chain, same 9-dp HALF_UP
    * quantization into exact integer sums, same decimal→double cast)
    * over the SAME cached feature frame. Above the cap (document
    * count from parquet footers — zero jobs) the distributed chain
    * runs unchanged. Branch equality is pinned by Round18dSpec.
    */
  private[graft] def trainQualityModelAuto(spark: SparkSession, dir: String,
      feat: DataFrame): DataFrame =
    if (Tables.rowCount(spark, dir, "documents") <=
        graft.operators.Graph.replayCap(QualityLrPerRowUs, LrSteps))
      trainQualityModelReplay(feat)
    else trainQualityModel(feat)

  private[graft] def trainQualityModelReplay(feat: DataFrame): DataFrame = {
    val sess = feat.sparkSession
    import sess.implicits._
    val steps = LrSteps; val rate = LrRate
    feat.select(col("y").cast("double"), col("x1").cast("double"),
        col("x2").cast("double"), col("x3").cast("double"))
      .as[(Double, Double, Double, Double)]
      .repartition(1)
      .mapPartitions(it => lrTrainReplay(it.toArray, steps, rate))
      .toDF("w0", "w1", "w2", "w3")
  }

  /** round(v, 9) → DECIMAL(18,9) as an unscaled long — the exact
    * integer the chain's `sum(CAST(round(g·x, 9) AS DECIMAL(18,9)))`
    * accumulates per row. `BigDecimal.valueOf` is the same
    * Double.toString-based constructor Spark's Round and double→
    * decimal Cast use, and the 1e-9 grid admits exactly one decimal
    * inside a double's rounding interval at these magnitudes, so the
    * one-step quantization equals the round-then-cast composition.
    */
  private def lrQ9(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** The single-task GD replay body — bit-identical to
    * [[trainQualityModel]]'s unrolled chain by construction: per-row
    * logit/ExactExp/sigmoid in the same IEEE op order the generated
    * code evaluates, gradient sums as exact scale-9 integers
    * (order-free), weight updates through the same decimal→double
    * cast (`BigDecimal.doubleValue`, Spark's `Decimal.toDouble`).
    * Factored out so ReplayCalibrate can time the shipped body.
    */
  private[graft] def lrTrainReplay(
      rows: Array[(Double, Double, Double, Double)],
      steps: Int, rate: Double): Iterator[(Double, Double, Double, Double)] = {
    val nD = rows.length.toDouble // CAST(count(*) AS DOUBLE): exact
    var w0 = 0.0; var w1 = 0.0; var w2 = 0.0; var w3 = 0.0
    var step = 0
    while (step < steps) {
      var s0 = 0L; var s1 = 0L; var s2 = 0L; var s3 = 0L
      var i = 0
      while (i < rows.length) {
        val row = rows(i)
        val y = row._1; val x1 = row._2; val x2 = row._3; val x3 = row._4
        // lrLogit: left-associated 4-term dot product
        val z = w0 + w1 * x1 + w2 * x2 + w3 * x3
        // ExactExp staged chain on (0.0 - z)
        val u = (0.0 - z) / 64.0
        var acc = 1.0
        var k = 17
        while (k >= 2) { acc = 1.0 + u * (1.0 / k) * acc; k -= 1 }
        var p = 1.0 + u * acc
        var sq = 0
        while (sq < 6) { p = p * p; sq += 1 }
        val g = 1.0 / (1.0 + p) - y
        s0 += lrQ9(g); s1 += lrQ9(g * x1); s2 += lrQ9(g * x2); s3 += lrQ9(g * x3)
        i += 1
      }
      def d9(s: Long): Double =
        new java.math.BigDecimal(java.math.BigInteger.valueOf(s), 9).doubleValue()
      w0 = w0 - rate * (d9(s0) / nD)
      w1 = w1 - rate * (d9(s1) / nD)
      w2 = w2 - rate * (d9(s2) / nD)
      w3 = w3 - rate * (d9(s3) / nD)
      step += 1
    }
    Iterator.single((w0, w1, w2, w3))
  }

  /** Score a feature frame against a broadcast 1-row weight frame —
    * the serving projection, shared by the batch query and the
    * streaming sink.
    */
  private[graft] def scoreQuality(feat: DataFrame, weights: DataFrame): DataFrame =
    feat.crossJoin(broadcast(weights))
      .withColumn("logit", expr(lrLogit("")))
      .withColumn("admit", col("logit") >= 0.0)

  def qualityLogregFilter(spark: SparkSession, dir: String): DataFrame = {
    val feat = graft.core.OwnedCaches.own(
      lrFeaturesOf(qualityRuleSignals(spark, dir), withLabel = true).cache())
    val w = trainQualityModelAuto(spark, dir, feat)
    scoreQuality(feat, w)
      .select(col("doc_id"), col("y").as("label_kept"),
        col("logit"), col("admit"))
      .orderBy("doc_id")
  }

  /** The full train-chain CTE prelude (toks → base → feat → w0 →
    * unrolled GD steps → w{LrSteps}) — shared text between the
    * scoring oracle and the eval oracle, so the two always replay the
    * identical training.
    */
  private def lrChainCtes: String = {
    import graft.functions.ExactExp
    def step(prev: String, i: Int): String = {
      val sig = s"(1.0 / (1.0 + ${ExactExp.expExpr(s"__p$i")}))"
      s"""sc$i AS (
         |  SELECT f.*, $prev.w0 AS pw0, $prev.w1 AS pw1, $prev.w2 AS pw2, $prev.w3 AS pw3,
         |    (${ExactExp.uExpr(s"(0.0 - (${lrLogit(s"$prev.")}))")}) AS __u$i
         |  FROM feat f, $prev),
         |sp$i AS (SELECT *, ${ExactExp.pExpr(s"__u$i")} AS __p$i FROM sc$i),
         |sg$i AS (SELECT *, $sig - y AS g FROM sp$i),
         |su$i AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(round(g, 9) AS DECIMAL(18,9))) AS s0,
         |    sum(CAST(round(g * x1, 9) AS DECIMAL(18,9))) AS s1,
         |    sum(CAST(round(g * x2, 9) AS DECIMAL(18,9))) AS s2,
         |    sum(CAST(round(g * x3, 9) AS DECIMAL(18,9))) AS s3,
         |    any_value(pw0) AS pw0, any_value(pw1) AS pw1,
         |    any_value(pw2) AS pw2, any_value(pw3) AS pw3
         |  FROM sg$i),
         |w$i AS (
         |  SELECT
         |    (pw0 - $LrRate * (CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE))) AS w0,
         |    (pw1 - $LrRate * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS w1,
         |    (pw2 - $LrRate * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))) AS w2,
         |    (pw3 - $LrRate * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))) AS w3
         |  FROM su$i)""".stripMargin
    }
    val steps = (1 to LrSteps).map(i => step(s"w${i - 1}", i)).mkString(",\n")
    s"""$QualityToksCte,
       |base AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS nt,
       |    CAST(greatest(len(t) - 2, 1) - $TriShingleDistinctSql AS BIGINT) AS dupn,
       |    CAST(greatest(len(t) - 2, 1) AS BIGINT) AS tt,
       |    CAST(len(list_filter(t, x -> x IN ($StopListSql))) AS BIGINT) AS sc
       |  FROM toks WHERE len(t) > 0),
       |feat AS (
       |  SELECT doc_id,
       |    CASE WHEN nt >= $MinKeepTokens
       |      AND CAST(dupn AS DOUBLE) / CAST(tt AS DOUBLE) < CAST(0.05 AS DOUBLE)
       |      AND CAST(sc AS DOUBLE) / CAST(nt AS DOUBLE) >= CAST(0.05 AS DOUBLE)
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y,
       |    CAST(nt AS DOUBLE) / 100.0 AS x1,
       |    CAST(sc AS DOUBLE) / CAST(nt AS DOUBLE) AS x2,
       |    CAST(dupn AS DOUBLE) / CAST(tt AS DOUBLE) AS x3
       |  FROM base),
       |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |$steps""".stripMargin
  }

  val qualityLogregFilterSql: String =
    s"""WITH $lrChainCtes
       |SELECT f.doc_id, f.y AS label_kept,
       |  (${lrLogit("w.")}) AS logit,
       |  (${lrLogit("w.")}) >= 0.0 AS admit
       |FROM feat f, w$LrSteps w
       |ORDER BY f.doc_id""".stripMargin

  // ----------------------------------------------------- quality_logreg_eval

  /** Operating points for the student-vs-teacher sweep (logit
    * thresholds, q1 units ×10 to keep the spine integer).
    */
  private val LrEvalThresholdsQ1 = Seq(-2, -1, 0, 1, 2)

  /** Student-vs-teacher evaluation of the distilled quality filter:
    * the confusion matrix (TP/FP/FN/TN vs [[qualityFilter]]'s
    * verdict) with precision / recall / F1 at FIVE logit operating
    * points — the curve a pipeline owner reads to RETUNE the admit
    * threshold without retraining (the whole point of replacing the
    * hard rule with a calibrated score). Completes the family's
    * predict → measure → decide loop: `quality_logreg_filter` trains
    * and scores, this measures what the score buys at each cut.
    *
    * Parity: the training chain is the SAME unrolled text
    * ([[lrChainCtes]]); thresholds are exact q1 decimals; every
    * confusion cell is an exact conditional count and the three
    * ratios are single divisions of exact longs. F1 as 2TP/(2TP+FP+FN)
    * — one division, no precision·recall float composition; empty
    * denominators return 0 on both faces (the knn_reciprocal_rate
    * degenerate-input convention).
    *
    * Scale shape: one scored pass (bounded threshold spine ×
    * doc-frame, map-side conditional counts) — the explode is 5×,
    * never data-shaped; output is 5 rows.
    */
  def qualityLogregEval(spark: SparkSession, dir: String): DataFrame = {
    val feat = graft.core.OwnedCaches.own(
      lrFeaturesOf(qualityRuleSignals(spark, dir), withLabel = true).cache())
    val w = trainQualityModelAuto(spark, dir, feat)
    val scored = scoreQuality(feat, w)
    val spine = spark.range(1).select(
      explode(lit(LrEvalThresholdsQ1.toArray)).as("tq1"))
      .withColumn("threshold", expr("CAST(tq1 AS DOUBLE) / CAST(10 AS DOUBLE)"))
    scored.crossJoin(broadcast(spine))
      .groupBy(col("tq1"), col("threshold"))
      .agg(
        sum(when(col("y") === 1.0 && col("logit") >= col("threshold"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("y") === 0.0 && col("logit") >= col("threshold"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("y") === 1.0 && col("logit") < col("threshold"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("y") === 0.0 && col("logit") < col("threshold"), 1L)
          .otherwise(0L)).as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE)" +
          " ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END").as("precision"),
        expr("CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE)" +
          " ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END").as("recall"),
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0 AS DOUBLE)" +
          " ELSE CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END").as("f1"))
      .orderBy("threshold")
  }

  val qualityLogregEvalSql: String = {
    val spine = LrEvalThresholdsQ1.mkString(", ")
    s"""WITH $lrChainCtes,
       |scored AS (
       |  SELECT f.y, (${lrLogit("w.")}) AS logit
       |  FROM feat f, w$LrSteps w),
       |spine AS (SELECT unnest([$spine]) AS tq1),
       |sp AS (SELECT tq1, CAST(tq1 AS DOUBLE) / CAST(10 AS DOUBLE) AS threshold FROM spine),
       |cm AS (
       |  SELECT threshold,
       |    CAST(sum(CASE WHEN y = 1.0 AND logit >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN y = 0.0 AND logit >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN y = 1.0 AND logit < threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN y = 0.0 AND logit < threshold THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM scored, sp GROUP BY 1)
       |SELECT threshold, tp, fp, fn, tn,
       |  CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       |  CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       |  CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
       |FROM cm ORDER BY threshold""".stripMargin
  }

  // ------------------------------------------------------------ ttr_by_source

  /** Lexical diversity per source, both grains at once: the corpus
    * type-token ratio (vocab / tokens — [[heapsLawCurve]]'s endpoint,
    * size-confounded by design) and the MEAN per-document TTR (the
    * size-robust diversity readout curation actually thresholds on:
    * a source of short varied docs and a source of long repetitive
    * ones can share a corpus TTR while their doc-level means
    * separate). Complements [[hapaxRatio]] (singleton share of the
    * vocabulary) with the share-of-use view. Per-doc ratios are
    * rounded to 9 decimals into DECIMAL before the mean (the
    * rounded-parity convention — a per-source sum of raw doubles has
    * no canonical order).
    *
    * Scale shape: one token explode feeds two partial-agg groupBys
    * ((source, doc) and (source, term)); everything after runs on
    * source-bounded frames.
    */
  def ttrBySource(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables(spark, dir).documents
      .select(col("source"), col("doc_id"),
        explode(filter(split(col("text"), " +"), t => length(t) > 0)).as("term"))
    val perDoc = tok.groupBy(col("source"), col("doc_id"))
      .agg(countDistinct(col("term")).as("v"), count(lit(1)).as("nt"))
      .withColumn("ttr9",
        expr("CAST(round(CAST(v AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS DECIMAL(18,9))"))
    val docAgg = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ttr9")).as("sttr"))
    val srcAgg = tok.groupBy(col("source"))
      .agg(countDistinct(col("term")).as("vocab_size"), count(lit(1)).as("n_tokens"))
    docAgg.join(srcAgg, "source")
      .select(col("source"), col("n_docs"), col("vocab_size"), col("n_tokens"),
        expr("CAST(vocab_size AS DOUBLE) / CAST(n_tokens AS DOUBLE)").as("source_ttr"),
        expr("CAST(sttr AS DOUBLE) / CAST(n_docs AS DOUBLE)").as("mean_doc_ttr"))
      .orderBy("source")
  }

  val ttrBySourceSql: String =
    """WITH tok AS (
      |  SELECT source, doc_id, unnest(list_filter(string_split_regex(text, ' +'),
      |    x -> len(x) > 0)) AS term
      |  FROM documents),
      |per_doc AS (
      |  SELECT source, doc_id, count(DISTINCT term) AS v, count(*) AS nt
      |  FROM tok GROUP BY 1, 2),
      |pd9 AS (
      |  SELECT source,
      |    CAST(round(CAST(v AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS DECIMAL(18,9)) AS ttr9
      |  FROM per_doc),
      |da AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs, sum(ttr9) AS sttr
      |  FROM pd9 GROUP BY 1),
      |sa AS (
      |  SELECT source, CAST(count(DISTINCT term) AS BIGINT) AS vocab_size,
      |    CAST(count(*) AS BIGINT) AS n_tokens
      |  FROM tok GROUP BY 1)
      |SELECT source, n_docs, vocab_size, n_tokens,
      |  CAST(vocab_size AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS source_ttr,
      |  CAST(sttr AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_doc_ttr
      |FROM da JOIN sa USING (source)
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------- kl_vs_corpus_by_source

  /** Per-source unigram KL divergence from the corpus mix:
    * KL(p_source ‖ p_corpus) = Σ_t p(t|s)·ln(p(t|s)/p(t)) — the
    * single-number "how far does this source's vocabulary usage sit
    * from the blend" that ranks sources for mixture reweighting
    * (the one-vs-corpus companion of `source_divergence_matrix`'s
    * pairwise table, and the quantity DSIR-style importance weights
    * exponentiate). Every term ratio is an exact-integer cross ratio
    * (tf_s·N)/(tf·N_s) fed to the shared ExactLn chain; per-term
    * contributions are rounded to 12 decimals into DECIMAL and
    * summed exactly (the rounded-parity convention). KL ≥ 0 with
    * equality iff the source matches the blend; no smoothing is
    * needed because every source term occurs in the corpus by
    * construction.
    *
    * Scale shape: one (source, term) partial-agg pass, a broadcast
    * corpus-total join keyed on term, and a source-bounded final
    * aggregate. Vocabulary-bounded, not corpus-bounded, after the
    * first shuffle.
    */
  def klVsCorpusBySource(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val tok = Tables(spark, dir).documents
      .select(col("source"),
        explode(filter(split(col("text"), " +"), t => length(t) > 0)).as("term"))
    val terms = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    val nsrc = terms.groupBy(col("source")).agg(sum(col("tf")).as("ns"))
    val corpus = terms.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val nn = corpus.agg(sum(col("ctf")).as("nn"))
    terms.join(nsrc, "source").join(corpus, "term").crossJoin(broadcast(nn))
      .withColumn("ratio",
        // Each factor fits int64 and is exact in a double, so casting
        // per-factor keeps the correctly-rounded product while avoiding
        // the silent BIGINT wrap of tf*nn once ns*nn nears 9.2e18
        // (DuckDB raises there; Spark wraps — per-factor casts keep the
        // two engines on the same arithmetic at any corpus size).
        expr("(CAST(tf AS DOUBLE) * CAST(nn AS DOUBLE)) / (CAST(ctf AS DOUBLE) * CAST(ns AS DOUBLE))"))
      .withColumn("__ky", expr(ExactLn.yExpr("ratio")))
      .withColumn("__kz", expr(ExactLn.zExpr("__ky")))
      .withColumn("contrib", expr(
        s"CAST(round((CAST(tf AS DOUBLE) / CAST(ns AS DOUBLE)) * (${ExactLn.lnExpr("__kz")}), 12) AS DECIMAL(18,12))"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"), max(col("ns")).as("n_tokens"),
        sum(col("contrib")).as("klsum"))
      .select(col("source"), col("n_terms"), col("n_tokens"),
        expr("CAST(klsum AS DOUBLE)").as("kl_nats"))
      .orderBy("source")
  }

  lazy val klVsCorpusBySourceSql: String = {
    import graft.functions.ExactLn
    s"""WITH tok AS (
       |  SELECT source, unnest(list_filter(string_split_regex(text, ' +'),
       |    x -> len(x) > 0)) AS term
       |  FROM documents),
       |terms AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |nsrc AS (SELECT source, CAST(sum(tf) AS BIGINT) AS ns FROM terms GROUP BY 1),
       |corpus AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM terms GROUP BY 1),
       |nnt AS (SELECT CAST(sum(ctf) AS BIGINT) AS nn FROM corpus),
       |r AS (
       |  SELECT t.source, t.tf, s.ns,
       |    (CAST(t.tf AS DOUBLE) * CAST(nnt.nn AS DOUBLE)) / (CAST(c.ctf AS DOUBLE) * CAST(s.ns AS DOUBLE)) AS ratio
       |  FROM terms t JOIN nsrc s USING (source) JOIN corpus c USING (term), nnt),
       |y1 AS (SELECT *, ${ExactLn.yExpr("ratio")} AS __ky FROM r),
       |z1 AS (SELECT *, ${ExactLn.zExpr("__ky")} AS __kz FROM y1),
       |cb AS (
       |  SELECT source, ns,
       |    CAST(round((CAST(tf AS DOUBLE) / CAST(ns AS DOUBLE)) * (${ExactLn.lnExpr("__kz")}), 12) AS DECIMAL(18,12)) AS contrib
       |  FROM z1)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(max(ns) AS BIGINT) AS n_tokens,
       |  CAST(sum(contrib) AS DOUBLE) AS kl_nats
       |FROM cb GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ------------------------------------------------- good_turing_estimate

  /** Rows of the Good–Turing frequency spectrum the smoother reads:
    * small r only — the regime where N_r is dense and the estimator
    * is meaningful (beyond it one switches to the fitted tail).
    */
  private val GoodTuringMaxR = 5

  /** Good–Turing frequency-of-frequencies estimate per source: for
    * r = 1…[[GoodTuringMaxR]], the type count N_r, the smoothed count
    * r* = (r+1)·N_{r+1}/N_r, and the source's unseen-mass estimate
    * p₀ = N₁/N — the quantity that says how OPEN each source's
    * vocabulary still is (a crawler source with high p₀ keeps paying
    * novelty; one near 0 has been exhausted), and the classical
    * smoother under held-out language-model evaluation. Everything is
    * exact integer counts off one (source, term) aggregate; r* and p₀
    * are single guarded double divides.
    *
    * Scale shape: tokenize → (source, term) partial-agg →
    * (source, tf) re-agg (vocabulary-bounded, then spectrum-bounded:
    * ≤ maxR rows per source survive the spine join). Nothing after
    * the first shuffle is corpus-sized.
    */
  def goodTuringEstimate(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables(spark, dir).documents
      .select(col("source"),
        explode(filter(split(col("text"), " +"), t => length(t) > 0)).as("term"))
    val tf = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    val fof = tf.groupBy(col("source"), col("tf")).agg(count(lit(1)).as("n_r"))
    val ns = tf.groupBy(col("source"))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_types"))
    val spine = fof.filter(col("tf") <= GoodTuringMaxR)
      .select(col("source"), col("tf").as("r"), col("n_r"))
    val nxt = fof.select(col("source"), (col("tf") - 1).as("r"),
      col("n_r").as("n_r1"))
    val n1 = fof.filter(col("tf") === 1)
      .select(col("source"), col("n_r").as("n_1"))
    spine.join(nxt, Seq("source", "r"), "left")
      .join(ns, "source").join(n1, Seq("source"), "left")
      .select(col("source"), col("r").cast("long").as("r"),
        col("n_r").cast("long").as("n_r"),
        coalesce(col("n_r1"), lit(0L)).cast("long").as("n_r_next"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_types").cast("long").as("n_types"),
        expr("(CAST(r AS DOUBLE) + CAST(1 AS DOUBLE)) * CAST(coalesce(n_r1, 0) AS DOUBLE) / CAST(n_r AS DOUBLE)").as("r_star"),
        expr("CAST(coalesce(n_1, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)").as("p0_unseen"))
      .orderBy("source", "r")
  }

  lazy val goodTuringEstimateSql: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(list_filter(string_split_regex(text, ' +'),
       |    x -> len(x) > 0)) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |fof AS (
       |  SELECT source, tf, CAST(count(*) AS BIGINT) AS n_r FROM tf GROUP BY 1, 2),
       |ns AS (
       |  SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types
       |  FROM tf GROUP BY 1),
       |n1 AS (SELECT source, n_r AS n_1 FROM fof WHERE tf = 1)
       |SELECT s.source AS source, CAST(s.tf AS BIGINT) AS r, s.n_r,
       |  CAST(coalesce(x.n_r, 0) AS BIGINT) AS n_r_next,
       |  ns.n_tokens, ns.n_types,
       |  (CAST(s.tf AS DOUBLE) + CAST(1 AS DOUBLE)) * CAST(coalesce(x.n_r, 0) AS DOUBLE) / CAST(s.n_r AS DOUBLE) AS r_star,
       |  CAST(coalesce(n1.n_1, 0) AS DOUBLE) / CAST(ns.n_tokens AS DOUBLE) AS p0_unseen
       |FROM fof s
       |LEFT JOIN fof x ON x.source = s.source AND x.tf = s.tf + 1
       |JOIN ns ON ns.source = s.source
       |LEFT JOIN n1 ON n1.source = s.source
       |WHERE s.tf <= $GoodTuringMaxR
       |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------- yule_simpson_diversity

  /** Yule's K and Simpson's D lexical concentration per source —
    * the frequency-spectrum diversity pair (`ttr_by_source` and
    * `hapax_ratio` read the spectrum's EDGES; K and D weight its
    * whole shape): K = 10⁴·(Σtf² − N)/N² (repeat-rate, length-robust
    * where TTR is not) and D = Σtf(tf−1)/(N(N−1)) (the probability
    * two random tokens are the same type). Both are exact-integer
    * ratios — Σtf² via the ONE (19,0)×int multiply of the width
    * ledger — with one double divide each; a template-heavy source
    * (boilerplate crawl) jumps in BOTH while a natural one stays low,
    * which is the dedup-adjacent signal a mixture planner reads.
    *
    * Scale shape: one (source, term) partial-agg then a source-
    * bounded re-aggregate — vocabulary-bounded after the first
    * shuffle, like every spectrum query.
    */
  def yuleSimpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables(spark, dir).documents
      .select(col("source"),
        explode(filter(split(col("text"), " +"), t => length(t) > 0)).as("term"))
    val tf = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("source"))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(expr("CAST(tf AS DECIMAL(19,0)) * tf")).as("sf2"))
      .select(col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_types").cast("long").as("n_types"),
        expr(YuleK).as("yule_k"), expr(SimpsonD).as("simpson_d"))
      .orderBy("source")
  }

  private val YuleK: String =
    "CAST(10000 AS DOUBLE) * (CAST(sf2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))" +
      " / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))"
  private val SimpsonD: String =
    "(CAST(sf2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))" +
      " / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - CAST(1 AS DOUBLE)))"

  lazy val yuleSimpsonDiversitySql: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(list_filter(string_split_regex(text, ' +'),
       |    x -> len(x) > 0)) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |m AS (
       |  SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    sum(CAST(tf AS DECIMAL(19,0)) * tf) AS sf2
       |  FROM tf GROUP BY 1)
       |SELECT source, n_tokens, n_types,
       |  $YuleK AS yule_k, $SimpsonD AS simpson_d
       |FROM m ORDER BY source""".stripMargin

  // ------------------------------------------------- dunning_g2_keywords

  private val DunningTopK = 5
  private val DunningMinTf = 5L

  /** Top-[[DunningTopK]] keywords per source by Dunning's
    * log-likelihood G² against the REST of the corpus — the standard
    * corpus-linguistics keyness extraction (the per-term significance
    * companion of [[klVsCorpusBySource]]'s single-number divergence):
    * for each (source, term) with corpus tf ≥ [[DunningMinTf]], the
    * 2×2 table (a = tf in source, b = tf elsewhere, c/d = other
    * tokens), G² = 2·Σ obs·ln(obs/exp). Every ln argument is an
    * exact-integer cross ratio (obs·N)/(row·col) pushed through the
    * shared ExactLn chain with per-factor double casts (the
    * kl_vs_corpus convention — no BIGINT wrap at any corpus size);
    * zero cells contribute 0 by the x·ln(x) → 0 convention, guarded
    * BEFORE the chain. Signed by over/under-use (a vs exp_a) so
    * anti-keywords rank negative; ties broken by term.
    *
    * Scale shape: one (source, term) aggregate joined to the
    * term-marginal and source-marginal frames (vocabulary-bounded),
    * four ln chains per surviving row, one top-k window per source.
    */
  def dunningG2Keywords(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val tok = Tables(spark, dir).documents
      .select(col("source"),
        explode(filter(split(col("text"), " +"), t => length(t) > 0)).as("term"))
    val tf = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("a"))
    val nsrc = tf.groupBy(col("source")).agg(sum(col("a")).as("row_s"))
    val corpus = tf.groupBy(col("term")).agg(sum(col("a")).as("col_t"))
      .filter(col("col_t") >= DunningMinTf)
    val nn = nsrc.agg(sum(col("row_s")).as("nn"))
    val base = tf.join(corpus, "term").join(nsrc, "source").crossJoin(broadcast(nn))
      .withColumn("b", col("col_t") - col("a"))
      .withColumn("c", col("row_s") - col("a"))
      .withColumn("d", col("nn") - col("col_t") - col("row_s") + col("a"))
    // per-cell ln(obs·N / (row·col)) via the ExactLn chain; the zero
    // guard short-circuits the whole term (0·ln → 0)
    def cell(obs: String, row: String, colm: String, tag: String) = {
      val ratio = s"(CAST($obs AS DOUBLE) * CAST(nn AS DOUBLE)) / (CAST($row AS DOUBLE) * CAST($colm AS DOUBLE))"
      (df: DataFrame) => df
        .withColumn(s"__y$tag", expr(s"CASE WHEN $obs = 0 THEN CAST(1 AS DOUBLE) ELSE ${ExactLn.yExpr(ratio)} END"))
        .withColumn(s"__z$tag", expr(ExactLn.zExpr(s"__y$tag")))
        .withColumn(s"__l$tag", expr(
          s"CASE WHEN $obs = 0 THEN CAST(0 AS DOUBLE) ELSE CAST($obs AS DOUBLE) * (${ExactLn.lnExpr(s"__z$tag")}) END"))
    }
    val cells = Seq(
      cell("a", "row_s", "col_t", "a"),
      cell("b", "nn - row_s", "col_t", "b"),
      cell("c", "row_s", "nn - col_t", "c"),
      cell("d", "nn - row_s", "nn - col_t", "d"))
    val scored = cells.foldLeft(base)((df, f) => f(df))
      .withColumn("g2", expr(DunningG2))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("g2").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= DunningTopK)
      .select(col("source"), col("rk").cast("long").as("rk"), col("term"),
        col("a").cast("long").as("tf_source"),
        col("col_t").cast("long").as("tf_corpus"), col("g2"))
      .orderBy("source", "rk")
  }

  /** signed G² = sign(a − exp_a) · 2·(Σ cell lns) — one text on the
    * staged __l columns.
    */
  private val DunningG2: String =
    "(CASE WHEN CAST(a AS DOUBLE) * CAST(nn AS DOUBLE) >= CAST(row_s AS DOUBLE) * CAST(col_t AS DOUBLE) " +
      "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) " +
      "* CAST(2 AS DOUBLE) * (__la + __lb + __lc + __ld)"

  lazy val dunningG2KeywordsSql: String = {
    import graft.functions.ExactLn
    def cell(obs: String, row: String, colm: String, tag: String): Seq[String] = {
      val ratio = s"(CAST($obs AS DOUBLE) * CAST(nn AS DOUBLE)) / (CAST($row AS DOUBLE) * CAST($colm AS DOUBLE))"
      Seq(
        s"CASE WHEN $obs = 0 THEN CAST(1 AS DOUBLE) ELSE ${ExactLn.yExpr(ratio)} END AS __y$tag",
        s"${ExactLn.zExpr(s"__y$tag")} AS __z$tag",
        s"CASE WHEN $obs = 0 THEN CAST(0 AS DOUBLE) ELSE CAST($obs AS DOUBLE) * (${ExactLn.lnExpr(s"__z$tag")}) END AS __l$tag")
    }
    val stages = Seq(
      cell("a", "row_s", "col_t", "a"), cell("b", "nn - row_s", "col_t", "b"),
      cell("c", "row_s", "nn - col_t", "c"), cell("d", "nn - row_s", "nn - col_t", "d"))
    // y-stages first (need base cols), then z, then l — same staging
    // as the Spark face's withColumn chain
    val ys = stages.map(_(0)).mkString(",\n    ")
    val zs = stages.map(_(1)).mkString(",\n    ")
    val ls = stages.map(_(2)).mkString(",\n    ")
    s"""WITH tok AS (
       |  SELECT source, unnest(list_filter(string_split_regex(text, ' +'),
       |    x -> len(x) > 0)) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS a FROM tok GROUP BY 1, 2),
       |nsrc AS (SELECT source, CAST(sum(a) AS BIGINT) AS row_s FROM tf GROUP BY 1),
       |corpus AS (
       |  SELECT term, CAST(sum(a) AS BIGINT) AS col_t FROM tf GROUP BY 1
       |  HAVING sum(a) >= $DunningMinTf),
       |nnt AS (SELECT CAST(sum(row_s) AS BIGINT) AS nn FROM nsrc),
       |base AS (
       |  SELECT t.source, t.term, t.a, c.col_t, s.row_s, nnt.nn,
       |    c.col_t - t.a AS b, s.row_s - t.a AS c,
       |    nnt.nn - c.col_t - s.row_s + t.a AS d
       |  FROM tf t JOIN corpus c USING (term) JOIN nsrc s USING (source), nnt),
       |y1 AS (SELECT *,
       |    $ys
       |  FROM base),
       |z1 AS (SELECT *,
       |    $zs
       |  FROM y1),
       |l1 AS (SELECT *,
       |    $ls
       |  FROM z1),
       |g AS (
       |  SELECT source, term, a, col_t, $DunningG2 AS g2,
       |    row_number() OVER (PARTITION BY source ORDER BY $DunningG2 DESC, term) AS rk
       |  FROM l1)
       |SELECT source, CAST(rk AS BIGINT) AS rk, term,
       |  CAST(a AS BIGINT) AS tf_source, CAST(col_t AS BIGINT) AS tf_corpus, g2
       |FROM g WHERE rk <= $DunningTopK
       |ORDER BY source, rk""".stripMargin
  }

  // ------------------------------------------------ vocab_overlap_matrix

  /** Pairwise source VOCABULARY overlap: for every source pair, the
    * shared type count, Jaccard, and the overlap (Szymkiewicz-
    * Simpson) coefficient — the corpus-mixing diagnostic at the
    * vocabulary grain ([[klVsCorpusBySource]] weights by frequency;
    * this asks only "do the sources even share a lexicon", which is
    * what a tokenizer-budget or dedup-scope decision reads first).
    * Same whitespace tokenization as [[ttrBySource]]; everything is
    * exact distinct-counting on the (source, term) spine.
    *
    * Scale shape: one token scan to the distinct (source, term)
    * frame (vocabulary-bounded, not corpus-bounded), a term-keyed
    * self-join for intersections on that bounded frame, broadcast
    * sizes; output is (sources choose 2) rows.
    */
  def vocabOverlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables(spark, dir).documents
      .select(col("source"),
        explode(filter(split(col("text"), " +"), t => length(t) > 0)).as("term"))
      .distinct()
    val vocabC = graft.core.OwnedCaches.own(vocab.cache())
    val sizes = vocabC.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val inter = vocabC.select(col("source").as("source_a"), col("term"))
      .join(vocabC.select(col("source").as("source_b"), col("term")), "term")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("v").as("va"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("v").as("vb"))), "source_b")
      .selectExpr("source_a", "source_b",
        "CAST(va AS BIGINT) AS vocab_a", "CAST(vb AS BIGINT) AS vocab_b",
        "CAST(n_shared AS BIGINT) AS n_shared",
        "CAST(n_shared AS DOUBLE) / CAST(va + vb - n_shared AS DOUBLE) AS jaccard",
        "CAST(n_shared AS DOUBLE) / CAST(least(va, vb) AS DOUBLE) AS overlap_coef")
      .orderBy("source_a", "source_b")
  }

  val vocabOverlapMatrixSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(list_filter(string_split_regex(text, ' +'),
      |    x -> len(x) > 0)) AS term
      |  FROM documents),
      |vocab AS (SELECT DISTINCT source, term FROM tok),
      |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM vocab GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(count(*) AS BIGINT) AS n_shared
      |  FROM vocab a JOIN vocab b ON a.term = b.term AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, sa.v AS vocab_a, sb.v AS vocab_b, n_shared,
      |  CAST(n_shared AS DOUBLE) / CAST(sa.v + sb.v - n_shared AS DOUBLE) AS jaccard,
      |  CAST(n_shared AS DOUBLE) / CAST(least(sa.v, sb.v) AS DOUBLE) AS overlap_coef
      |FROM inter
      |JOIN sizes sa ON source_a = sa.source
      |JOIN sizes sb ON source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin
}
