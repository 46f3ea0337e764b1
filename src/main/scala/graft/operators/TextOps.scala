package graft.operators

import graft.Engine._
import graft.{GQuery, QueryModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for LLM training-data curation over `documents`: n-gram
  * language ID, quality scoring, token statistics, and rolling-hash document
  * fingerprints. All pure column expressions (whole-stage codegen, no UDFs);
  * every derived number is exact-integer or fixed-order IEEE double so the
  * DuckDB oracle matches bit-for-bit.
  *
  * Reference provenance: the reference has no text analytics; this is the
  * LLM-pipeline extension surface (BASELINE.json north star). The HTML strip
  * (F12) lives in Relational.htmlStrip; this module covers the corpus-stats
  * side.
  */
object TextOps extends QueryModule {

  /** Count non-overlapping occurrences of word `w` (space-delimited) via the
    * replace-length trick — identical greedy left-to-right semantics in both
    * engines, exact integer result.
    */
  private def wcount(w: String) =
    expr(s"(length(pt) - length(replace(pt, ' $w ', ''))) div ${w.length + 2}")

  private def wcountSql(w: String) =
    s"((length(pt) - length(replace(pt, ' $w ', ''))) // ${w.length + 2})"

  /** Keyword-profile language ID: score each doc against per-class marker
    * words, argmax with a deterministic priority order, then confusion-matrix
    * it against the labeled `lang` column.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    spread(table(s, dir, "documents"))
      .withColumn("pt", concat(lit(" "), col("text"), lit(" ")))
      .withColumn("s_a", wcount("table") + wcount("row") + wcount("query"))
      .withColumn("s_b", wcount("data") + wcount("value") + wcount("stream"))
      .withColumn("s_c", wcount("merge") + wcount("batch") + wcount("window"))
      .withColumn("predicted",
        when(col("s_a") >= col("s_b") && col("s_a") >= col("s_c"), "cls_a")
          .when(col("s_b") >= col("s_c"), "cls_b")
          .otherwise("cls_c"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  private val langIdSql = {
    val sa = s"${wcountSql("table")} + ${wcountSql("row")} + ${wcountSql("query")}"
    val sb = s"${wcountSql("data")} + ${wcountSql("value")} + ${wcountSql("stream")}"
    val sc = s"${wcountSql("merge")} + ${wcountSql("batch")} + ${wcountSql("window")}"
    s"""SELECT lang, predicted, COUNT(*) AS n FROM (
       |  SELECT lang,
       |    CASE WHEN s_a >= s_b AND s_a >= s_c THEN 'cls_a'
       |         WHEN s_b >= s_c THEN 'cls_b'
       |         ELSE 'cls_c' END AS predicted
       |  FROM (SELECT lang, $sa AS s_a, $sb AS s_b, $sc AS s_c
       |        FROM (SELECT lang, ' ' || text || ' ' AS pt FROM documents)))
       |GROUP BY lang, predicted""".stripMargin
  }

  /** Per-doc quality score + decile bucket — the shared frame behind the
    * bucket profile (q67) and the curriculum interleave (q181). */
  private[graft] def qualityPerDoc(s: SparkSession, dir: String): DataFrame =
    spread(table(s, dir, "documents"))
      .withColumn("pt", concat(lit(" "), col("text"), lit(" ")))
      .withColumn("n_tok", size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))))
      .withColumn("alpha_len", length(regexp_replace(col("text"), "[^a-z0-9]", "")))
      .withColumn("stop_cnt", wcount("a") + wcount("the"))
      .withColumn("avg_wlen", col("alpha_len") / col("n_tok"))
      .withColumn("stop_ratio", col("stop_cnt") / col("n_tok"))
      .withColumn("quality",
        lit(0.4) * least(col("avg_wlen") / lit(8.0), lit(1.0)) +
        lit(0.3) * least(col("n_tok") / lit(300.0), lit(1.0)) +
        lit(0.3) * (lit(1.0) - least(col("stop_ratio") * lit(5.0), lit(1.0))))
      // quality can round to exactly 1.0 (0.4+0.3+0.3 in IEEE double), which
      // would yield bucket 10 and break the decile invariant (pos mod 10 ==
      // bucket in the curriculum); clamp the top edge into decile 9.
      .withColumn("bucket", least(floor(col("quality") * 10), lit(9L)).cast("long"))
      .select(col("doc_id"), col("quality"), col("bucket"))

  /** The same per-doc frame as a DuckDB CTE named `qdoc`. */
  private[graft] val qualityPerDocSql =
    s"""qdoc AS (
       |  SELECT doc_id, quality, CAST(least(floor(quality * 10), 9) AS BIGINT) AS bucket FROM (
       |    SELECT doc_id, 0.4 * least(avg_wlen / 8.0, 1.0)
       |         + 0.3 * least(n_tok / 300.0, 1.0)
       |         + 0.3 * (1.0 - least(stop_ratio * 5.0, 1.0)) AS quality
       |    FROM (
       |      SELECT doc_id, n_tok, alpha_len / n_tok AS avg_wlen, stop_cnt / n_tok AS stop_ratio
       |      FROM (
       |        SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_tok,
       |               length(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS alpha_len,
       |               ${wcountSql("a")} + ${wcountSql("the")} AS stop_cnt
       |        FROM (SELECT doc_id, text, ' ' || text || ' ' AS pt FROM documents)))))""".stripMargin

  /** Quality scoring: token count, mean word length, stopword ratio, folded
    * into a bounded [0,1] score and bucketed into deciles. The double
    * arithmetic is written in the same order in both engines.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    qualityPerDoc(s, dir)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), davg(col("quality"), 9).as("avg_quality"))
  }

  private val qualityScoreSql =
    s"""WITH $qualityPerDocSql
       |SELECT bucket, COUNT(*) AS n, ${DAVG("quality", 9)} AS avg_quality
       |FROM qdoc GROUP BY bucket""".stripMargin

  /** Curriculum interleave (q181): a deterministic training order over the
    * corpus in which consecutive positions cycle through the quality
    * deciles — the data-ordering step between scoring (q67) and packing
    * (q102), so a training run sees a stable mix of qualities instead of
    * accidental clumps. Rank derivation is SHARDED (q102's discipline):
    * docs hash into 32 shards, ranks are per-(bucket, shard) window
    * partitions — genuinely parallel at any corpus size, never a
    * one-reducer-per-decile sort — and the position formula
    * `(r-1)*320 + shard*10 + bucket` keeps the decile cycle
    * (pos mod 10 == bucket). The per-bucket rollup carries a modular
    * position-assignment digest, so the ORDER itself is hash-verified
    * cross-engine, not just the counts.
    */
  def curriculum(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("shard"))
      .orderBy(col("hk"), col("doc_id"))
    qualityPerDoc(s, dir)
      .withColumn("hk", md5Long(concat(lit("cur#"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("hk"), lit(32)))
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("pos", (col("r") - 1) * 320 + col("shard") * 10 + col("bucket"))
      .withColumn("dg",
        pmod(md5Long(concat(col("pos").cast("string"), lit("#"), col("doc_id").cast("string"))),
          lit(1000000)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("pos")).as("min_pos"),
        max(col("pos")).as("max_pos"),
        sum(col("dg")).as("order_digest"))
  }

  private val curriculumSql =
    s"""WITH $qualityPerDocSql,
       |rk AS (
       |  SELECT doc_id, bucket, hk, hk % 32 AS shard,
       |         CAST(ROW_NUMBER() OVER (
       |           PARTITION BY bucket, hk % 32 ORDER BY hk, doc_id) AS BIGINT) AS r
       |  FROM (SELECT doc_id, bucket,
       |               ${MD5L("'cur#' || CAST(doc_id AS VARCHAR)")} AS hk
       |        FROM qdoc)),
       |ps AS (
       |  SELECT bucket, (r - 1) * 320 + shard * 10 + bucket AS pos, doc_id FROM rk)
       |SELECT bucket, COUNT(*) AS n_docs,
       |       CAST(MIN(pos) AS BIGINT) AS min_pos,
       |       CAST(MAX(pos) AS BIGINT) AS max_pos,
       |       CAST(SUM(${MD5L("CAST(pos AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)")} % 1000000) AS BIGINT)
       |         AS order_digest
       |FROM ps GROUP BY bucket""".stripMargin

  /** Token statistics per language: doc counts, total/mean tokens, distinct
    * vocabulary size. Two aggregations joined on lang (the explode for
    * vocabulary is kept separate so the cheap stats don't pay for it).
    */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val d = spread(table(s, dir, "documents"))
      .withColumn("toks", regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
      // BPE-style pre-tokenizer: word pieces of <=4 chars, digit runs, or
      // any other non-space symbol (portable subset of the GPT-2 pattern)
      .withColumn("bpe_toks",
        regexp_extract_all(col("text"), lit("[a-z]{1,4}|[0-9]+|[^a-z0-9 ]"), lit(0)))
    val perDoc = d.select(col("lang"), size(col("toks")).as("nt"), size(col("bpe_toks")).as("nb"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("nt")).cast("long").as("total_tokens"),
           sum(col("nb")).cast("long").as("total_bpe_tokens"),
           davg(col("nt")).as("avg_tokens"))
    val vocab = d.select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("n_vocab"))
    perDoc.join(vocab, "lang")
  }

  private val tokenStatsSql =
    s"""SELECT t1.lang, n_docs, total_tokens, total_bpe_tokens, avg_tokens, n_vocab
       |FROM (
       |  SELECT lang, COUNT(*) AS n_docs,
       |         CAST(SUM(nt) AS BIGINT) AS total_tokens,
       |         CAST(SUM(nb) AS BIGINT) AS total_bpe_tokens,
       |         ${DAVG("nt")} AS avg_tokens
       |  FROM (SELECT lang, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS nt,
       |               CAST(len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9 ]')) AS INT) AS nb
       |        FROM documents)
       |  GROUP BY lang) t1
       |JOIN (
       |  SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_vocab
       |  FROM (SELECT lang, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok FROM documents)
       |  GROUP BY lang) t2
       |ON t1.lang = t2.lang""".stripMargin

  /** Rolling-hash fingerprint: min/max of the portable md5 hash over all
    * char 8-gram shingles (winnowing's min-hash selection), plus distinct
    * shingle count. One explode + one grouped agg.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    // char-8-gram explosion is a ~300x expansion: spread first
    spread(table(s, dir, "documents"))
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 7)).as("i"))
      .select(col("doc_id"), expr("substr(text, i, 8)").as("sh"))
      .withColumn("h", md5Long(col("sh")))
      // distinct over the 60-bit hash, not the string: same count (collision
      // odds ~2^-60) but the shuffle carries longs instead of shingle text
      .groupBy(col("doc_id"))
      .agg(min(col("h")).as("fp_min"),
           max(col("h")).as("fp_max"),
           countDistinct(col("h")).as("n_shingles"))
  }

  private val fingerprintSql =
    s"""SELECT doc_id, MIN(h) AS fp_min, MAX(h) AS fp_max,
       |CAST(COUNT(DISTINCT h) AS BIGINT) AS n_shingles
       |FROM (
       |  SELECT doc_id, sh, ${MD5L("sh")} AS h
       |  FROM (SELECT doc_id, substr(text, i, 8) AS sh
       |        FROM (SELECT doc_id, text, unnest(range(1, length(text)-6)) AS i
       |              FROM documents WHERE length(text) >= 8)))
       |GROUP BY doc_id""".stripMargin

  /** Capstone composition: the LLM data-curation pipeline end to end —
    * quality gate -> exact dedup (keep-first) -> per-language corpus stats —
    * one declarative plan over the duplicate-injected corpus, proving the
    * operators compose into the actual product pipeline.
    */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val kept = Dedup.augmentedDocs(s, dir)
      .withColumn("nt", size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))))
      .filter(col("nt") >= 20 && col("nt") <= 400) // quality gate
      .groupBy(col("lang"), col("text"))            // exact dedup, keep-first
      .agg(min(col("doc_id")).as("keep_id"), min(col("nt")).as("nt"), count(lit(1)).as("copies"))
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
           sum(col("copies") - 1).cast("long").as("n_dropped_dups"),
           sum(col("nt")).cast("long").as("total_tokens"),
           davg(col("nt")).as("avg_tokens"),
           min(col("keep_id")).as("first_keep"))
  }

  private val curationPipelineSql =
    s"""WITH docs AS (
       |  SELECT doc_id, text, lang FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, substr(text, 11), lang FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 200000, text, lang FROM documents WHERE doc_id % 7 = 0),
       |gated AS (
       |  SELECT * FROM (
       |    SELECT doc_id, text, lang,
       |           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS nt
       |    FROM docs)
       |  WHERE nt >= 20 AND nt <= 400),
       |deduped AS (
       |  SELECT lang, text, MIN(doc_id) AS keep_id, MIN(nt) AS nt, COUNT(*) AS copies
       |  FROM gated GROUP BY lang, text)
       |SELECT lang, COUNT(*) AS n_kept,
       |CAST(SUM(copies - 1) AS BIGINT) AS n_dropped_dups,
       |CAST(SUM(nt) AS BIGINT) AS total_tokens,
       |${DAVG("nt")} AS avg_tokens,
       |MIN(keep_id) AS first_keep
       |FROM deduped GROUP BY lang""".stripMargin

  /** TF-IDF top terms per language: term frequency within each lang,
    * document(-class) frequency across langs, idf = ln(n_langs/df), top-5
    * terms per lang by score. The tokenize explode is the UDTF surface; the
    * ranking is a bounded per-group top-k (WindowGroupLimit pushes the
    * limit below the sort at scale). Both engines rank by the ROUNDED score
    * (6 digits) with a term tiebreak, so the one permissible ulp between
    * ln() implementations cannot reorder the top-k.
    */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val toks = spread(table(s, dir, "documents"))
      .select(col("lang"), explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("tok"))
    val tf = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nLangs = toks.agg(countDistinct(col("lang")).as("n_langs"))
    val scored = tf.join(dfreq, "tok")
      .crossJoin(broadcast(nLangs))
      .withColumn("score",
        round(col("tf") * log(col("n_langs").cast("double") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("tok"), col("tf"), col("df"), col("score"), col("rn"))
  }

  private val tfidfSql =
    """WITH toks AS (
      |  SELECT lang, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok FROM documents),
      |tf AS (SELECT lang, tok, COUNT(*) AS tf FROM toks GROUP BY lang, tok),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |nl AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs FROM toks),
      |scored AS (
      |  SELECT tf.lang, tf.tok, tf.tf, dfreq.df,
      |         round(tf.tf * ln(CAST(nl.n_langs AS DOUBLE) / dfreq.df), 6) AS score
      |  FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN nl)
      |SELECT lang, tok, tf, df, score, rn FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, tok) AS INT) AS rn
      |  FROM scored)
      |WHERE rn <= 5""".stripMargin

  /** PII redaction (curation pass every training corpus runs): mask
    * email- and phone-shaped spans with typed placeholders. PII spans are
    * synthesized deterministically around fixture text so both engines
    * scrub identical bytes; the patterns use portable regex subsets
    * (character classes + bounded repeats — identical in Java regex and
    * RE2). Counts prove every injected span was caught.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "documents")
      .withColumn("raw", concat(
        lit("contact user"), col("doc_id"), lit("@corp.example or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" re: "), expr("substr(text, 1, 40)")))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(col("raw"), "[a-z0-9]+@[a-z]+\\.[a-z]+", "<EMAIL>"),
          "\\+1-555-[0-9]{4}", "<PHONE>"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("redacted").contains("<EMAIL>"), 1L).otherwise(0L)).as("n_email_hits"),
           sum(when(col("redacted").contains("<PHONE>"), 1L).otherwise(0L)).as("n_phone_hits"),
           sum(when(col("redacted").rlike("@|\\+1-555"), 1L).otherwise(0L)).as("n_leaks"),
           sum(length(col("raw")) - length(col("redacted"))).as("chars_removed"))
  }

  private val piiRedactSql =
    """SELECT COUNT(*) AS n_docs,
      |CAST(SUM(CASE WHEN contains(redacted, '<EMAIL>') THEN 1 ELSE 0 END) AS BIGINT) AS n_email_hits,
      |CAST(SUM(CASE WHEN contains(redacted, '<PHONE>') THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_hits,
      |CAST(SUM(CASE WHEN regexp_matches(redacted, '@|\+1-555') THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks,
      |CAST(SUM(length(raw) - length(redacted)) AS BIGINT) AS chars_removed
      |FROM (
      |  SELECT raw, regexp_replace(
      |           regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
      |           '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |  FROM (SELECT 'contact user' || CAST(doc_id AS VARCHAR) || '@corp.example or +1-555-'
      |               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |               || ' re: ' || substr(text, 1, 40) AS raw
      |        FROM documents))""".stripMargin

  /** Repetition ratio (Gopher-style quality rule): 1 - distinct/total word
    * 3-grams per doc — boilerplate and looped generations score high. One
    * explode + two-level aggregate; per-lang stats plus the count of docs
    * over the 0.2 threshold.
    */
  def repetitionRatio(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val grams = spread(table(s, dir, "documents"))
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(ws)-2), i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1), element_at(ws, i+2)))")).as("g"))
    grams.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_total"), countDistinct(col("g")).as("n_distinct"))
      .withColumn("rep_ratio", lit(1.0) - col("n_distinct") / col("n_total"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           davg(col("rep_ratio"), 9).as("avg_rep"),
           sum(when(col("rep_ratio") > 0.2, 1L).otherwise(0L)).as("n_repetitive"))
  }

  private val repetitionRatioSql =
    s"""SELECT lang, COUNT(*) AS n_docs, ${DAVG("rep_ratio", 9)} AS avg_rep,
       |CAST(SUM(CASE WHEN rep_ratio > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
       |FROM (
       |  SELECT doc_id, lang, 1.0 - (CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*)) AS rep_ratio
       |  FROM (
       |    SELECT doc_id, lang, s[i] || ' ' || s[i+1] || ' ' || s[i+2] AS g
       |    FROM (SELECT doc_id, lang, s, unnest(range(1, len(s)-1)) AS i
       |          FROM (SELECT doc_id, lang, string_split(text, ' ') AS s FROM documents)
       |          WHERE len(s) >= 3))
       |  GROUP BY doc_id, lang)
       |GROUP BY lang""".stripMargin

  /** Benchmark-contamination check: overlap of each corpus doc's char
    * 8-gram hash set against a held-out "benchmark" slice (every 100th
    * doc). The benchmark side is tiny by construction, so the overlap
    * probe is a broadcast-able inner join on the shingle hash — at 100 TB
    * the benchmark hash set is still MBs and the corpus side never
    * shuffles by content, only aggregates per doc.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    // The ~300x char-gram expansion is the expensive stage, and every
    // consumer needs the per-doc DISTINCT gram-hash set — so build that set
    // entirely row-local as array_distinct(transform(...)): the expansion
    // never exists as rows, needs no distinct shuffle, and the cached
    // substrate is one compact array row per doc. (Round-3 shape exploded
    // and recomputed the grams three times.)
    val docGrams = graft.SessionCache.cached(s, s"textops:grams8:$dir") {
      spread(table(s, dir, "documents"))
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), col("lang"),
          expr("array_distinct(transform(sequence(1, length(text)-7), " +
            "i -> graft_md5_60(substr(text, i, 8))))").as("hs"))
    }
    val bench = docGrams.filter(col("doc_id") % 100 === 0)
      .select(explode(col("hs")).as("h")).distinct()
    val corpus = docGrams.filter(col("doc_id") % 100 =!= 0)
    // only the overlap probe ever explodes, and the post-join shuffle
    // carries matched grams only (bounded by the benchmark's size)
    val overlap = corpus.select(col("doc_id"), col("lang"), explode(col("hs")).as("h"))
      .join(broadcast(bench), Seq("h"), "left_semi")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_overlap"))
    corpus.select(col("doc_id"), col("lang"), size(col("hs")).as("n_grams"))
      .join(overlap, Seq("doc_id", "lang"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n_overlap") * 10 >= col("n_grams"), 1L).otherwise(0L)).as("n_contaminated"),
           max(col("n_overlap")).as("max_overlap"))
  }

  /** Decontamination REPAIR (q183): the production half of q48's audit —
    * drop every corpus doc whose 8-gram overlap with the held-out
    * benchmark slice crosses the 10% contamination rule, and emit the
    * cleaned per-language corpus stats (the q132 -> q180 audit->repair
    * symmetry, applied to benchmark contamination). Rides the SAME cached
    * row-local gram substrate and overlap probe as q48 — the only new
    * work is the documents join for token counts and one rollup. Docs the
    * gram substrate skips (length < 8: too short to overlap by even one
    * 8-gram) are kept by definition.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val docGrams = graft.SessionCache.cached(s, s"textops:grams8:$dir") {
      spread(table(s, dir, "documents"))
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), col("lang"),
          expr("array_distinct(transform(sequence(1, length(text)-7), " +
            "i -> graft_md5_60(substr(text, i, 8))))").as("hs"))
    }
    val bench = docGrams.filter(col("doc_id") % 100 === 0)
      .select(explode(col("hs")).as("h")).distinct()
    val overlap = docGrams.filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .join(broadcast(bench), Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
    val flagged = docGrams.filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id"), size(col("hs")).as("n_grams"))
      .join(overlap, Seq("doc_id"), "left")
      .filter(coalesce(col("n_overlap"), lit(0L)) * 10 >= col("n_grams"))
      .select(col("doc_id"), lit(1).as("bad"))
    table(s, dir, "documents")
      .filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id"), col("lang"),
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("tk"))
      .join(flagged, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(sum(when(col("bad").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("bad").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(col("bad").isNull, col("tk"))), lit(0L)).as("tok_kept"))
  }

  private val decontaminateSql =
    """WITH grams AS (
      |  SELECT doc_id, lang, (('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT) AS h
      |  FROM (SELECT doc_id, lang, text, unnest(range(1, length(text)-6)) AS i
      |        FROM documents WHERE length(text) >= 8)),
      |bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 100 = 0),
      |corpus AS (SELECT * FROM grams WHERE doc_id % 100 <> 0),
      |ov AS (SELECT doc_id, COUNT(DISTINCT h) AS n_overlap
      |       FROM corpus WHERE h IN (SELECT h FROM bench)
      |       GROUP BY doc_id),
      |per_doc AS (
      |  SELECT c.doc_id, COUNT(DISTINCT c.h) AS n_grams,
      |         COALESCE(ANY_VALUE(ov.n_overlap), 0) AS n_overlap
      |  FROM corpus c LEFT JOIN ov ON ov.doc_id = c.doc_id
      |  GROUP BY c.doc_id),
      |bad AS (SELECT doc_id FROM per_doc WHERE n_overlap * 10 >= n_grams)
      |SELECT d.lang,
      |CAST(SUM(CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |CAST(SUM(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |CAST(COALESCE(SUM(CASE WHEN b.doc_id IS NULL
      |  THEN len(list_filter(string_split(d.text, ' '), x -> x <> '')) END), 0) AS BIGINT) AS tok_kept
      |FROM documents d LEFT JOIN bad b ON b.doc_id = d.doc_id
      |WHERE d.doc_id % 100 <> 0
      |GROUP BY d.lang""".stripMargin

  private val contaminationSql =
    """WITH grams AS (
      |  SELECT doc_id, lang, (('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT) AS h
      |  FROM (SELECT doc_id, lang, text, unnest(range(1, length(text)-6)) AS i
      |        FROM documents WHERE length(text) >= 8)),
      |bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 100 = 0),
      |corpus AS (SELECT * FROM grams WHERE doc_id % 100 <> 0),
      |ov AS (SELECT doc_id, lang, COUNT(DISTINCT h) AS n_overlap
      |       FROM corpus WHERE h IN (SELECT h FROM bench)
      |       GROUP BY doc_id, lang),
      |per_doc AS (
      |  SELECT c.doc_id, c.lang, COUNT(DISTINCT c.h) AS n_grams,
      |         COALESCE(ANY_VALUE(ov.n_overlap), 0) AS n_overlap
      |  FROM corpus c LEFT JOIN ov ON ov.doc_id = c.doc_id AND ov.lang = c.lang
      |  GROUP BY c.doc_id, c.lang)
      |SELECT lang, COUNT(*) AS n_docs,
      |CAST(SUM(CASE WHEN n_overlap * 10 >= n_grams THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |CAST(MAX(n_overlap) AS BIGINT) AS max_overlap
      |FROM per_doc GROUP BY lang""".stripMargin

  /** Sequence packing (training-data shaping): assign documents to
    * fixed-token-budget packs (context windows) by offset — pack_id =
    * floor(start_offset / budget) over a running token count. The running
    * sum is SHARDED: partitioned by (lang, hash-shard-of-16), so each
    * sort covers one shard, never a global order — at 100 TB packing is
    * embarrassingly parallel per shard, which is exactly how a real
    * pre-tokenization packer shards its input. Deterministic order
    * (doc_id) inside a shard makes the packing reproducible across
    * engines, runs, and cluster sizes.
    */
  def seqPack(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"),
        pmod(md5Long(col("doc_id").cast("string")), lit(16)).as("shard"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", expr("(cum - n_tokens) div 2048"))
      .groupBy(col("lang"), col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("docs_in_pack"), sum(col("n_tokens")).as("pack_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_packs"),
           sum(col("docs_in_pack")).as("n_docs"),
           sum(col("pack_tokens")).as("total_tokens"),
           max(col("pack_tokens")).as("max_pack_tokens"))
  }

  private val seqPackSql =
    s"""WITH d AS (SELECT doc_id, lang,
       |             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |             ${MD5L("CAST(doc_id AS VARCHAR)")} % 16 AS shard
       |           FROM documents),
       |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |                 ROWS UNBOUNDED PRECEDING) AS cum FROM d),
       |p AS (SELECT lang, shard, (cum - n_tokens) // 2048 AS pack_id,
       |        COUNT(*) AS docs_in_pack, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
       |      FROM c GROUP BY 1, 2, 3)
       |SELECT lang, COUNT(*) AS n_packs, CAST(SUM(docs_in_pack) AS BIGINT) AS n_docs,
       |CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
       |CAST(MAX(pack_tokens) AS BIGINT) AS max_pack_tokens
       |FROM p GROUP BY lang""".stripMargin

  /** Corpus mixture weights (data-mixing): temperature-sampled per-language
    * weights w_l = T_l^alpha / sum(T_m^alpha) with alpha = 0.5 — the
    * up/down-sampling knob every multi-source training mix uses. One
    * grouped pass + a broadcast one-row total; weights rounded at 9 digits
    * so the (tiny, order-dependent) double-summation ulp of the 5-value
    * total cannot flip the cross-engine hash.
    */
  def mixWeights(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val perLang = table(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(split(col("text"), " "))).as("n_tokens"))
    val wsum = perLang.agg(sum(sqrt(col("n_tokens").cast("double"))).as("wsum"))
    perLang.join(broadcast(wsum))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(sqrt(col("n_tokens").cast("double")) / col("wsum"), 9).as("mix_weight"))
  }

  private val mixWeightsSql =
    """WITH pl AS (SELECT lang, COUNT(*) AS n_docs,
      |              CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |            FROM documents GROUP BY lang),
      |ws AS (SELECT SUM(sqrt(CAST(n_tokens AS DOUBLE))) AS wsum FROM pl)
      |SELECT lang, n_docs, n_tokens,
      |round(sqrt(CAST(n_tokens AS DOUBLE)) / (SELECT wsum FROM ws), 9) AS mix_weight
      |FROM pl""".stripMargin

  /** posexplode (UDTF surface, X3): tokenize with ordinal positions — the
    * generator form that keeps token order, which plain explode loses.
    * First five tokens of every 50th doc.
    */
  def posExplodeTokens(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("pos") < 5)
  }

  private val posExplodeTokensSql =
    """SELECT doc_id, CAST(i - 1 AS INT) AS pos, s[i] AS w
      |FROM (SELECT doc_id, s, unnest(range(1, least(len(s), 5) + 1)) AS i
      |      FROM (SELECT doc_id, string_split(text, ' ') AS s
      |            FROM documents WHERE doc_id % 50 = 0))""".stripMargin

  /** XPath-style XML field extraction (F15/S3): the reference's XML config
    * scan as a data-plane operator. Spark uses the built-in xpath_string;
    * the oracle extracts the same field with a regex — same result, each
    * engine's idiomatic mechanism.
    */
  def xmlExtract(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "nation")
      .withColumn("xml", concat(lit("<cfg><table>t"), col("n_nationkey") % 5,
        lit("</table><bucket>b"), col("n_regionkey"), lit("</bucket></cfg>")))
      .withColumn("tbl", expr("xpath_string(xml, '/cfg/table')"))
      .withColumn("bkt", expr("xpath_string(xml, '/cfg/bucket')"))
      .select(col("n_nationkey"), col("tbl"), col("bkt"))
  }

  private val xmlExtractSql =
    """SELECT n_nationkey,
      |regexp_extract(xml, '<table>([^<]*)</table>', 1) AS tbl,
      |regexp_extract(xml, '<bucket>([^<]*)</bucket>', 1) AS bkt
      |FROM (SELECT n_nationkey,
      |        '<cfg><table>t' || CAST(n_nationkey % 5 AS VARCHAR) ||
      |        '</table><bucket>b' || CAST(n_regionkey AS VARCHAR) ||
      |        '</bucket></cfg>' AS xml
      |      FROM nation)""".stripMargin

  /** k-anonymity threshold for q206: a release cohort must contain at
    * least this many individuals. */
  private val AnonK = 5

  /** q206: k-anonymous cohort assignment over a GENERALIZATION LADDER —
    * the release gate that complements redaction (q46) and
    * pseudonymization (q136): those hide direct identifiers; this bounds
    * re-identification via quasi-identifier COMBINATIONS (nation x
    * segment x balance band), the linkage-attack surface k-anonymity is
    * defined against (Sweeney 2002). Each record is assigned the FINEST
    * generalization level at which its cohort reaches k:
    *   level 0 (nation, segment, floor(acctbal/1000)) -> 1 (nation,
    *   segment) -> 2 (nation) -> 3 (*, the whole table).
    * Output is (record, level, cohort size) — the per-record privacy
    * datacard; a release pipeline would then emit the QI columns
    * generalized to that level. Shapes for scale: one shuffle per ladder
    * rung on its own QI key (each a partial-agged count), the level-0
    * counts join back on the same key (exchange-reusable), the coarser
    * rungs broadcast (bounded by the QI domain, not the table). The
    * fixture exercises every level: sf0.001 has 7 nations under k and
    * rides the global cohort; sf0.1 keeps 98% of rows at level 0.
    */
  def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val c = table(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
    val total = c.count()
    // the level-3 fallback releases at the whole-table cohort; if even
    // that cannot reach k the contract is unsatisfiable and we must
    // abstain rather than silently release under-k cohorts (ADVICE r11)
    require(total >= AnonK,
      s"k-anonymity unsatisfiable: table has $total rows < k=$AnonK — abstain")
    val l0 = c.groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("n0"))
    val l1 = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n1"))
    val l2 = c.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n2"))
    c.join(l0, Seq("c_nationkey", "c_mktsegment", "bal_band"))
      .join(broadcast(l1), Seq("c_nationkey", "c_mktsegment"))
      .join(broadcast(l2), Seq("c_nationkey"))
      .withColumn("level",
        when(col("n0") >= AnonK, 0).when(col("n1") >= AnonK, 1)
          .when(col("n2") >= AnonK, 2).otherwise(3).cast("int"))
      .withColumn("cohort",
        when(col("n0") >= AnonK, col("n0")).when(col("n1") >= AnonK, col("n1"))
          .when(col("n2") >= AnonK, col("n2")).otherwise(lit(total)))
      .select(col("c_custkey"), col("level"), col("cohort"))
  }

  private val kAnonymitySql =
    s"""WITH c AS (
       |  SELECT c_custkey, c_nationkey, c_mktsegment,
       |         CAST(floor(c_acctbal/1000) AS BIGINT) AS bal_band
       |  FROM customer),
       |l0 AS (SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS n0
       |       FROM c GROUP BY 1, 2, 3),
       |l1 AS (SELECT c_nationkey, c_mktsegment, count(*) AS n1 FROM c GROUP BY 1, 2),
       |l2 AS (SELECT c_nationkey, count(*) AS n2 FROM c GROUP BY 1)
       |SELECT c.c_custkey,
       |  CAST(CASE WHEN n0 >= $AnonK THEN 0 WHEN n1 >= $AnonK THEN 1
       |            WHEN n2 >= $AnonK THEN 2 ELSE 3 END AS INT) AS level,
       |  CAST(CASE WHEN n0 >= $AnonK THEN n0 WHEN n1 >= $AnonK THEN n1
       |            WHEN n2 >= $AnonK THEN n2
       |            ELSE (SELECT count(*) FROM c) END AS BIGINT) AS cohort
       |FROM c
       |JOIN l0 USING (c_nationkey, c_mktsegment, bal_band)
       |JOIN l1 USING (c_nationkey, c_mktsegment)
       |JOIN l2 USING (c_nationkey)""".stripMargin

  /** Deterministic pseudonymization that PRESERVES referential integrity —
    * the privacy transform a training pipeline applies to identifier
    * columns before the data leaves the trust boundary (the sibling of
    * q46's free-text PII redaction). Every customer key, in BOTH the
    * customer dim and the orders fact, is replaced by a salted keyed
    * digest: equal keys map to equal pseudonyms (joins still work across
    * tables) and distinct keys stay distinct. The pseudonym is the FULL
    * 128-bit md5 hex — birthday collisions become likely only around
    * 2⁶⁴ keys, far beyond any real key cardinality (the earlier 60-bit
    * prefix form would have started colliding near 2³⁰ ≈ 1e9 keys, i.e.
    * at exactly the 100 TB scale this engine targets). Runs as pure
    * column expressions over both scans — no lookup table to build,
    * distribute, or leak.
    *
    * Salt caveat: `pseud#` here is a PUBLIC fixture constant so the
    * DuckDB oracle can recompute the digests; with a known salt,
    * small-integer keys are trivially reversible by dictionary. A
    * production deployment must inject a secret salt (config-plane,
    * never logged) — the column expression is unchanged.
    *
    * The contract is machine-checked in-frame, not asserted: pseudonym
    * cardinality equals key cardinality on each table (injectivity), and
    * the orders→customer join count is IDENTICAL before and after the
    * transform (referential integrity). The oracle recomputes everything
    * exactly (md5 hex is identical in both engines).
    */
  def pseudonymize(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    def pseud(c: org.apache.spark.sql.Column) =
      md5(concat(lit("pseud#"), c.cast("string")))
    val cust = table(s, dir, "customer").select(col("c_custkey"))
    val ords = table(s, dir, "orders").select(col("o_custkey"))
    val card = cust.agg(
      countDistinct(col("c_custkey")).as("n_keys"),
      countDistinct(pseud(col("c_custkey"))).as("n_pseudonyms"))
    val joinOrig = ords
      .join(cust, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("n_join_orig"))
    val joinPseud = ords.select(pseud(col("o_custkey")).as("p_o"))
      .join(cust.select(pseud(col("c_custkey")).as("p_c")), col("p_o") === col("p_c"))
      .agg(count(lit(1)).as("n_join_pseud"))
    card.crossJoin(joinOrig).crossJoin(joinPseud)
      .select(col("n_keys"), col("n_pseudonyms"),
        (col("n_keys") === col("n_pseudonyms")).as("injective"),
        col("n_join_orig"), col("n_join_pseud"),
        (col("n_join_orig") === col("n_join_pseud")).as("ri_preserved"))
  }

  private val pseudonymizeSql = {
    val pc = "md5('pseud#' || CAST(c_custkey AS VARCHAR))"
    val po = "md5('pseud#' || CAST(o_custkey AS VARCHAR))"
    s"""WITH card AS (
       |  SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
       |         CAST(COUNT(DISTINCT $pc) AS BIGINT) AS n_pseudonyms
       |  FROM customer),
       |jo AS (SELECT COUNT(*) AS n_join_orig
       |       FROM orders JOIN customer ON o_custkey = c_custkey),
       |jp AS (SELECT COUNT(*) AS n_join_pseud
       |       FROM orders JOIN customer ON $po = $pc)
       |SELECT n_keys, n_pseudonyms, n_keys = n_pseudonyms AS injective,
       |n_join_orig, n_join_pseud, n_join_orig = n_join_pseud AS ri_preserved
       |FROM card, jo, jp""".stripMargin
  }

  /** Corpus datacard: the one-artifact summary every shipped training
    * dataset carries — size, composition, duplication, hygiene — as
    * (metric, value) rows. ONE full pass over `documents` (every per-doc
    * metric is a column expression feeding partial aggregates) plus one
    * distinct on the text digest for the unique-text count; at 100 TB
    * that is a scan and a digest-keyed shuffle, nothing quadratic. All
    * values are exact integers (token totals, flag counts, mean tokens in
    * ppm via floor division) so the card is bit-reproducible — a datacard
    * that drifts between engines or runs is worse than none.
    */
  def datacard(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val d = table(s, dir, "documents")
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("has_email",
        when(col("text").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"), 1L).otherwise(0L))
      .withColumn("short_doc", when(col("n_toks") < 10, 1L).otherwise(0L))
    val uniq = d.select(md5(col("text")).as("tk")).distinct()
      .agg(count(lit(1)).as("n_unique_texts"))
    val agg = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_toks")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(col("has_email")).as("n_docs_with_email"),
      sum(col("short_doc")).as("n_short_docs"))
    agg.crossJoin(uniq)
      .withColumn("mean_tokens_ppm", expr("n_tokens * 1000000 div n_docs"))
      .selectExpr(
        """stack(9,
          |'n_docs', n_docs,
          |'n_langs', n_langs,
          |'n_sources', n_sources,
          |'n_tokens', n_tokens,
          |'n_chars', n_chars,
          |'n_unique_texts', n_unique_texts,
          |'n_docs_with_email', n_docs_with_email,
          |'n_short_docs', n_short_docs,
          |'mean_tokens_ppm', mean_tokens_ppm) AS (metric, value)""".stripMargin)
  }

  private val datacardSql =
    """WITH d AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, n_chars,
      |    CASE WHEN regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')
      |         THEN 1 ELSE 0 END AS has_email,
      |    lang, source, text
      |  FROM documents),
      |agg AS (
      |  SELECT COUNT(*) AS n_docs,
      |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |    CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique_texts,
      |    CAST(SUM(has_email) AS BIGINT) AS n_docs_with_email,
      |    CAST(SUM(CASE WHEN n_toks < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs
      |  FROM d)
      |SELECT 'n_docs' AS metric, n_docs AS value FROM agg
      |UNION ALL SELECT 'n_langs', n_langs FROM agg
      |UNION ALL SELECT 'n_sources', n_sources FROM agg
      |UNION ALL SELECT 'n_tokens', n_tokens FROM agg
      |UNION ALL SELECT 'n_chars', n_chars FROM agg
      |UNION ALL SELECT 'n_unique_texts', n_unique_texts FROM agg
      |UNION ALL SELECT 'n_docs_with_email', n_docs_with_email FROM agg
      |UNION ALL SELECT 'n_short_docs', n_short_docs FROM agg
      |UNION ALL SELECT 'mean_tokens_ppm', n_tokens * 1000000 // n_docs FROM agg""".stripMargin

  /** Unicode NFC canonicalization (the [[graft.functions.NfcNormalize]]
    * native expression): compose decomposed base+combining-mark sequences
    * into canonical precomposed form, the pass that makes byte-level exact
    * dedup and token stats see "café" and "café" as the same text.
    *
    * The fixture corpus is ASCII, so denormalized spans are INJECTED
    * deterministically: every doc_id % 3 == 0 doc gets a decomposed
    * suffix (e + U+0301 combining acute), % 3 == 1 the precomposed form
    * of the same text (é), % 3 == 2 nothing. After NFC the first two
    * groups are byte-identical — proven cross-engine by a digest SUM over
    * the normalized text (md5 of the UTF-8 bytes, mod a prime so the
    * per-lang SUM stays in BIGINT range), not just by counts. n_changed
    * counts exactly the decomposed third; chars_delta is the codepoints
    * removed by composition (1 per changed doc).
    */
  def nfcNormalize(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "documents")
      .withColumn("raw", concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" cafe\u0301")) // decomposed e + combining acute
          .when(col("doc_id") % 3 === 1, lit(" caf\u00e9")) // precomposed U+00E9
          .otherwise(lit(""))))
      .withColumn("norm", call_function("graft_nfc", col("raw")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("raw"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("raw")) - length(col("norm"))).as("chars_delta"),
        sum(md5Long(col("norm")) % lit(1000000007L)).as("digest"))
  }

  private val nfcNormalizeSql =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |CAST(SUM(CASE WHEN norm <> raw THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |CAST(SUM(length(raw) - length(norm)) AS BIGINT) AS chars_delta,
       |CAST(SUM(${MD5L("norm")} % 1000000007) AS BIGINT) AS digest
       |FROM (
       |  SELECT lang, raw, nfc_normalize(raw) AS norm
       |  FROM (SELECT lang,
       |               text || CASE WHEN doc_id % 3 = 0 THEN ' caf' || 'e' || chr(769)
       |                            WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
       |                            ELSE '' END AS raw
       |        FROM documents)) GROUP BY lang""".stripMargin

  /** Bigram language-model scoring (q172): the KenLM-style perplexity
    * quality filter every pretraining corpus runs, reduced to its
    * relational core — an add-one-smoothed bigram model TRAINED ON the
    * corpus scores each document by mean log P(w_i | w_{i-1}); documents
    * far below the language's typical log-probability are boilerplate /
    * noise candidates (the filter this query's n_low gate applies).
    *
    * Shape at scale: bigrams form row-locally (transform over adjacent
    * positions — no shuffle), model counts are two vocabulary-bounded
    * aggregations broadcast back into the scoring join, and the per-doc
    * reduce is one groupBy. Nothing shuffles the corpus twice.
    *
    * Float discipline (the q121 integer-micro-unit lesson): each bigram's
    * SURPRISAL -ln P is floored to non-negative integer micro-nats before
    * any accumulation — `floor` is bit-identical across engines on equal
    * inputs (no round-mode question), negatives never meet integer
    * division (Spark `div` truncates, DuckDB `//` floors — they agree
    * only on non-negative numerators), and every downstream step (sum,
    * div, threshold, average) is exact integer/decimal arithmetic. The
    * only float exposure left is one `ln` ulp landing within an ulp of
    * an integer micro-nat boundary.
    */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    // the bigram stream feeds four consumers (pair counts, marginals,
    // vocab, scoring) — materialize it once per corpus
    val bg = graft.SessionCache.cached(s, s"text:bg:$dir") {
      val d = spread(table(s, dir, "documents"))
        .withColumn("t", split(col("text"), " "))
        .withColumn("n", size(col("t")))
        .filter(col("n") >= 2)
      d.select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, n - 1), i -> named_struct('x', t[i-1], 'y', t[i]))")).as("b"))
        .select(col("doc_id"), col("lang"), col("b.x").as("x"), col("b.y").as("y"))
    }
    val cxy = bg.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
    val cx = bg.groupBy(col("x")).agg(count(lit(1)).as("c_x"))
    val vocab = bg.select(col("y").as("w"))
      .unionByName(bg.select(col("x").as("w")))
      .agg(countDistinct(col("w")).as("v"))
    val scored = bg
      .join(broadcast(cxy), Seq("x", "y"))
      .join(broadcast(cx), "x")
      .crossJoin(broadcast(vocab))
      .withColumn("spi", // surprisal, integer micro-nats (>= 0: P <= 1)
        floor(-log((col("c_xy") + 1).cast("double") / (col("c_x") + col("v"))) * 1e6).cast("long"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("sum(spi) div count(1)").as("doc_sp"))
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        davg(col("doc_sp"), 6).as("avg_sp_micro"),
        sum(when(col("doc_sp") > 3000000L, 1L).otherwise(0L)).as("n_low"))
  }

  private val lmPerplexitySql =
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS t,
       |         CAST(len(string_split(text, ' ')) AS INT) AS n
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang, t[i] AS x, t[i+1] AS y
       |  FROM (SELECT doc_id, lang, t, unnest(range(1, n)) AS i FROM d WHERE n >= 2)),
       |cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM bg GROUP BY x, y),
       |cx AS (SELECT x, COUNT(*) AS c_x FROM bg GROUP BY x),
       |vocab AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM
       |          (SELECT y AS w FROM bg UNION ALL SELECT x FROM bg)),
       |scored AS (
       |  SELECT bg.doc_id, bg.lang,
       |         CAST(SUM(CAST(floor(-ln(CAST(c.c_xy + 1 AS DOUBLE) / (a.c_x + vocab.v)) * 1e6)
       |                       AS BIGINT)) AS BIGINT) // COUNT(*) AS doc_sp
       |  FROM bg
       |  JOIN cxy c ON c.x = bg.x AND c.y = bg.y
       |  JOIN cx a ON a.x = bg.x
       |  CROSS JOIN vocab
       |  GROUP BY bg.doc_id, bg.lang)
       |SELECT lang, COUNT(*) AS n_docs, ${DAVG("doc_sp", 6)} AS avg_sp_micro,
       |CAST(SUM(CASE WHEN doc_sp > 3000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
       |FROM scored GROUP BY lang""".stripMargin

  /** One shared 5-round BPE training run per (session, dir): the learned
    * rules plus the round-5 encoded corpus. Memoized through
    * [[graft.SessionCache]]'s bounded session LRU (not a raw object map) so
    * a JVM that churns sessions can't accumulate checkpointed corpora
    * forever — evicting a session unpersists its encoded frame. The train
    * (q171) and encode (q176) queries — and repeated bench passes — pay for
    * the loop once; the encoded frame is already materialized by the loop's
    * per-round localCheckpoint.
    */
  private final case class BpeRun(
      rules: Seq[(Int, String, String, Long)], totalAfter: Long, encoded: DataFrame)

  private def bpeRun(s: SparkSession, dir: String): BpeRun =
    graft.SessionCache.cachedValue(s, s"text:bpe:$dir")({
      val rounds = 5
      var pt = spread(table(s, dir, "documents"))
        .select(col("doc_id"),
          concat(lit("  "), regexp_replace(col("text"), " ", "  "), lit("  ")).as("pt"))
        .localCheckpoint()
      val rules = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      (1 to rounds).foreach { it =>
        val pairs = pt
          .withColumn("l", expr("filter(split(trim(pt), ' +'), x -> x != '')"))
          .filter(size(col("l")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(l)-1), i -> struct(element_at(l, i) AS a, element_at(l, i+1) AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("c"))
        val best = pairs.orderBy(col("c").desc, col("a"), col("b")).limit(1).collect()(0)
        val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
        rules += ((it, a, b, c))
        // literal (non-regex) replace, twice — see scaladoc; tokens are
        // [a-z0-9_]+ so inlining them into the expression is quote-safe
        val pat = s"  $a  $b  "
        val rep = s"  ${a}_$b  "
        pt = pt.select(col("doc_id"),
          expr(s"replace(replace(pt, '$pat', '$rep'), '$pat', '$rep')").as("pt"))
          .localCheckpoint()
      }
      val after = pt.select(expr("size(filter(split(trim(pt), ' +'), x -> x != ''))").as("n"))
        .agg(sum(col("n"))).collect()(0).getLong(0)
      BpeRun(rules.toSeq, after, pt)
    })(run => { scala.util.Try(run.encoded.unpersist()); () })

  /** Word-level BPE merge-rule learning (q171): the tokenizer-training
    * loop every LLM data pipeline runs, as a distributed iteration. Each
    * round counts ALL adjacent token pairs (one explode + one groupBy —
    * map-side partial counts collapse before the shuffle, so the exchange
    * carries |vocab|² rows max, not corpus size), picks the most frequent
    * pair deterministically (count desc, pair asc), and applies the merge
    * corpus-wide. The learned rules ARE the output; the oracle re-derives
    * all five rounds from scratch in unrolled SQL, so rule selection AND
    * merge application are both verified.
    *
    * Merge application is exact BPE semantics via literal `replace` on a
    * DOUBLE-SPACE token encoding, applied twice: a left-to-right replace
    * consumes the separator shared by back-to-back occurrences, so one
    * pass merges every other occurrence of a run and a second pass
    * catches the stranded ones (two passes suffice — after pass one,
    * every unmerged occurrence is again fully delimited). Greedy
    * left-to-right is exactly how BPE resolves overlaps like "x x x".
    *
    * The per-round best pair is a 1-row driver-side scalar (the loop's
    * control decision, like the streaming watermark cutoff) — the corpus
    * itself never leaves the cluster; each round's merged corpus is
    * localCheckpointed so five rounds of lineage don't nest.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    import s.implicits._
    val run = bpeRun(s, dir)
    (run.rules :+ ((0, "TOTAL_TOKENS_AFTER", "", run.totalAfter)))
      .toDF("iter", "a", "b", "cnt")
  }

  /** Tokenizer APPLY (q176): encode the corpus with the merge rules q171
    * learned and report the per-language compression — the missing half of
    * the train/apply tokenizer pipeline (a trained tokenizer is useless
    * until applied corpus-wide). Consumes the SHARED training run's
    * encoded corpus (one loop per session, not one per query); the rollup
    * is one grouped pass joined to `documents` for the language column.
    * Merged tokens are identified by the '_' the merge inserts — the
    * fixture vocabulary is [a-z0-9]+, so no native token can collide.
    * The oracle re-derives training AND encoding from scratch in unrolled
    * SQL, so rule application is verified end-to-end, not just counted.
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val enc = bpeRun(s, dir).encoded
      .select(col("doc_id"), expr("filter(split(trim(pt), ' +'), x -> x != '')").as("l"))
    enc.join(table(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")), "doc_id")
      .select(col("lang"),
        expr("size(filter(split(text, ' '), x -> x != ''))").as("n_before"),
        size(col("l")).as("n_after"),
        expr("size(filter(l, x -> contains(x, '_')))").as("n_merged"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_before")).as("tok_before"),
        sum(col("n_after")).as("tok_after"),
        sum(col("n_merged")).as("n_merged_tok"))
  }

  /** The shared it0..it5/b1..b5 training CTE chain (DuckDB), re-deriving
    * all five merge rounds from scratch — used by both the train (q171)
    * and encode (q176) oracles. */
  private val bpeChainSql = {
    def pairsOf(it: String) =
      s"""(SELECT l[i] AS a, l[i+1] AS b, COUNT(*) AS c
         | FROM (SELECT list_filter(string_split_regex(trim(pt), ' +'), x -> x <> '') AS l
         |       FROM $it),
         |      LATERAL unnest(range(1, len(l))) AS u(i)
         | WHERE len(l) >= 2
         | GROUP BY a, b)""".stripMargin
    def step(prev: String, bi: String, next: String) =
      s"""$bi AS (SELECT a, b, c FROM ${pairsOf(prev)} ORDER BY c DESC, a, b LIMIT 1),
         |$next AS (
         |  SELECT doc_id,
         |         replace(replace(pt, '  '||a||'  '||b||'  ', '  '||a||'_'||b||'  '),
         |                 '  '||a||'  '||b||'  ', '  '||a||'_'||b||'  ') AS pt
         |  FROM $prev CROSS JOIN $bi)""".stripMargin
    s"""it0 AS (
       |  SELECT doc_id, '  ' || replace(text, ' ', '  ') || '  ' AS pt FROM documents),
       |${step("it0", "b1", "it1")},
       |${step("it1", "b2", "it2")},
       |${step("it2", "b3", "it3")},
       |${step("it3", "b4", "it4")},
       |${step("it4", "b5", "it5")}""".stripMargin
  }

  private val bpeTrainSql =
    s"""WITH $bpeChainSql,
       |fin AS (
       |  SELECT CAST(SUM(len(list_filter(string_split_regex(trim(pt), ' +'), x -> x <> ''))) AS BIGINT) AS n
       |  FROM it5)
       |SELECT 1 AS iter, a, b, CAST(c AS BIGINT) AS cnt FROM b1
       |UNION ALL SELECT 2, a, b, CAST(c AS BIGINT) FROM b2
       |UNION ALL SELECT 3, a, b, CAST(c AS BIGINT) FROM b3
       |UNION ALL SELECT 4, a, b, CAST(c AS BIGINT) FROM b4
       |UNION ALL SELECT 5, a, b, CAST(c AS BIGINT) FROM b5
       |UNION ALL SELECT 0, 'TOTAL_TOKENS_AFTER', '', n FROM fin""".stripMargin

  private val bpeEncodeSql =
    s"""WITH $bpeChainSql,
       |enc AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(pt), ' +'), x -> x <> '') AS l
       |  FROM it5)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |CAST(SUM(len(list_filter(string_split(d.text, ' '), x -> x <> ''))) AS BIGINT) AS tok_before,
       |CAST(SUM(len(e.l)) AS BIGINT) AS tok_after,
       |CAST(SUM(len(list_filter(e.l, x -> contains(x, '_')))) AS BIGINT) AS n_merged_tok
       |FROM enc e JOIN documents d ON d.doc_id = e.doc_id
       |GROUP BY d.lang""".stripMargin

  override val queries: Seq[GQuery] = Seq(
    GQuery("q56_xml_extract", "XPath XML field extraction (F15/S3)", xmlExtract, Some(xmlExtractSql)),
    GQuery("q66_lang_id", "keyword-profile language ID + confusion matrix", langId, Some(langIdSql)),
    GQuery("q67_quality_score", "doc quality scoring bucketed into deciles", qualityScore, Some(qualityScoreSql)),
    GQuery("q68_token_stats", "per-lang token counts + vocabulary size", tokenStats, Some(tokenStatsSql)),
    GQuery("q69_fingerprint", "rolling-hash char-8-gram doc fingerprints", fingerprint, Some(fingerprintSql)),
    GQuery("q70_tfidf", "TF-IDF top-5 terms per language (tokenize explode + windowed top-k)",
      tfidf, Some(tfidfSql)),
    GQuery("q45_posexplode", "posexplode tokenizer with ordinal positions (X3 generator)",
      posExplodeTokens, Some(posExplodeTokensSql)),
    GQuery("q46_pii_redact", "PII redaction: email/phone masking with leak accounting",
      piiRedact, Some(piiRedactSql)),
    GQuery("q47_repetition", "repetition ratio (distinct/total word 3-grams) quality rule",
      repetitionRatio, Some(repetitionRatioSql)),
    GQuery("q48_contamination", "benchmark contamination: 8-gram overlap vs held-out slice",
      contamination, Some(contaminationSql)),
    GQuery("q79_curation_pipeline", "composed curation: quality gate -> exact dedup -> corpus stats",
      curationPipeline, Some(curationPipelineSql)),
    GQuery("q102_seq_pack", "sequence packing: sharded running-token-count pack assignment (training shaping)",
      seqPack, Some(seqPackSql)),
    GQuery("q103_mix_weights", "temperature-sampled corpus mixture weights (data mixing)",
      mixWeights, Some(mixWeightsSql)),
    GQuery("q136_pseudonymize",
      "referential-integrity-preserving keyed pseudonymization with in-frame contract checks",
      pseudonymize, Some(pseudonymizeSql)),
    GQuery("q206_k_anonymity",
      "k-anonymous cohort assignment over a generalization ladder (nation x segment x balance band -> *), finest level reaching k=5",
      kAnonymity, Some(kAnonymitySql)),
    GQuery("q137_datacard",
      "corpus datacard: exact-integer (metric, value) summary in one scan + one digest-distinct",
      datacard, Some(datacardSql)),
    GQuery("q168_nfc_normalize",
      "Unicode NFC canonicalization via the native graft_nfc expression, digest-audited per lang",
      nfcNormalize, Some(nfcNormalizeSql)),
    GQuery("q172_lm_perplexity",
      "bigram-LM log-probability quality scoring (add-one smoothing), per-lang rollup + low-quality gate",
      lmPerplexity, Some(lmPerplexitySql)),
    GQuery("q171_bpe_train",
      "BPE merge-rule learning: 5 distributed pair-count/merge rounds, rules + merged-corpus size oracled",
      bpeTrain, Some(bpeTrainSql)),
    GQuery("q176_bpe_encode",
      "tokenizer apply: encode the corpus with q171's learned merges, per-lang compression oracled end-to-end",
      bpeEncode, Some(bpeEncodeSql)),
    GQuery("q181_curriculum",
      "quality-decile curriculum interleave: sharded ranks, position digest hash-verifies the order cross-engine",
      curriculum, Some(curriculumSql)),
    GQuery("q183_decontaminate",
      "decontamination repair: drop docs crossing q48's 10% benchmark-overlap rule, cleaned per-lang corpus stats",
      decontaminate, Some(decontaminateSql)),
  )
}
