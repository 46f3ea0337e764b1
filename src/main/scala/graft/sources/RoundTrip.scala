package graft.sources

import graft.Engine._
import graft.{GQuery, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink coverage (S1/S2/S6/S9): CSV and JSON scans proven by a full
  * write -> read-back -> aggregate roundtrip against the parquet original.
  * The oracle aggregates the parquet directly — any formatting/parsing loss
  * in our writer/reader would break the hash match.
  *
  * Values survive exactly: Spark writes doubles as shortest-roundtrip
  * decimal strings and timestamps as ISO-8601, both of which parse back to
  * identical bits with an explicit schema (inference is NOT used — at 100 TB
  * schema inference means a second full scan and silently wrong types).
  *
  * Reference provenance: CSV scan /root/reference/data_pipeline.py:283-303,
  * JSON scan :263-281, file sinks :338-350/:564-572.
  */
object RoundTrip extends QueryModule {

  private def tmpDir(name: String) = s"/root/repo/target/qtmp/$name"

  /** CSV sink + scan roundtrip over customer (strings, ints, doubles). */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val c = table(s, dir, "customer")
    val path = tmpDir("csv_customer")
    c.write.mode("overwrite").option("header", "true").csv(path)
    s.read.schema(c.schema).option("header", "true").csv(path)
      .agg(count(lit(1)).as("n"),
           dsum(col("c_acctbal")).as("sum_bal"),
           min(col("c_name")).as("min_name"),
           max(col("c_name")).as("max_name"),
           countDistinct(col("c_mktsegment")).as("n_segments"))
  }

  private val csvRoundtripSql =
    s"""SELECT COUNT(*) AS n, ${DSUM("c_acctbal")} AS sum_bal,
       |MIN(c_name) AS min_name, MAX(c_name) AS max_name,
       |CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
       |FROM customer""".stripMargin

  /** JSON sink + scan roundtrip over an orders subset (incl. timestamps). */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val o = table(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
    val path = tmpDir("json_orders")
    o.write.mode("overwrite").json(path)
    s.read.schema(o.schema).json(path)
      .agg(count(lit(1)).as("n"),
           dsum(col("o_totalprice")).as("sum_price"),
           min(col("o_orderdate").cast("date")).as("d_min"),
           max(col("o_orderdate").cast("date")).as("d_max"),
           countDistinct(col("o_orderstatus")).as("n_status"))
  }

  private val jsonRoundtripSql =
    s"""SELECT COUNT(*) AS n, ${DSUM("o_totalprice")} AS sum_price,
       |MIN(CAST(o_orderdate AS DATE)) AS d_min, MAX(CAST(o_orderdate AS DATE)) AS d_max,
       |CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
       |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin

  /** Schema evolution across lake files (the add-a-column migration every
    * long-lived table goes through): an old batch without the new column
    * and a new batch with it, read together via mergeSchema — old rows
    * surface null for the added column, aggregates account for both
    * generations. Explicit generation split on the key so the oracle can
    * replay it.
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val o = table(s, dir, "orders")
    val path = tmpDir("evo_orders")
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$path/gen=old")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$path/gen=new")
    parquet(s, Seq(path), Map("mergeSchema" -> "true"))
      .agg(count(lit(1)).as("n_rows"),
           count(col("o_orderpriority")).as("n_with_priority"),
           sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("n_legacy"),
           dsum(col("o_totalprice")).as("sum_total"))
  }

  private val schemaEvolutionSql =
    s"""SELECT COUNT(*) AS n_rows,
       |COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS n_with_priority,
       |CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
       |${DSUM("o_totalprice")} AS sum_total
       |FROM orders""".stripMargin

  /** ORC sink + scan roundtrip (columnar format breadth beyond parquet):
    * same explicit-schema discipline; the oracle aggregates the parquet
    * original, so any type/precision loss in the ORC writer/reader breaks
    * the hash.
    */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val p = table(s, dir, "part")
    val path = tmpDir("orc_part")
    p.write.mode("overwrite").orc(path)
    s.read.schema(p.schema).orc(path)
      .agg(count(lit(1)).as("n"),
           dsum(col("p_retailprice")).as("sum_price"),
           min(col("p_name")).as("min_name"),
           max(col("p_name")).as("max_name"),
           countDistinct(col("p_brand")).as("n_brands"))
  }

  private val orcRoundtripSql =
    s"""SELECT COUNT(*) AS n, ${DSUM("p_retailprice")} AS sum_price,
       |MIN(p_name) AS min_name, MAX(p_name) AS max_name,
       |CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands
       |FROM part""".stripMargin

  /** Hive-style partitioned parquet lake: write orders partitioned by
    * status, read back with a partition predicate. The filter never touches
    * data files of other partitions — `PartitionFilters` prunes at planning
    * time (asserted in PartitioningSpec) — which is THE layout decision
    * that makes a 100 TB lake queryable: scans cost O(selected partitions),
    * not O(table).
    */
  def partitionedLake(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val o = table(s, dir, "orders")
    val path = tmpDir("part_orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    parquet(s, Seq(path))
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           dsum(col("o_totalprice")).as("sum_price"),
           min(col("o_orderkey")).as("min_key"))
  }

  private val partitionedLakeSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |${DSUM("o_totalprice")} AS sum_price, MIN(o_orderkey) AS min_key
       |FROM orders WHERE o_orderstatus = 'F'
       |GROUP BY o_orderpriority""".stripMargin

  /** Durable MERGE on the lake (S7 as a sink): build a hive-partitioned
    * orders lake, apply one deterministic update batch (price corrections
    * on keys % 10, inserts with shifted keys on keys % 7, touching two of
    * the five partitions) through [[Lake.mergeUpsert]] TWICE — the second
    * apply must be a no-op (idempotence is part of the contract under
    * test) — then read the lake back and aggregate. The oracle recomputes
    * the expected merged state from the raw table, so a dropped row, a
    * double-applied update, or a corrupted untouched partition all fail
    * the hash compare.
    */
  def mergeLake(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val o = table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
    val path = tmpDir("merge_lake")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    val touched = o.filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
    val upd = touched.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName(touched.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_orderstatus", lit("N")))
    graft.sources.Lake.mergeUpsert(s, path, upd, "o_orderkey", "o_orderpriority")
    graft.sources.Lake.mergeUpsert(s, path, upd, "o_orderkey", "o_orderpriority")
    parquet(s, Seq(path))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           dsum(col("o_totalprice")).as("sum_price"),
           sum(when(col("o_orderkey") > 10000000L, 1L).otherwise(0L)).as("n_inserted"),
           sum(when(col("o_orderstatus") === "N", 1L).otherwise(0L)).as("n_status_new"))
  }

  private val mergeLakeSql =
    s"""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
       |              FROM orders),
       |upd AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice,
       |         o_orderpriority
       |  FROM base WHERE o_orderpriority IN ('1-URGENT','3-MEDIUM') AND o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice, o_orderpriority
       |  FROM base WHERE o_orderpriority IN ('1-URGENT','3-MEDIUM') AND o_orderkey % 7 = 0),
       |merged AS (
       |  SELECT * FROM upd
       |  UNION ALL
       |  SELECT * FROM base b
       |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey))
       |SELECT o_orderpriority, COUNT(*) AS n, ${DSUM("o_totalprice")} AS sum_price,
       |CAST(SUM(CASE WHEN o_orderkey > 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
       |CAST(SUM(CASE WHEN o_orderstatus = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_status_new
       |FROM merged GROUP BY o_orderpriority""".stripMargin

  /** Real MIME wire format for the email rim — the last config-plane gap
    * vs the reference, which builds RFC-2822 messages and base64-encodes
    * attachments (/root/reference/data_pipeline.py:611-620 send path,
    * :146 attachment decode). One multipart/mixed message per nation is
    * CONSTRUCTED byte-for-byte (headers, boundary, text/html part,
    * base64 text/csv attachment) and then PARSED BACK with the same
    * column-expression toolkit (regexp header extraction, boundary
    * splits, unbase64) — all codegen'd, no mail library, no network.
    * The oracle rebuilds and re-parses the identical wire bytes, so the
    * hash match proves the format round-trips losslessly: subject
    * survives, the decoded attachment equals the original payload, and
    * the HTML body strips to the expected text.
    *
    * Scope: the parse side round-trips MESSAGES THIS ENGINE BUILDS —
    * unfolded single-line headers, a known boundary, base64
    * content-transfer-encoding. It is NOT a general MIME parser: folded
    * (RFC 2822 §2.2.3) headers, quoted-printable bodies, and nested
    * multiparts would all need a real mail library. That matches the
    * reference, whose send path constructs exactly this shape and never
    * parses arbitrary inbound MIME either.
    */
  def mimeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val crlf = "\r\n"
    val n = table(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      .withColumn("csv", concat(lit("nationkey,name"), lit(crlf),
        col("n_nationkey").cast("string"), lit(","), col("n_name")))
      .withColumn("subject", concat(lit("Dealer Transactions Report "), col("n_name")))
      .withColumn("bnd", concat(lit("B"), col("n_nationkey").cast("string")))
    val raw = n.withColumn("raw", concat(
      lit("From: pipeline@example.invalid"), lit(crlf),
      lit("To: ops@example.invalid"), lit(crlf),
      lit("Subject: "), col("subject"), lit(crlf),
      lit("MIME-Version: 1.0"), lit(crlf),
      lit("Content-Type: multipart/mixed; boundary=\""), col("bnd"), lit("\""), lit(crlf),
      lit(crlf),
      lit("--"), col("bnd"), lit(crlf),
      lit("Content-Type: text/html; charset=utf-8"), lit(crlf),
      lit(crlf),
      lit("<html><body><p>Report for "), col("n_name"), lit("</p></body></html>"), lit(crlf),
      lit("--"), col("bnd"), lit(crlf),
      lit("Content-Type: text/csv; name=\"report.csv\""), lit(crlf),
      lit("Content-Transfer-Encoding: base64"), lit(crlf),
      lit(crlf),
      base64(col("csv").cast("binary")), lit(crlf),
      lit("--"), col("bnd"), lit("--"), lit(crlf)))
    raw
      .withColumn("p_subject", regexp_extract(col("raw"), "Subject: ([^\r\n]+)", 1))
      // parts split on the boundary marker: [preamble+headers, html, csv, end]
      .withColumn("p_html",
        expr("split(raw, concat('--', bnd, '\\r\\n'))[1]"))
      .withColumn("p_csvpart",
        expr("split(raw, concat('--', bnd, '\\r\\n'))[2]"))
      .withColumn("p_b64", regexp_extract(col("p_csvpart"),
        "base64\r\n\r\n([A-Za-z0-9+/=]+)", 1))
      .withColumn("p_csv", unbase64(col("p_b64")).cast("string"))
      .withColumn("body_text", trim(regexp_replace(col("p_html"),
        "<[^>]*>|Content-Type: [^\r\n]+", " ")))
      .select(col("n_nationkey"), col("p_subject"),
        (col("p_subject") === col("subject")).as("subject_ok"),
        (col("p_csv") === col("csv")).as("csv_ok"),
        size(split(col("p_csv"), "\r\n")).as("n_csv_lines"),
        regexp_replace(col("body_text"), "\\s+", " ").as("body_text"))
  }

  private val mimeRoundtripSql =
    """WITH n AS (
      |  SELECT n_nationkey, n_name,
      |    'nationkey,name' || chr(13) || chr(10) ||
      |      CAST(n_nationkey AS VARCHAR) || ',' || n_name AS csv,
      |    'Dealer Transactions Report ' || n_name AS subject,
      |    'B' || CAST(n_nationkey AS VARCHAR) AS bnd
      |  FROM nation),
      |r AS (
      |  SELECT *,
      |    'From: pipeline@example.invalid' || chr(13) || chr(10) ||
      |    'To: ops@example.invalid' || chr(13) || chr(10) ||
      |    'Subject: ' || subject || chr(13) || chr(10) ||
      |    'MIME-Version: 1.0' || chr(13) || chr(10) ||
      |    'Content-Type: multipart/mixed; boundary="' || bnd || '"' || chr(13) || chr(10) ||
      |    chr(13) || chr(10) ||
      |    '--' || bnd || chr(13) || chr(10) ||
      |    'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10) ||
      |    chr(13) || chr(10) ||
      |    '<html><body><p>Report for ' || n_name || '</p></body></html>' || chr(13) || chr(10) ||
      |    '--' || bnd || chr(13) || chr(10) ||
      |    'Content-Type: text/csv; name="report.csv"' || chr(13) || chr(10) ||
      |    'Content-Transfer-Encoding: base64' || chr(13) || chr(10) ||
      |    chr(13) || chr(10) ||
      |    to_base64(encode(csv)) || chr(13) || chr(10) ||
      |    '--' || bnd || '--' || chr(13) || chr(10) AS raw
      |  FROM n),
      |p AS (
      |  SELECT *,
      |    regexp_extract(raw, 'Subject: ([^\r\n]+)', 1) AS p_subject,
      |    string_split(raw, '--' || bnd || chr(13) || chr(10))[2] AS p_html,
      |    string_split(raw, '--' || bnd || chr(13) || chr(10))[3] AS p_csvpart
      |  FROM r),
      |q AS (
      |  SELECT *,
      |    decode(from_base64(regexp_extract(p_csvpart,
      |      'base64' || chr(13) || chr(10) || chr(13) || chr(10) || '([A-Za-z0-9+/=]+)', 1))) AS p_csv,
      |    trim(regexp_replace(p_html, '<[^>]*>|Content-Type: [^\r\n]+', ' ', 'g')) AS body_text
      |  FROM p)
      |SELECT n_nationkey, p_subject,
      |p_subject = subject AS subject_ok,
      |p_csv = csv AS csv_ok,
      |CAST(len(string_split(p_csv, chr(13) || chr(10))) AS INT) AS n_csv_lines,
      |regexp_replace(body_text, '\s+', ' ', 'g') AS body_text
      |FROM q""".stripMargin

  /** q148: the snapshot-manifest table format end-to-end. A fresh table
    * gets v1 = overwrite-commit of pre-1995 orders, then v2 =
    * append-commit of the rest (zero data rewrite — v2's manifest carries
    * v1's files forward). Both versions are then read back THROUGH the
    * manifests: v1 is read AFTER v2 committed, so the v1 row is time
    * travel, and `snapshot_isolated` audits in-frame that the old
    * snapshot admits none of the appended rows. The oracle recomputes
    * both snapshots' aggregates from orders directly — matching proves
    * the manifest plumbing (exclusive-create publish, carried file
    * lists) loses and leaks nothing. The lake is re-created per run so
    * versions are a pure function of the data. */
  def snapshotLake(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snaplake", dir)
    val cutoff = lit("1998-01-01").cast("date")
    val o = table(s, dir, "orders")
      .select(col("o_orderkey").cast("long").as("okey"),
        col("o_orderdate").cast("date").as("od"))
    val v1 = Snapshots.commit(o.filter(col("od") < cutoff), lake, append = false)
    val v2 = Snapshots.commit(o.filter(col("od") >= cutoff), lake, append = true)
    def snapAgg(v: Long): DataFrame = Snapshots.read(s, lake, v)
      .agg(count(lit(1)).as("n_rows"), sum("okey").as("sum_key"))
      .select(lit(v).as("version"), col("n_rows"), col("sum_key"))
    val leaked = Snapshots.read(s, lake, v1)
      .agg(coalesce(sum(when(col("od") >= cutoff, 1).otherwise(0)), lit(0)).as("leaked"))
    snapAgg(v1).union(snapAgg(v2)).crossJoin(leaked)
      .withColumn("snapshot_isolated", col("leaked") === 0)
      .drop("leaked")
  }

  private val snapshotLakeSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders)
      |SELECT CAST(1 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(okey) AS BIGINT) AS sum_key, TRUE AS snapshot_isolated
      |FROM o WHERE od < DATE '1998-01-01'
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(okey) AS BIGINT), TRUE
      |FROM o""".stripMargin

  /** A per-run snapshot table dir, wiped so version numbers are a pure
    * function of the input data. An [[IndexStore.workPath]], so two JVMs
    * sharing target/ (Verify beside Bench) never clobber each other's
    * lake between a commit and its read-back. */
  private[graft] def freshLake(s: SparkSession, name: String, dir: String): String = {
    val lake = IndexStore.workPath(s"target/tmp/${name}_" + IndexStore.dirTag(dir))
    IndexStore.remove(s, lake)
    lake
  }

  /** The id offset a [[feedCycle]]'s arrivals land under. */
  private[graft] val ArrivalOffset = 500000L

  /** One drained feed cycle: `base` is the v1 snapshot read (stable
    * under the later commits), `inserts` the feed's insert rows (the
    * arrival columns) and `deletes` its delete keys. */
  final case class Feed(base: DataFrame, inserts: DataFrame, deletes: DataFrame) {
    /** The feed counts a sync store records in its meta. */
    def counts: Map[String, String] = Map(
      "n_feed_inserts" -> inserts.count().toString,
      "n_feed_deletes" -> deletes.count().toString)
  }

  /** A served sync store's audit plus the [[Feed.counts]] its `meta`
    * recorded, as `n_feed_inserts` / `n_feed_deletes` columns. */
  private[graft] def withFeedCounts(meta: Map[String, String])(audit: DataFrame): DataFrame =
    Seq("n_feed_inserts", "n_feed_deletes")
      .foldLeft(audit)((a, k) => a.withColumn(k, lit(meta(k).toLong)))

  /** The lake feed cycle every serving family's sync stores consume
    * (MaskFoldSpec's fold-equality contract assumes a family's physical
    * and masked stores saw the SAME feed): on a fresh lake `name`, v1
    * commits `rows`; v2 `commitDelete`s the `key` of the rows matching
    * `erase`; v3 appends the `key % 31 = 2` slice under fresh ids
    * (`key + ArrivalOffset`) with the `arrive` columns; the v1→v3 feed
    * drains once. The offset must clear every base key — an arrival
    * sharing a real id would merge two rows under the families'
    * min-id policies — so `rows` holding a key at or above it is
    * refused before anything is written. */
  private[graft] def feedCycle(s: SparkSession, name: String, dir: String,
      rows: DataFrame, key: String, erase: Column, arrive: Column*): Feed = {
    assertIdHeadroom(rows, key, ArrivalOffset)
    val lake = freshLake(s, name, dir)
    val v1 = Snapshots.commit(rows, lake, append = false)
    val base = Snapshots.read(s, lake, v1)
    Snapshots.commitDelete(rows.filter(erase).select(key), lake)
    val v3 = Snapshots.commit(rows.filter(col(key) % 31 === 2)
        .select((col(key) + ArrivalOffset).as(key) +: arrive: _*),
      lake, append = true)
    val feed = Snapshots.changes(s, lake, v1, v3).localCheckpoint()
    Feed(base,
      feed.filter(col("_change_type") === "insert").drop("_change_type"),
      feed.filter(col("_change_type") === "delete").select(col(key)))
  }

  /** The `(okey, od)` projection of orders the snapshot queries commit. */
  private def ordersKeyed(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .select(col("o_orderkey").cast("long").as("okey"),
        col("o_orderdate").cast("date").as("od"))

  /** q151: sequence-scoped equality-deletes applied merge-on-read. v1 =
    * overwrite-commit of pre-1998 orders; v2 = [[Snapshots.commitDelete]]
    * of every okey divisible by 10 (the keys land as a kilobyte parquet
    * file listed `D <seq> <path>` in the manifest — zero data rewrite);
    * v3 = append-commit of the 1998+ orders. The Iceberg-v2 scoping rule:
    * the delete masks matching rows only in files committed BEFORE it, so
    * the latest read drops %10 keys from the v1 files but the v3-appended
    * %10 rows are immediately visible (a re-inserted key needs no
    * compaction), while time travel to v1 — whose manifest carries no `D`
    * line — still sees every pre-1995 row. `deletes_applied` audits
    * in-frame that no masked key survives among pre-1998 rows AND that
    * the later-appended %10 rows did surface. At 100 TB the delete costs
    * one broadcast hash anti-join at read time over only the older files,
    * never a rewrite of the data side. */
  def snapshotDelete(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snapdel", dir)
    val cutoff = lit("1998-01-01").cast("date")
    val o = ordersKeyed(s, dir)
    val v1 = Snapshots.commit(o.filter(col("od") < cutoff), lake, append = false)
    Snapshots.commitDelete(o.filter(col("okey") % 10 === 0).select("okey"), lake)
    val v3 = Snapshots.commit(o.filter(col("od") >= cutoff), lake, append = true)
    def snapAgg(v: Long): DataFrame = Snapshots.read(s, lake, v)
      .agg(count(lit(1)).as("n_rows"), sum("okey").as("sum_key"))
      .select(lit(v).as("version"), col("n_rows"), col("sum_key"))
    val audit = Snapshots.read(s, lake, v3)
      .agg(coalesce(sum(when(col("okey") % 10 === 0 && col("od") < cutoff, 1)
             .otherwise(0)), lit(0)).as("m"),
           coalesce(sum(when(col("okey") % 10 === 0 && col("od") >= cutoff, 1)
             .otherwise(0)), lit(0)).as("re"))
    snapAgg(v1).union(snapAgg(v3)).crossJoin(audit)
      .withColumn("deletes_applied", col("m") === 0 && col("re") > 0)
      .drop("m", "re")
  }

  private val snapshotDeleteSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders)
      |SELECT CAST(1 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(okey) AS BIGINT) AS sum_key, TRUE AS deletes_applied
      |FROM o WHERE od < DATE '1998-01-01'
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(okey) AS BIGINT), TRUE
      |FROM o WHERE okey % 10 <> 0 OR od >= DATE '1998-01-01'""".stripMargin

  /** q225: the LAKE leg of the takedown cascade (q222-q224 erase the
    * derived indexes; the source of truth must erase too — and in a
    * snapshot table "deleted" is not "gone"):
    *  - v1 commits the documents corpus;
    *  - v2 = [[Snapshots.commitDelete]] of the works (doc_id % 97 = 13) —
    *    LOGICAL erasure: merge-on-read masks the rows, but their bytes
    *    still sit in v1's files, time travel still serves them, and the
    *    delete-key file itself NAMES the works;
    *  - the v1->v2 change feed is drained first (the propagation hook: a
    *    q158-style IVM consumer and the q222-q224 index takedowns key off
    *    exactly these D rows) — drained BEFORE expiry because the feed
    *    reads the very files expiry reclaims;
    *  - v3 = [[Snapshots.compact]] — the PHYSICAL rewrite: live rows land
    *    in fresh files, masked rows in none;
    *  - [[Snapshots.expire]](keepFrom = v3) drops the v1/v2 manifests and
    *    physically deletes every file only they referenced — the erased
    *    bytes and the key file both.
    * The audits are the point: per-lang counts of the surviving lake
    * (oracled against the filtered corpus), the change-feed delete count,
    * `erased_bytes_remaining` counted by scanning EVERY parquet file
    * physically left under the lake dir — the MANIFEST-BLIND view, which
    * is the difference between "unreadable" and "gone" — pinned 0, and
    * `history_expired`: time travel to v1 must now refuse. */
  def lakeTakedown(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "taked", dir)
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
    val v1 = Snapshots.commit(d, lake, append = false)
    val v2 = Snapshots.commitDelete(
      d.filter(col("doc_id") % 97 === 13).select("doc_id"), lake)
    val nChangeDeletes = Snapshots.changes(s, lake, v1, v2)
      .filter(col("_change_type") === "delete").count()
    val v3 = Snapshots.compact(s, lake)
    val (mDropped, fDeleted) = Snapshots.expire(s, lake, v3)
    require(fDeleted > 0, "expiry must physically reclaim pre-takedown files")
    val historyExpired =
      try { Snapshots.read(s, lake, v1).head(1); false }
      // ONLY the missing-manifest refusal counts as "expired" — a broader
      // catch would let any unrelated read failure pass the pinned-TRUE
      // audit (the one failure mode this audit exists to distinguish)
      catch { case _: java.io.FileNotFoundException => true }
    // the manifest-blind physical scan: every part file still on disk
    // under the lake's data root, read directly (sidecar _blooms/_stats
    // dirs are underscore-hidden and skipped by the recursive listing)
    val residual = parquet(s, Seq(s"$lake/data"),
        Map("recursiveFileLookup" -> "true", "pathGlobFilter" -> "part-*.parquet"))
      .agg(coalesce(sum(when(col("doc_id") % 97 === 13, 1L).otherwise(0L)), lit(0L))
        .as("erased_bytes_remaining"))
    Snapshots.read(s, lake)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(residual))
      .withColumn("n_change_deletes", lit(nChangeDeletes))
      .withColumn("manifests_dropped", lit(mDropped.toLong))
      .withColumn("history_expired", lit(historyExpired))
  }

  private val lakeTakedownSql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(0 AS BIGINT) AS erased_bytes_remaining,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE doc_id % 97 = 13)
      |         AS n_change_deletes,
      |       CAST(2 AS BIGINT) AS manifests_dropped,
      |       TRUE AS history_expired
      |FROM documents WHERE doc_id % 97 <> 13
      |GROUP BY lang""".stripMargin

  /** q152: per-file min/max statistics driving data skipping. The commit
    * range-clusters orders by order date into 8 files and records each
    * file's `od` min/max beside the segment (`statsCols`);
    * [[Snapshots.readPruned]] then plans a one-year scan from the stats
    * alone — the parquet relation lists ONLY files whose [min,max] can
    * intersect 1996, and the residual typed filter handles the boundary
    * files' spill. `files_pruned` audits that whole files were actually
    * skipped (8 range-clustered files over ~7 years vs a 1-year
    * predicate). At 100 TB: planning is O(manifest) driver-side metadata,
    * the scan touches O(matching files) — the payoff of clustering plus
    * stats, same mechanism as q141's z-order at the file level. */
  def snapshotPrune(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snapprune", dir)
    val (lo, hi) = ("1996-01-01", "1996-12-31")
    Snapshots.commit(ordersKeyed(s, dir).repartitionByRange(8, col("od")),
      lake, append = false, statsCols = Seq("od"))
    val (kept, total) = Snapshots.pruneFiles(s, lake, "od", lo, hi)
    Snapshots.readPruned(s, lake, "od", lo, hi)
      .agg(count(lit(1)).as("n_rows"), sum("okey").as("sum_key"),
           min("od").as("min_od"), max("od").as("max_od"))
      .withColumn("files_pruned", lit(kept.size < total))
  }

  private val snapshotPruneSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sum_key,
      |       MIN(CAST(o_orderdate AS DATE)) AS min_od,
      |       MAX(CAST(o_orderdate AS DATE)) AS max_od,
      |       TRUE AS files_pruned
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE)
      |      BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'""".stripMargin

  /** q153: the row-level change feed between two snapshots. History: v1 =
    * overwrite (pre-1997), v2 = append (1997), v3 = equality-delete of
    * every okey divisible by 7, v4 = append (1998+). [[Snapshots.changes]]
    * (v1→v4) reads EXACTLY the files added in the window — cost O(changed
    * data), never O(table). Sequence scoping decides what surfaces: the
    * 1997 rows (seq 2) are masked by the v3 delete, so %7 keys among them
    * never appear as inserts, while the 1998+ rows (seq 4) postdate the
    * delete and surface in full — including re-appended %7 keys. Deletes
    * are the key rows with non-key columns null. A consumer applying the
    * DELETES to its v1 copy first, then adding the inserts, lands exactly
    * on v4 — the contract the oracle recomputes from orders directly. */
  def snapshotChanges(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snapchg", dir)
    val lo = lit("1997-01-01").cast("date")
    val hi = lit("1998-01-01").cast("date")
    val o = ordersKeyed(s, dir)
    val v1 = Snapshots.commit(o.filter(col("od") < lo), lake, append = false)
    Snapshots.commit(o.filter(col("od") >= lo && col("od") < hi), lake, append = true)
    Snapshots.commitDelete(o.filter(col("okey") % 7 === 0).select("okey"), lake)
    val v4 = Snapshots.commit(o.filter(col("od") >= hi), lake, append = true)
    Snapshots.changes(s, lake, v1, v4)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum("okey").as("sum_key"),
           count(col("od")).as("n_dated"))
  }

  private val snapshotChangesSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders)
      |SELECT 'delete' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(okey) AS BIGINT) AS sum_key, CAST(0 AS BIGINT) AS n_dated
      |FROM (SELECT DISTINCT okey FROM o WHERE okey % 7 = 0)
      |UNION ALL
      |SELECT 'insert', CAST(COUNT(*) AS BIGINT), CAST(SUM(okey) AS BIGINT),
      |       CAST(COUNT(od) AS BIGINT)
      |FROM o WHERE od >= DATE '1997-01-01'
      |      AND (okey % 7 <> 0 OR od >= DATE '1998-01-01')""".stripMargin

  /** q154: incremental view maintenance off the change feed. A monthly
    * (count, sum) materialization is built ONCE over snapshot v1, then the
    * table advances (append 1997, equality-delete okey%7, append 1998+)
    * and the materialization is moved to v4 WITHOUT recomputing the base:
    * insert deltas aggregate the feed's insert rows (O(changed data),
    * already sequence-scoped: 1997 rows arrive minus the deleted keys,
    * 1998+ rows in full); delete deltas resolve the feed's key rows
    * against the consumer's v1 copy (broadcast keys — one lookup join,
    * prunable when the copy is clustered by key) and subtract — matching
    * the scoped contract, since every row the consumer holds predates
    * the window's deletes. Old aggregate + deltas is the
    * answer; the oracle recomputes the v4 aggregate from orders directly,
    * so a hash match proves the maintenance is EXACT, not approximate.
    * At 100 TB this is the difference between touching the delta and
    * rescanning the table every refresh. */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snapivm", dir)
    val lo = lit("1997-01-01").cast("date")
    val hi = lit("1998-01-01").cast("date")
    val o = ordersKeyed(s, dir)
    val v1 = Snapshots.commit(o.filter(col("od") < lo), lake, append = false)
    Snapshots.commit(o.filter(col("od") >= lo && col("od") < hi), lake, append = true)
    Snapshots.commitDelete(o.filter(col("okey") % 7 === 0).select("okey"), lake)
    val v4 = Snapshots.commit(o.filter(col("od") >= hi), lake, append = true)
    def monthAgg(df: DataFrame): DataFrame =
      df.groupBy(date_format(col("od"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n_rows"), sum("okey").as("sum_key"))
    val m1 = monthAgg(Snapshots.read(s, lake, v1)) // the stored materialization
    val ch = Snapshots.changes(s, lake, v1, v4)
    val insDelta = monthAgg(ch.filter(col("_change_type") === "insert"))
    val delKeys = ch.filter(col("_change_type") === "delete").select("okey")
    val delDelta = monthAgg(Snapshots.read(s, lake, v1)
        .join(broadcast(delKeys), Seq("okey")))
      .select(col("ym"), (-col("n_rows")).as("n_rows"), (-col("sum_key")).as("sum_key"))
    Snapshots.mergeAggDeltas(m1, Seq(insDelta, delDelta), Seq("ym"), "n_rows")
  }

  private val incrementalAggSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders)
      |SELECT strftime(od, '%Y-%m') AS ym, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(okey) AS BIGINT) AS sum_key
      |FROM o WHERE okey % 7 <> 0 OR od >= DATE '1998-01-01'
      |GROUP BY 1""".stripMargin

  /** q155: atomic MERGE (upsert) as ONE snapshot commit. v1 = the whole
    * orders table with a derived value column; one [[Snapshots.upsert]]
    * then replaces every okey%3 row's value AND inserts brand-new keys
    * (okey+10M) in a single manifest publish — an equality-delete on the
    * batch's keys plus the batch's data files at the same sequence, so
    * the delete masks the old copies but never the rows it ships with.
    * Readers see pre-merge or post-merge, never between; the data plane
    * cost is O(batch) with no rewrite of matched files (merge-on-read).
    * The result classifies the post-merge table (updated / untouched /
    * inserted) and reads v1 back through time travel — the oracle
    * recomputes both states from orders, so a hash match proves the
    * merge replaced exactly the matched keys and the old snapshot is
    * untouched. */
  def snapshotUpsert(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snapup", dir)
    val o = ordersKeyed(s, dir)
    val v1 = Snapshots.commit(o.withColumn("val", col("okey") % 97), lake, append = false)
    val batch = o.filter(col("okey") % 3 === 0)
      .select(col("okey"), col("od"), (col("okey") % 89 + 1000).as("val"))
      .unionByName(o.filter(col("okey") % 1000 === 0)
        .select((col("okey") + 10000000L).as("okey"), col("od"), lit(42L).as("val")))
    Snapshots.upsert(batch, lake, Seq("okey"))
    val cls = when(col("okey") >= 10000000L, "inserted")
      .when(col("okey") % 3 === 0, "updated").otherwise("untouched")
    Snapshots.read(s, lake)
      .groupBy(cls.as("cls"))
      .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val"))
      .unionByName(Snapshots.read(s, lake, v1)
        .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val"))
        .select(lit("v1_total").as("cls"), col("n_rows"), col("sum_val")))
  }

  private val snapshotUpsertSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders),
      |final AS (
      |  SELECT okey, CASE WHEN okey % 3 = 0 THEN okey % 89 + 1000
      |                    ELSE okey % 97 END AS val FROM o
      |  UNION ALL
      |  SELECT okey + 10000000, 42 FROM o WHERE okey % 1000 = 0)
      |SELECT CASE WHEN okey >= 10000000 THEN 'inserted'
      |            WHEN okey % 3 = 0 THEN 'updated'
      |            ELSE 'untouched' END AS cls,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(val) AS BIGINT) AS sum_val
      |FROM final GROUP BY 1
      |UNION ALL
      |SELECT 'v1_total', CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(okey % 97) AS BIGINT)
      |FROM o""".stripMargin

  /** q156: dynamic partition overwrite on the snapshot table. v1 commits
    * the whole orders table partition-ALIGNED on order year
    * (`routeBy="oy"`: every data file holds exactly one year, recorded as
    * min==max in its stats). [[Snapshots.overwritePartitions]] then
    * restates 1996 — only the even keys survive the restatement — by
    * dropping exactly the carried files whose stats pin them to 1996 and
    * appending the new files, a pure driver-side metadata decision with
    * data-plane cost O(restated partition). Every other year's files are
    * carried untouched (same bytes, same paths), v1 still reads complete
    * through time travel, and `physically_replaced` audits that no v1
    * 1996-file survives in the latest snapshot's scan. A straddling or
    * stat-less file would refuse loudly — the alignment contract, not a
    * silent row drop. */
  def snapshotReplace(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snaprep", dir)
    val o = ordersKeyed(s, dir).withColumn("oy", year(col("od")))
    val v1 = Snapshots.commit(o, lake, append = false,
      statsCols = Seq("oy"), routeBy = Some("oy"))
    Snapshots.overwritePartitions(
      o.filter(col("oy") === 1996 && col("okey") % 2 === 0), lake, "oy")
    val latest = Snapshots.read(s, lake)
    def cagg(df: DataFrame, cl: String) =
      df.agg(count(lit(1)).as("n_rows"), sum("okey").as("sum_key"))
        .select(lit(cl).as("cls"), col("n_rows"), col("sum_key"))
    val survivors = latest.filter(col("oy") === 1996)
      .select(input_file_name().as("f")).distinct()
      .join(Snapshots.read(s, lake, v1).filter(col("oy") === 1996)
        .select(input_file_name().as("f")).distinct(), Seq("f"), "left_semi")
    cagg(latest.filter(col("oy") === 1996), "latest_1996")
      .union(cagg(latest.filter(col("oy") =!= 1996), "latest_other"))
      .union(cagg(Snapshots.read(s, lake, v1).filter(col("oy") === 1996), "v1_1996"))
      .crossJoin(survivors.agg(count(lit(1)).as("sv")))
      .withColumn("physically_replaced", col("sv") === 0).drop("sv")
  }

  private val snapshotReplaceSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders)
      |SELECT 'latest_1996' AS cls, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(okey) AS BIGINT) AS sum_key, TRUE AS physically_replaced
      |FROM o WHERE year(od) = 1996 AND okey % 2 = 0
      |UNION ALL
      |SELECT 'latest_other', CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(okey) AS BIGINT), TRUE
      |FROM o WHERE year(od) <> 1996
      |UNION ALL
      |SELECT 'v1_1996', CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(okey) AS BIGINT), TRUE
      |FROM o WHERE year(od) = 1996""".stripMargin

  /** q157: per-file Bloom sidecars driving point-lookup data skipping —
    * the equality dual of q152's min/max range pruning. The commit
    * clusters orders by DATE into 16 files and records a bloom on `okey`
    * per file (`bloomCols`): order keys are scattered across the date
    * clustering, so min/max stats cannot prune an okey probe, but each
    * probe key physically lives in ~one file and its bloom says which.
    * [[Snapshots.readPoint]] plans the probe of three known keys from the
    * sidecars alone — the parquet relation lists only might-contain
    * files, the residual typed filter drops bloom false positives, and
    * `files_pruned` audits that whole files were skipped. At 100 TB this
    * is the difference between a point lookup costing O(key's files) and
    * rescanning a table the clustering wasn't built for. Blooms are
    * built one grouped pass over the NEW segment only and written
    * distributed beside it (`_blooms`), never gathered on the driver. */
  def snapshotPoint(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snappt", dir)
    val o = ordersKeyed(s, dir)
    Snapshots.commit(o.repartitionByRange(16, col("od")), lake, append = false,
      bloomCols = Seq("okey"))
    val probes = o.filter(col("okey") % 1000 === 7).orderBy(col("okey")).limit(3)
      .collect().map(_.getLong(0).toString).toSeq // point-lookup keys: driver-side by nature
    val (kept, total) = Snapshots.pruneFilesPoint(s, lake, "okey", probes)
    Snapshots.readPoint(s, lake, "okey", probes)
      .agg(count(lit(1)).as("n_rows"),
           coalesce(sum("okey"), lit(0L)).as("sum_key"),
           min("od").as("min_od"))
      .withColumn("files_pruned", lit(kept.size < total))
  }

  private val snapshotPointSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders),
      |p AS (SELECT okey FROM o WHERE okey % 1000 = 7 ORDER BY okey LIMIT 3)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(COALESCE(SUM(okey), 0) AS BIGINT) AS sum_key,
      |       MIN(od) AS min_od, TRUE AS files_pruned
      |FROM o WHERE okey IN (SELECT okey FROM p)""".stripMargin

  /** q158: the incremental-view-maintenance LOOP — the production shape
    * of q154. A monthly (count, sum) materialization is built once, then
    * the table advances through every commit type the format supports —
    * append (1997), equality-delete (okey%5), atomic upsert (okey%3
    * restated with new values, including re-inserting keys the delete
    * just removed), append (1998+) — and after EACH commit the
    * materialization is refreshed from [[Snapshots.changes]] of that
    * window alone: insert deltas off the feed, delete deltas resolved
    * against the previous version's copy (broadcast keys). The upsert
    * window exercises the subtle case: its delete and insert rows arrive
    * in one feed and compose as subtract-old + add-new. The final STATE
    * (never a direct read) is the query result; the oracle recomputes
    * the ground-truth aggregate of the final table, so a hash match
    * proves four successive O(delta) refreshes land bit-exactly where a
    * full rescan would. State is localCheckpointed per round so the plan
    * doesn't nest across refreshes. */
  def ivmLoop(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snapivl", dir)
    val lo = lit("1997-01-01").cast("date")
    val hi = lit("1998-01-01").cast("date")
    val o = ordersKeyed(s, dir)
    val withVal = o.withColumn("val", col("okey") % 97)
    def monthAgg(df: DataFrame): DataFrame =
      df.groupBy(date_format(col("od"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val"))
    var prevV = Snapshots.commit(withVal.filter(col("od") < lo), lake, append = false)
    var state = monthAgg(Snapshots.read(s, lake, prevV)).coalesce(1).localCheckpoint(true)
    def advance(commit: => Long): Unit = {
      val v = commit
      val ch = Snapshots.changes(s, lake, prevV, v)
      val ins = monthAgg(ch.filter(col("_change_type") === "insert"))
      val delKeys = ch.filter(col("_change_type") === "delete").select("okey")
      val del = monthAgg(Snapshots.read(s, lake, prevV)
          .join(broadcast(delKeys), Seq("okey")))
        .select(col("ym"), (-col("n_rows")).as("n_rows"),
          (-col("sum_val")).as("sum_val"))
      state = Snapshots.mergeAggDeltas(state, Seq(ins, del), Seq("ym"), "n_rows")
        .coalesce(1).localCheckpoint(true)
      prevV = v
    }
    advance(Snapshots.commit(withVal.filter(col("od") >= lo && col("od") < hi),
      lake, append = true))
    advance(Snapshots.commitDelete(o.filter(col("okey") % 5 === 0).select("okey"), lake))
    advance(Snapshots.upsert(withVal.filter(col("od") < hi && col("okey") % 3 === 0)
      .withColumn("val", col("okey") % 89 + 1000), lake, Seq("okey")))
    advance(Snapshots.commit(withVal.filter(col("od") >= hi), lake, append = true))
    state
  }

  private val ivmLoopSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders),
      |pre AS (SELECT okey, od FROM o WHERE od < DATE '1998-01-01'),
      |fin AS (
      |  SELECT okey, od, okey % 89 + 1000 AS val FROM pre WHERE okey % 3 = 0
      |  UNION ALL
      |  SELECT okey, od, okey % 97 FROM pre WHERE okey % 3 <> 0 AND okey % 5 <> 0
      |  UNION ALL
      |  SELECT okey, od, okey % 97 FROM o WHERE od >= DATE '1998-01-01')
      |SELECT strftime(od, '%Y-%m') AS ym, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(val) AS BIGINT) AS sum_val
      |FROM fin GROUP BY 1""".stripMargin

  /** q160: write-audit-publish — the quality gate the table format's
    * pieces compose into. Every candidate batch COMMITS first (appends
    * are cheap and atomic), is audited as a committed snapshot (here: no
    * duplicate order keys — the audit reads exactly what a consumer
    * would), and on failure the table ROLLS BACK to the pre-candidate
    * version: a metadata-only commit, the bad data never visible to a
    * reader that tracks published versions, no data rewrite in either
    * direction. The good 1998 batch passes and stays; the 1999+ batch is
    * poisoned with duplicated keys, fails the audit, and is rolled back.
    * The oracle recomputes the expected surviving table (base + good
    * batch only); `bad_rejected`/`rolled_back` pin the gate and the
    * rollback meta in-frame. At 100 TB the audit costs one scan of the
    * CANDIDATE snapshot and rejection costs one kilobyte manifest. */
  def snapshotWap(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snapwap", dir)
    val y98 = lit("1998-01-01").cast("date")
    val y99 = lit("1999-01-01").cast("date")
    val o = ordersKeyed(s, dir)
    Snapshots.commit(o.filter(col("od") < y98), lake, append = false)
    def audit(v: Long): Boolean = {
      val r = Snapshots.read(s, lake, v)
        .agg(count(lit(1)).as("n"), countDistinct(col("okey")).as("d")).collect()(0)
      r.getLong(0) == r.getLong(1) // publishable iff keys stay unique
    }
    def publish(candidate: DataFrame): Boolean = {
      val v = Snapshots.commit(candidate, lake, append = true)
      audit(v) || { Snapshots.rollback(s, lake, v - 1); false }
    }
    val good = publish(o.filter(col("od") >= y98 && col("od") < y99))
    val bad = o.filter(col("od") >= y99)
    val rejected = !publish(bad.unionByName(bad.filter(col("okey") % 10 === 0)))
    val latest = Snapshots.latestVersion(s, lake)
    Snapshots.read(s, lake, latest)
      .agg(count(lit(1)).as("n_rows"), sum("okey").as("sum_key"))
      .withColumn("good_published", lit(good))
      .withColumn("bad_rejected", lit(rejected))
      .withColumn("rolled_back",
        lit(Snapshots.manifestMeta(s, lake, latest).contains("rollback")))
  }

  private val snapshotWapSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(okey) AS BIGINT) AS sum_key,
      |       TRUE AS good_published, TRUE AS bad_rejected, TRUE AS rolled_back
      |FROM o WHERE od < DATE '1999-01-01'""".stripMargin

  /** q161: the corpus datacard maintained incrementally across snapshot
    * commits — the q137/q142 themes composed over the table format. The
    * documents corpus lands in three append commits; after each, the
    * per-lang card state advances from THAT window's change feed alone:
    * additive columns (doc count, char sum) merge as signed deltas, and
    * the distinct-content metric rides a mergeable HLL sketch column
    * (`hll_sketch_agg` per batch, `hll_union_agg` into the state) — the
    * thing a plain `approx_count_distinct` result can never do. Cost per
    * refresh is O(batch); the corpus is never rescanned. Append-only by
    * design: sketches can't subtract, so a delete-bearing corpus would
    * recompute distinct metrics (documented, the q133 trade). The final
    * STATE emits exact counts/sums (oracled hash-exact) plus a 20%
    * error-bound contract on the sketch estimate vs the exact distinct,
    * the q24/q133 pattern for oracling approximation. */
  def incrementalDatacard(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snapdc", dir)
    val docs = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("digest"))
    def card(df: DataFrame): DataFrame =
      df.groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        expr("hll_sketch_agg(digest)").as("sk"))
    var prevV = 0L
    var state: DataFrame = null
    (0 until 3).foreach { i =>
      val v = Snapshots.commit(docs.filter(col("doc_id") % 3 === i),
        lake, append = prevV > 0)
      state =
        if (prevV == 0L) card(Snapshots.read(s, lake, v))
        else {
          val delta = card(Snapshots.changes(s, lake, prevV, v)
            .filter(col("_change_type") === "insert"))
          state.unionByName(delta).groupBy("lang")
            .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"),
              expr("hll_union_agg(sk)").as("sk"))
        }
      state = state.coalesce(1).localCheckpoint(true)
      prevV = v
    }
    val exact = docs.groupBy("lang")
      .agg(countDistinct(col("digest")).as("exact_distinct"))
    state
      .select(col("lang"), col("n_docs"), col("sum_chars"),
        expr("hll_sketch_estimate(sk)").as("est"))
      .join(exact, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("sum_chars"),
        (abs(col("est") - col("exact_distinct")) <=
          col("exact_distinct") * 0.2).as("distinct_ok"))
  }

  private val incrementalDatacardSql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars, TRUE AS distinct_ok
      |FROM documents GROUP BY lang""".stripMargin

  /** q162: the pruned delete-resolve — making q154's "prunes when the
    * copy is clustered" claim REAL instead of a doc note. The consumer's
    * copy is a key-clustered, bloom-sidecar'd snapshot table; a takedown
    * equality-delete of five specific keys lands; and the maintainer
    * resolves the deleted rows' values for its aggregate subtraction
    * through [[Snapshots.readPoint]] AT THE PRE-DELETE VERSION (the
    * post-delete read would mask exactly the rows it needs) — so the
    * resolve scans only the ≤5 of 16 files whose blooms might hold the
    * keys, audited in-frame, instead of the whole copy. The maintained
    * state is the result; the oracle recomputes the post-takedown
    * aggregate directly. At 100 TB this is the difference between a
    * takedown refresh costing O(keys' files) and a full copy scan. */
  def prunedResolve(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val lake = freshLake(s, "snappr", dir)
    val o = ordersKeyed(s, dir).withColumn("val", col("okey") % 97)
    val v1 = Snapshots.commit(o.repartitionByRange(16, col("okey")), lake,
      append = false, bloomCols = Seq("okey"))
    def monthAgg(df: DataFrame): DataFrame =
      df.groupBy(date_format(col("od"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val"))
    val state0 = monthAgg(Snapshots.read(s, lake, v1))
    val delKeys = o.filter(col("okey") % 100 === 7).orderBy(col("okey")).limit(5)
      .collect().map(_.getLong(0)).toSeq // takedown list: small by nature
    import s.implicits._
    Snapshots.commitDelete(delKeys.toDF("okey"), lake)
    val probe = delKeys.map(_.toString)
    val (kept, total) = Snapshots.pruneFilesPoint(s, lake, "okey", probe, v1)
    val resolved = monthAgg(Snapshots.readPoint(s, lake, "okey", probe, v1))
      .select(col("ym"), (-col("n_rows")).as("n_rows"),
        (-col("sum_val")).as("sum_val"))
    Snapshots.mergeAggDeltas(state0, Seq(resolved), Seq("ym"), "n_rows")
      .withColumn("files_pruned", lit(kept.size < total))
  }

  private val prunedResolveSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders),
      |dk AS (SELECT okey FROM o WHERE okey % 100 = 7 ORDER BY okey LIMIT 5)
      |SELECT strftime(od, '%Y-%m') AS ym, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(okey % 97) AS BIGINT) AS sum_val, TRUE AS files_pruned
      |FROM o WHERE okey NOT IN (SELECT okey FROM dk)
      |GROUP BY 1""".stripMargin

  override val queries: Seq[GQuery] = Seq(
    GQuery("q101_merge_lake", "durable partition-scoped MERGE sink: upsert applied twice == once (S7)",
      mergeLake, Some(mergeLakeSql)),
    GQuery("q148_snapshot_lake",
      "snapshot-manifest table: overwrite + logical-append commits, time-travel read, isolation audited",
      snapshotLake, Some(snapshotLakeSql)),
    GQuery("q151_snapshot_delete",
      "equality-delete commit: merge-on-read masking across past AND later appends, time travel intact",
      snapshotDelete, Some(snapshotDeleteSql)),
    GQuery("q225_lake_takedown",
      "lake takedown: logical delete -> change feed drained -> physical compact -> history expiry; a manifest-blind disk scan proves zero erased bytes remain and time travel to pre-delete versions refuses",
      lakeTakedown, Some(lakeTakedownSql)),
    GQuery("q152_snapshot_prune",
      "per-file min/max stats: driver-side file pruning + residual filter over a range-clustered table",
      snapshotPrune, Some(snapshotPruneSql)),
    GQuery("q153_snapshot_changes",
      "row-level change feed between snapshots: inserts from added files only, deletes as key rows",
      snapshotChanges, Some(snapshotChangesSql)),
    GQuery("q154_incremental_agg",
      "incremental view maintenance: materialized aggregate moved across snapshots by feed deltas alone",
      incrementalAgg, Some(incrementalAggSql)),
    GQuery("q155_snapshot_upsert",
      "atomic MERGE commit: delete-on-keys + append in one manifest, old snapshot intact",
      snapshotUpsert, Some(snapshotUpsertSql)),
    GQuery("q156_snapshot_replace",
      "dynamic partition overwrite: restate one partition's files, carry every other untouched",
      snapshotReplace, Some(snapshotReplaceSql)),
    GQuery("q157_snapshot_point",
      "per-file bloom sidecars: point lookup on an unclustered key scans only might-contain files",
      snapshotPoint, Some(snapshotPointSql)),
    GQuery("q158_ivm_loop",
      "IVM loop: materialization refreshed per commit across append/delete/upsert, never rescanning",
      ivmLoop, Some(ivmLoopSql)),
    GQuery("q160_snapshot_wap",
      "write-audit-publish: commit candidate, audit the snapshot, roll back on failure",
      snapshotWap, Some(snapshotWapSql)),
    GQuery("q161_incremental_datacard",
      "datacard maintained across snapshot commits: additive deltas + mergeable HLL sketches",
      incrementalDatacard, Some(incrementalDatacardSql)),
    GQuery("q162_pruned_resolve",
      "takedown resolve through the bloom-pruned point read: O(keys' files), not a copy scan",
      prunedResolve, Some(prunedResolveSql)),
    GQuery("q82_csv_roundtrip", "CSV sink+scan roundtrip vs parquet oracle (S1/S9)",
      csvRoundtrip, Some(csvRoundtripSql)),
    GQuery("q83_json_roundtrip", "JSON sink+scan roundtrip vs parquet oracle (S2/S6)",
      jsonRoundtrip, Some(jsonRoundtripSql)),
    GQuery("q80_partitioned_lake", "hive-partitioned write + partition-pruned scan (S6/S12)",
      partitionedLake, Some(partitionedLakeSql)),
    GQuery("q81_orc_roundtrip", "ORC sink+scan roundtrip vs parquet oracle (S6/S12)",
      orcRoundtrip, Some(orcRoundtripSql)),
    GQuery("q92_schema_evolution", "mergeSchema read across old/new-generation lake files",
      schemaEvolution, Some(schemaEvolutionSql)),
    GQuery("q139_mime_roundtrip",
      "RFC-2822 MIME multipart wire format: build + parse back as column expressions",
      mimeRoundtrip, Some(mimeRoundtripSql)),
  )
}
