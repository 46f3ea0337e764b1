package graft.operators

import graft.Engine._
import graft.{GQuery, QueryModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical / sampling analytics beyond the plain grouped aggregates
  * (A5 breadth): exact interpolated percentiles, correlation via the exact
  * decimal moment identity, and deterministic hash-based sampling.
  *
  * Reference provenance: the reference has no statistics beyond SUM/COUNT
  * (/root/reference/data_pipeline.py:401-402); this extends the aggregate
  * surface the way a production data-quality layer does — percentile SLAs,
  * cross-field drift checks (correlation), and reproducible debug samples.
  *
  * Scale posture: percentiles are a single sort-based aggregate per group;
  * correlation is five map-side-combined decimal sums (one shuffle, no
  * second pass); hash sampling is a stateless per-row predicate — pushes
  * to the scan, samples the SAME rows on any cluster size or run, unlike
  * `TABLESAMPLE`/`rand()` which are partition- and seed-dependent.
  */
object Analytics extends QueryModule {

  /** Exact interpolated percentiles (quantile SLA check). Both engines
    * linearly interpolate over the sorted values; results are rounded at 6
    * digits so the one permissible ulp of interpolation-order difference
    * cannot flip the hash.
    */
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val x = col("o_totalprice")
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           round(expr("percentile(o_totalprice, 0.25)"), 6).as("p25"),
           round(expr("percentile(o_totalprice, 0.50)"), 6).as("p50"),
           round(expr("percentile(o_totalprice, 0.75)"), 6).as("p75"),
           round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"),
           min(x).as("x_min"), max(x).as("x_max"))
  }

  private val percentilesSql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
      |round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
      |round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
      |round(quantile_cont(o_totalprice, 0.99), 6) AS p99,
      |MIN(o_totalprice) AS x_min, MAX(o_totalprice) AS x_max
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Sketch-path percentiles — the 100 TB alternative to q29's exact
    * sort-based percentile(): approx_percentile's GK quantile summary is a
    * partial-aggregable sketch (ObjectHashAggregate, NO per-group full
    * sort), with a deterministic rank-error guarantee of n/accuracy. The
    * guarantee is what the oracle checks: a second linear scan counts rows
    * at-or-below each sketch output, and booleans assert the observed rank
    * sits within p*n ± (2n/accuracy + 2); DuckDB expects TRUE. Both scans
    * are hash aggregates — this query never sorts anything.
    */
  def approxQuantiles(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val acc = 1000
    val o = table(s, dir, "orders").select(col("o_orderpriority"), col("o_totalprice"))
    val sk = o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           expr(s"approx_percentile(o_totalprice, array(0.5D, 0.99D), $acc)").as("ap"))
      .select(col("o_orderpriority"), col("n"),
              col("ap")(0).as("p50a"), col("ap")(1).as("p99a"))
    o.join(broadcast(sk), "o_orderpriority")
      .groupBy(col("o_orderpriority"))
      .agg(first(col("n")).as("n"),
           sum(when(col("o_totalprice") <= col("p50a"), 1L).otherwise(0L)).as("r50"),
           sum(when(col("o_totalprice") <= col("p99a"), 1L).otherwise(0L)).as("r99"))
      .select(col("o_orderpriority"), col("n"),
        (abs(col("r50") - col("n") * 0.5) <= col("n") * 2.0 / acc + 2).as("p50_rank_ok"),
        (abs(col("r99") - col("n") * 0.99) <= col("n") * 2.0 / acc + 2).as("p99_rank_ok"))
  }

  private val approxQuantilesSql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |TRUE AS p50_rank_ok, TRUE AS p99_rank_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Pearson correlation from the exact decimal moment identity — NOT the
    * engines' own streaming corr() implementations, whose low bits differ
    * by accumulation order. The five sums are exact decimals (x has 2
    * decimals, y is integral, so scale 2/0 casts are lossless; the scale-0
    * squares round per-row identically in both engines); the final
    * combination is IEEE double arithmetic written in the same order on
    * both sides, hence bit-identical. Same exact-cast bound as statsAgg:
    * per-group sums stay below 2^53 through the driver's scale factors.
    */
  def corrAgg(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val x = col("o_totalprice")
    val y = (col("o_custkey") % 97).cast("double")
    val n = count(lit(1)).cast("double")
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        ((dsum(x * y, 2) - dsum(x, 2) * dsum(y, 0) / n) /
          sqrt((dsum(x * x, 0) - dsum(x, 2) * dsum(x, 2) / n) *
               (dsum(y * y, 0) - dsum(y, 0) * dsum(y, 0) / n))).as("corr_xy"))
  }

  private val corrAggSql = {
    val sx = DSUM("o_totalprice", 2)
    val sy = DSUM("(o_custkey % 97)", 0)
    val sxy = DSUM("o_totalprice * (o_custkey % 97)", 2)
    val sxx = DSUM("o_totalprice * o_totalprice", 0)
    val syy = DSUM("(o_custkey % 97) * (o_custkey % 97)", 0)
    val n = "CAST(COUNT(*) AS DOUBLE)"
    s"""SELECT o_orderpriority, COUNT(*) AS n_rows,
       |(($sxy - $sx * $sy / $n) /
       | sqrt(($sxx - $sx * $sx / $n) * ($syy - $sy * $sy / $n))) AS corr_xy
       |FROM orders GROUP BY o_orderpriority""".stripMargin
  }

  /** Correlated LATERAL subquery (SQL surface): per-priority top-2 orders
    * by price via a lateral per-row subquery — Catalyst decorrelates it
    * into the same windowed plan a hand-written rank would produce, which
    * is exactly why the declarative SQL spelling is safe at scale.
    */
  def lateralTopK(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT p.o_orderpriority, t.o_orderkey, t.o_totalprice
        |FROM (SELECT DISTINCT o_orderpriority FROM orders_v) p,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v o
        |         WHERE o.o_orderpriority = p.o_orderpriority
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin)
  }

  private val lateralTopKSql =
    """SELECT p.o_orderpriority, t.o_orderkey, t.o_totalprice
      |FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
      |         WHERE o.o_orderpriority = p.o_orderpriority
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin

  /** Correlated EXISTS / NOT EXISTS (SQL surface): customers with and
    * without high-value orders — Catalyst rewrites to semi/anti joins,
    * the same plans as q12/q13's DataFrame spellings.
    */
  def existsSubquery(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "orders").createOrReplaceTempView("orders_v")
    table(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT c.c_mktsegment,
        |  CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders_v o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_big_spenders,
        |  CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders_v o
        |    WHERE o.o_custkey = c.c_custkey)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_no_orders,
        |  COUNT(*) AS n_customers
        |FROM customer_v c GROUP BY c.c_mktsegment""".stripMargin)
  }

  private val existsSubquerySql =
    """SELECT c.c_mktsegment,
      |  CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_big_spenders,
      |  CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_no_orders,
      |  COUNT(*) AS n_customers
      |FROM customer c GROUP BY c.c_mktsegment""".stripMargin

  /** Deterministic hash sample: keep rows whose portable key-hash lands in
    * the first 10 of 100 buckets. Reproducible across engines, runs, and
    * cluster sizes — the debug-sample / A-B-split primitive a pipeline
    * needs where rand()-based sampling is unrepeatable.
    */
  def hashSample(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "orders")
      .filter(md5Long(col("o_orderkey").cast("string")) % 100 < 10)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sampled"),
           dsum(col("o_totalprice")).as("sum_sampled"))
  }

  private val hashSampleSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_sampled,
       |${DSUM("o_totalprice")} AS sum_sampled
       |FROM orders
       |WHERE ${MD5L("CAST(o_orderkey AS VARCHAR)")} % 100 < 10
       |GROUP BY o_orderpriority""".stripMargin

  /** Scalar-subquery shape: rows above the global average. The scalar side
    * is a one-row aggregate broadcast against the fact scan — Catalyst
    * plans the same thing for an actual scalar subquery; the comparison
    * uses the exact-decimal average so both engines threshold on the
    * identical double.
    */
  def aboveAvg(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val o = table(s, dir, "orders")
    val avgP = o.agg(davg(col("o_totalprice")).as("avg_p"))
    o.join(broadcast(avgP))
      .filter(col("o_totalprice") > col("avg_p"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_above"),
           dsum(col("o_totalprice")).as("sum_above"))
  }

  private val aboveAvgSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_above,
       |${DSUM("o_totalprice")} AS sum_above
       |FROM orders
       |WHERE o_totalprice > (SELECT ${DAVG("o_totalprice")} FROM orders)
       |GROUP BY o_orderpriority""".stripMargin

  /** Wide->long UNPIVOT of the lineitem measure columns, then per-measure
    * aggregates — the melt/normalize shape every metrics pipeline needs.
    */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "lineitem")
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
  }

  private val unpivotMeasuresSql = {
    val arms = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c => s"SELECT l_returnflag, '$c' AS measure, $c AS value FROM lineitem")
      .mkString(" UNION ALL ")
    s"""SELECT l_returnflag, measure, COUNT(*) AS n, ${DSUM("value")} AS sum_value
       |FROM ($arms) GROUP BY l_returnflag, measure""".stripMargin
  }

  /** Distribution window functions (W1 breadth): ntile / percent_rank /
    * cume_dist / first_value / last_value over a unique ordering key, so
    * every rank is deterministic and the rational-valued distributions are
    * bit-identical across engines.
    */
  def windowDist(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
    val wFull = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    table(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 9).as("pct_rank"),
        round(cume_dist().over(w), 9).as("cume"),
        first(col("o_orderkey")).over(w).as("first_key"),
        last(col("o_orderkey")).over(wFull).as("last_key"))
      .filter(col("o_orderkey") % 199 === 0)
  }

  private val windowDistSql =
    """SELECT * FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(ntile(4) OVER w AS INT) AS quartile,
      |    round(percent_rank() OVER w, 9) AS pct_rank,
      |    round(cume_dist() OVER w, 9) AS cume,
      |    first_value(o_orderkey) OVER w AS first_key,
      |    last_value(o_orderkey) OVER
      |      (PARTITION BY o_orderpriority ORDER BY o_orderkey
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey))
      |WHERE o_orderkey % 199 = 0""".stripMargin

  /** Stratified quota sampling: exactly k docs per language, chosen by a
    * deterministic hash order — the "balanced subset" primitive for eval
    * sets and per-class caps. Windowed rank over (hash, id) gives every
    * engine, run, and cluster size the same k rows per stratum; a
    * rand()-based sample can guarantee neither the quota nor the rows.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5Long(col("doc_id").cast("string")), col("doc_id"))
    table(s, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
           sum(col("doc_id")).as("id_checksum"),
           sum(col("n_chars")).cast("long").as("sampled_chars"))
  }

  private val stratifiedSampleSql =
    s"""SELECT lang, COUNT(*) AS n_sampled,
       |CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       |CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
       |FROM (
       |  SELECT lang, doc_id, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY ${MD5L("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= 20
       |GROUP BY lang""".stripMargin

  /** Fuzzy entity matching with blocking: distinct part names, blocked on
    * (noun, adjective initial), pairwise Levenshtein within each block —
    * the entity-resolution shape where the blocking key bounds candidate
    * pairs (sum of per-block squares), never all-pairs.
    */
  def fuzzyBlocked(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val names = table(s, dir, "part").select(col("p_name")).distinct()
      .withColumn("noun", element_at(split(col("p_name"), " "), 2))
      .withColumn("blk", col("noun"))
    val a = names.select(col("blk"), col("noun"), col("p_name").as("na"))
    val b = names.select(col("blk"), col("p_name").as("nb"))
    a.join(b, "blk")
      .filter(col("na") < col("nb"))
      .withColumn("dist", levenshtein(col("na"), col("nb")))
      .filter(col("dist") <= 4)
      .groupBy(col("noun"))
      .agg(count(lit(1)).as("n_close_pairs"),
           min(col("dist")).as("min_dist"),
           min(concat(col("na"), lit("|"), col("nb"))).as("first_pair"))
  }

  private val fuzzyBlockedSql =
    """SELECT noun, COUNT(*) AS n_close_pairs,
      |CAST(MIN(dist) AS INT) AS min_dist,
      |MIN(na || '|' || nb) AS first_pair
      |FROM (
      |  SELECT a.noun, a.na, b.nb, levenshtein(a.na, b.nb) AS dist
      |  FROM (SELECT DISTINCT p_name AS na,
      |          string_split(p_name, ' ')[2] AS noun
      |        FROM part) a
      |  JOIN (SELECT DISTINCT p_name AS nb,
      |          string_split(p_name, ' ')[2] AS noun
      |        FROM part) b
      |  ON a.noun = b.noun AND a.na < b.nb)
      |WHERE dist <= 4
      |GROUP BY noun""".stripMargin

  /** Bit/bool aggregate breadth (A5): bit_and/or/xor and bool_and/or over
    * integral event keys — exact integer results in both engines.
    */
  def bitAggs(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           expr("bit_and(user_id)").as("b_and"),
           expr("bit_or(user_id)").as("b_or"),
           expr("bit_xor(user_id)").as("b_xor"),
           expr("bool_and(user_id % 2 = 0)").as("all_even"),
           expr("bool_or(user_id > 990)").as("any_high"))
  }

  private val bitAggsSql =
    """SELECT event_type, COUNT(*) AS n,
      |bit_and(user_id) AS b_and, bit_or(user_id) AS b_or, bit_xor(user_id) AS b_xor,
      |bool_and(user_id % 2 = 0) AS all_even, bool_or(user_id > 990) AS any_high
      |FROM events GROUP BY event_type""".stripMargin

  /** KMV (k-minimum-values) distinct-count sketch as a typed Aggregator
    * (X3, the "novel sketch" surface): keep the k smallest distinct
    * 60-bit hashes per group; estimate distinct = (k-1) * 2^60 / kthMin.
    * Unlike HLL, the sketch state is a deterministic function of the
    * input SET, so merge order cannot change the result and the DuckDB
    * oracle reproduces the estimate EXACTLY — an approximate algorithm
    * with a bit-exact cross-engine check.
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val kmv = udaf(graft.functions.KmvSketch, org.apache.spark.sql.Encoders.scalaLong)
    table(s, dir, "orders")
      .withColumn("h", md5Long(col("o_custkey").cast("string")))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(col("o_custkey")).as("n_exact"),
           kmv(col("h")).as("kmv_estimate"))
  }

  private val kmvDistinctSql =
    """SELECT g AS o_orderpriority, ANY_VALUE(n_rows) AS n_rows,
      |ANY_VALUE(n_exact) AS n_exact,
      |CASE WHEN ANY_VALUE(cnt) < 64 THEN CAST(ANY_VALUE(cnt) AS DOUBLE)
      |     ELSE (63 * pow(2.0, 60)) / CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
      |END AS kmv_estimate
      |FROM (
      |  SELECT d.g, d.h,
      |         ROW_NUMBER() OVER (PARTITION BY d.g ORDER BY d.h) AS rn,
      |         COUNT(*) OVER (PARTITION BY d.g) AS cnt,
      |         t.n_rows, t.n_exact
      |  FROM (SELECT DISTINCT o_orderpriority AS g,
      |          (('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT) AS h
      |        FROM orders) d
      |  JOIN (SELECT o_orderpriority AS g, COUNT(*) AS n_rows,
      |          CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
      |        FROM orders GROUP BY o_orderpriority) t
      |  ON t.g = d.g)
      |GROUP BY g""".stripMargin

  /** Percent-of-total (ratio_to_report): each order's share of its
    * priority group's revenue. The window total goes through the exact
    * DECIMAL accumulator — a plain double window SUM is order-dependent
    * and would drift under shuffle re-plans; the decimal sum is the same
    * value on any partitioning, so the shares are bit-stable.
    */
  def ratioToReport(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderpriority"))
    table(s, dir, "orders")
      .withColumn("grp_total",
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .over(w).cast("double"))
      .withColumn("share", round(col("o_totalprice") / col("grp_total"), 12))
      .filter(col("o_orderkey") % 199 === 0)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("grp_total"), col("share"))
  }

  private val ratioToReportSql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, grp_total,
      |round(o_totalprice / grp_total, 12) AS share
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER
      |      (PARTITION BY o_orderpriority) AS DOUBLE) AS grp_total
      |  FROM orders)
      |WHERE o_orderkey % 199 = 0""".stripMargin

  /** Cross-engine table checksum — the migration-validation primitive: an
    * order-independent fingerprint of the portable row hash over a
    * canonical row rendering, per table. The fingerprint is the SUM of the
    * 60-bit row hashes reduced mod 2^60 (exact decimal/hugeint
    * accumulation, so it is order- and partitioning-independent), which is
    * multiset-sensitive: a row duplicated and another dropped shifts the
    * sum, where a bit_xor fingerprint cancels any row occurring an even
    * number of times ({A,A,B,B} xor-collides with {C,C,B,B}). bit_xor is
    * kept as a second, independent signal. Doubles are rendered through
    * DECIMAL(18,2) so both engines print identical bytes.
    */
  private[graft] def tableSig(df: DataFrame, name: String, keyExpr: String): DataFrame =
    df.withColumn("h", md5Long(expr(keyExpr)))
      .agg(count(lit(1)).as("n_rows"),
           expr("bit_xor(h)").as("xor_sig"),
           // exact DECIMAL(38,0) accumulation (n_rows * 2^60 stays far below
           // 10^38 at any realistic scale), then mod 2^60 back to BIGINT
           expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 1152921504606846976 AS BIGINT)")
             .as("checksum"))
      .select(lit(name).as("tbl"), col("n_rows"), col("xor_sig"), col("checksum"))

  def tableChecksum(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    def sig(name: String, keyExpr: String): DataFrame =
      tableSig(table(s, dir, name), name, keyExpr)
    sig("orders",
        "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), CAST(o_orderdate AS DATE))")
      .unionByName(sig("customer",
        "concat_ws('|', c_custkey, c_name, c_mktsegment, " +
          "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS STRING))"))
      .unionByName(sig("part",
        "concat_ws('|', p_partkey, p_name, p_brand, " +
          "CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS STRING))"))
  }

  private val tableChecksumSql = {
    def sig(name: String, keyExpr: String) =
      s"""SELECT '$name' AS tbl, COUNT(*) AS n_rows,
         |bit_xor(${MD5L(keyExpr)}) AS xor_sig,
         |CAST(SUM(CAST(${MD5L(keyExpr)} AS HUGEINT)) % 1152921504606846976 AS BIGINT) AS checksum
         |FROM $name""".stripMargin
    Seq(
      sig("orders",
        "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), CAST(o_orderdate AS DATE))"),
      sig("customer",
        "concat_ws('|', c_custkey, c_name, c_mktsegment, " +
          "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR))"),
      sig("part",
        "concat_ws('|', p_partkey, p_name, p_brand, " +
          "CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR))")
    ).mkString(" UNION ALL ")
  }

  /** Equi-width histogram binning (the profile/summarize primitive):
    * bucket = min(floor(price / 50k), 11), pure integer bucketing computed
    * identically by any engine — a single partial+final aggregate, no
    * sort, no window; the 100 TB shape for "what does this column look
    * like" (contrast q29's exact sort-based percentiles).
    */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "orders")
      .select(col("o_totalprice"),
        least(floor(col("o_totalprice") / 50000).cast("long"), lit(11L)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
           dsum(col("o_totalprice")).as("sum_v"),
           min(col("o_totalprice")).as("min_v"),
           max(col("o_totalprice")).as("max_v"))
  }

  private val histogramSql =
    s"""SELECT CAST(least(floor(o_totalprice / 50000), 11) AS BIGINT) AS bucket,
       |COUNT(*) AS n, ${DSUM("o_totalprice")} AS sum_v,
       |MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
       |FROM orders GROUP BY 1""".stripMargin

  /** Data-quality audit: a rule battery evaluated as plain aggregates —
    * referential orphans (anti-join), domain violations, null rates, and
    * key uniqueness — each rule one row with its violation count and the
    * checked population. The "expectations" nightly every lake pipeline
    * runs; every rule is a scan-local aggregate or a single anti-join, so
    * the audit costs one pass per fact table at any scale.
    */
  def dqAudit(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val li = table(s, dir, "lineitem")
    val o = table(s, dir, "orders")
    val orphans = li.join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("fk_lineitem_orders").as("rule"), col("n_violations"))
      .crossJoin(li.agg(count(lit(1)).as("n_checked")))
    val qty = li.agg(
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("n_violations"),
        count(lit(1)).as("n_checked"))
      .select(lit("quantity_positive").as("rule"), col("n_violations"), col("n_checked"))
    val disc = li.agg(
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)).as("n_violations"),
        count(lit(1)).as("n_checked"))
      .select(lit("discount_in_unit_range").as("rule"), col("n_violations"), col("n_checked"))
    val nulls = o.agg(
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("n_violations"),
        count(lit(1)).as("n_checked"))
      .select(lit("orderdate_not_null").as("rule"), col("n_violations"), col("n_checked"))
    val dupes = o.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"),
        count(lit(1)).as("n_checked"))
      .select(lit("orderkey_unique").as("rule"), col("n_violations"), col("n_checked"))
    orphans.unionByName(qty).unionByName(disc).unionByName(nulls).unionByName(dupes)
      .withColumn("passed", col("n_violations") === 0)
  }

  private val dqAuditSql =
    """SELECT 'fk_lineitem_orders' AS rule,
      |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
      |  (SELECT COUNT(*) FROM lineitem) AS n_checked
      |UNION ALL
      |SELECT 'quantity_positive',
      |  CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
      |FROM lineitem
      |UNION ALL
      |SELECT 'discount_in_unit_range',
      |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
      |FROM lineitem
      |UNION ALL
      |SELECT 'orderdate_not_null',
      |  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(*)
      |FROM orders
      |UNION ALL
      |SELECT 'orderkey_unique',
      |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT), COUNT(*)
      |FROM orders""".stripMargin

  private val dqAuditSqlFinal =
    s"""SELECT rule, n_violations, n_checked, n_violations = 0 AS passed
       |FROM ($dqAuditSql)""".stripMargin

  /** The trade graph substrate shared by q187 (PageRank) and q189
    * (TrustRank): the loop-invariant (src, dst, deg) frame plus the degree
    * frame, built once per (session, dir). Checkpoints are LAZY: the
    * caller's first action materializes edges+deg inside one job and
    * edgeDeg rides the first iteration's job — plan truncation without
    * paying three eager materialization jobs up front.
    */
  private[graft] def tradeGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (edgeDeg, deg, _) =
      graft.SessionCache.cachedValue[(DataFrame, DataFrame, DataFrame)](
        s, s"ana:tradegraph:$dir")({
      val o = table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = table(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("cnode"),
          (col("l_suppkey") * 2 + 1).cast("long").as("snode"))
        .distinct()
      val edges = pairs.select(col("cnode").as("src"), col("snode").as("dst"))
        .unionAll(pairs.select(col("snode").as("src"), col("cnode").as("dst")))
        .localCheckpoint(false)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).localCheckpoint(false)
      // the (src, dst, deg) frame is loop-invariant — attach deg ONCE so
      // each iteration is a single join + groupBy, not a re-join of
      // edges ⋈ deg
      val edgeDeg = edges.join(deg, Seq("src")).localCheckpoint(false)
      // edges rides in the cached tuple solely so eviction can unpersist
      // its checkpoint blocks too — edgeDeg's plan reads them
      (edgeDeg, deg, edges)
    })({ case (a, b, e) => a.unpersist(); b.unpersist(); e.unpersist(); () })
    (edgeDeg, deg)
  }

  /** The integer power iteration over a prepared (src, dst, deg) frame —
    * shared by the fixture query and [[pageRankOn]] (the arbitrary-graph
    * entry the differential property test drives). */
  private def prIterate(edgeDeg: DataFrame, deg: DataFrame, n: Long,
                        iters: Int): DataFrame = {
    val base = 150000000000000L / n // (1-d) * 10^15 / N, exact integer div
    var ranks = deg.select(col("src").as("node"), lit(1000000000000000L / n).as("r"))
    for (_ <- 1 to iters) {
      ranks = edgeDeg.join(ranks, col("node") === col("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("csum"))
        .select(col("dst").as("node"),
          (lit(base) + expr("(85 * csum) div 100")).as("r"))
    }
    ranks
  }

  /** PageRank over an ARBITRARY (src, dst) edge frame — the public core
    * the fixture query specializes. Multi-edges contribute per occurrence;
    * nodes with no out-edge receive rank but contribute none (their mass
    * decays — the caller decides whether to bidirect edges, as q187 does,
    * to avoid dangling). Semantics note: the rank frame is rebuilt from
    * groupBy(dst) each iteration, so a node with out-edges but NO in-edges
    * drops out after iteration 1 and loses its teleport base from then on
    * (standard PageRank teleports to every node). On a bidirected graph
    * (q187's contract) the two semantics coincide; callers feeding
    * one-directional graphs must bidirect first if they want the
    * textbook distribution. The result is eagerly checkpointed so the
    * two loop-invariant frames can be unpersisted before returning —
    * property tests call this 25+ times per run. */
  private[graft] def pageRankOn(edges: DataFrame, iters: Int = 3): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val edgeDeg = edges.join(deg, Seq("src")).localCheckpoint(false)
    val out = prIterate(edgeDeg, deg, deg.count(), iters).localCheckpoint(true)
    deg.unpersist(); edgeDeg.unpersist()
    out
  }

  /** The full post-iteration rank frame (node, r) — q187's substrate,
    * exposed for the mass-conservation property test. */
  private[graft] def pageRankRanks(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (edgeDeg, deg) = tradeGraph(s, dir)
    // metadata-scale count: one job, a long to the driver
    prIterate(edgeDeg, deg, deg.count(), iters = 3)
  }

  /** q187: PageRank over the customer↔supplier trade graph — the
    * link-authority scoring a curation pipeline uses to weight sources
    * (domain-rank quality priors; the original motivation for the
    * algorithm, Page et al. 1999). Graph construction and iteration are
    * both engine-native:
    *  - nodes: customers (2k) and suppliers (2k+1) in one id space;
    *    edges: DISTINCT trade pairs from orders ⨝ lineitem, materialized
    *    in BOTH directions so every node has outdegree ≥ 1 — no dangling
    *    mass to redistribute, and the per-iteration groupBy(dst) covers
    *    the whole node set.
    *  - 3 power iterations, damping 0.85, entirely in 64-bit INTEGER
    *    femto-units (rank mass 10^15): contribution = r div deg,
    *    update = (0.15·10^15 div N) + (85·Σcontrib) div 100. Truncating
    *    integer division is identical in Spark (`div`) and DuckDB (`//`)
    *    for the non-negative values here, so ranks are bit-identical
    *    cross-engine — no float summation-order hazard at any
    *    parallelism (the q121 integer-micro-unit lesson applied to an
    *    iterative algorithm).
    *  - per iteration: ONE shuffle (groupBy dst) plus the rank-frame
    *    join; edges and degrees are computed once and localCheckpointed
    *    (the iterative-loop contract — cache alone nests the analyzed
    *    plan). At 100 TB edges would be bucketed by src so the
    *    rank-join co-locates; the iteration count, not data volume,
    *    bounds plan depth.
    * Output: top-20 nodes by rank (ties broken by node id), rank in
    * femtos — discrete, so the compare is exact.
    */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    val top = pageRankRanks(s, dir).orderBy(col("r").desc, col("node")).limit(20)
    // rn assigned over exactly 20 rows (post-limit, the q167 pattern)
    top.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("r").desc, col("node"))))
      .select(col("node"), col("r").as("rank_femto"), col("rn"))
  }

  /** q189: TrustRank (Gyöngyi et al. 2004) over the same trade graph —
    * trust seeded on a vetted set and propagated with decay, the
    * seed-domain quality-prior technique a corpus pipeline uses to
    * downweight spam sources that mere in-degree (PageRank) rewards.
    * Differences from q187, all load-bearing:
    *  - teleport mass goes ONLY to seeds (every tenth supplier that
    *    actually trades), so unreachable spam farms get exactly zero;
    *  - the rank frame stays SPARSE — it holds only nodes trust has
    *    reached, growing frontier-by-frontier from the seeds, which at
    *    100 TB is the difference between O(reached) and O(all nodes)
    *    state per iteration;
    *  - each iteration is the shared edgeDeg join + groupBy(dst), then a
    *    full-outer join with the (tiny, broadcastable) seed-base frame so
    *    seeds keep their teleport mass even before trust cycles back.
    * Same integer femto-unit arithmetic as q187: bit-identical
    * cross-engine, no float order sensitivity. Graph substrate is
    * session-cached and shared with q187 — building it twice would be
    * the real per-query cost at fixture scale.
    */
  def trustRank(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (edgeDeg, deg) = tradeGraph(s, dir)
    val seeds = table(s, dir, "supplier")
      .filter(col("s_suppkey") % 10 === 0)
      .select((col("s_suppkey") * 2 + 1).cast("long").as("node"))
      .join(deg.select(col("src").as("node")), Seq("node"), "semi")
      .localCheckpoint(false)
    val ns = seeds.count()
    val base = seeds.withColumn("b", lit(150000000000000L / ns))
    var ranks = seeds.select(col("node"), lit(1000000000000000L / ns).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edgeDeg.join(ranks, col("node") === col("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("csum"))
        .select(col("dst").as("node"), expr("(85 * csum) div 100").as("dr"))
      ranks = contrib.join(base, Seq("node"), "outer")
        .select(col("node"),
          (coalesce(col("b"), lit(0L)) + coalesce(col("dr"), lit(0L))).as("r"))
    }
    val top = ranks.orderBy(col("r").desc, col("node")).limit(20)
    top.join(base.select(col("node"), lit(true).as("is_seed")), Seq("node"), "left")
      .withColumn("is_seed", coalesce(col("is_seed"), lit(false)))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("r").desc, col("node"))))
      .select(col("node"), col("r").as("trust_femto"), col("is_seed"), col("rn"))
  }

  private def trIterSql(prev: String, t: String, cur: String): String =
    s"""$t AS (
       |  SELECT e.dst AS node, (85 * CAST(SUM(r.r // d.deg) AS BIGINT)) // 100 AS dr
       |  FROM edges e JOIN $prev r ON r.node = e.src JOIN deg d ON d.src = e.src
       |  GROUP BY e.dst),
       |$cur AS (
       |  SELECT COALESCE(t.node, b.node) AS node,
       |         COALESCE(b.b, 0) + COALESCE(t.dr, 0) AS r
       |  FROM $t t FULL JOIN base b ON b.node = t.node)""".stripMargin

  private val trustRankSql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey*2 AS cnode, l_suppkey*2+1 AS snode
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL
       |  SELECT snode AS src, cnode AS dst FROM pairs),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |seeds AS (
       |  SELECT d.src AS node FROM deg d
       |  JOIN (SELECT s_suppkey*2+1 AS node FROM supplier WHERE s_suppkey % 10 = 0) s
       |    ON s.node = d.src),
       |ns AS (SELECT COUNT(*) AS c FROM seeds),
       |base AS (SELECT node, 150000000000000 // (SELECT c FROM ns) AS b FROM seeds),
       |r0 AS (SELECT node, 1000000000000000 // (SELECT c FROM ns) AS r FROM seeds),
       |${trIterSql("r0", "t1", "r1")},
       |${trIterSql("r1", "t2", "r2")},
       |${trIterSql("r2", "t3", "r3")}
       |SELECT node, r AS trust_femto, is_seed, rn FROM (
       |  SELECT r3.node, r3.r,
       |         b.node IS NOT NULL AS is_seed,
       |         CAST(ROW_NUMBER() OVER (ORDER BY r3.r DESC, r3.node) AS INT) AS rn
       |  FROM r3 LEFT JOIN base b ON b.node = r3.node)
       |WHERE rn <= 20""".stripMargin

  private def prIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT e.dst AS node,
       |         150000000000000 // (SELECT n FROM nn)
       |           + (85 * CAST(SUM(r.r // d.deg) AS BIGINT)) // 100 AS r
       |  FROM edges e JOIN $prev r ON r.node = e.src JOIN deg d ON d.src = e.src
       |  GROUP BY e.dst)""".stripMargin

  private val pageRankSql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey*2 AS cnode, l_suppkey*2+1 AS snode
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL
       |  SELECT snode AS src, cnode AS dst FROM pairs),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (SELECT src AS node, 1000000000000000 // (SELECT n FROM nn) AS r FROM deg),
       |${prIterSql("r0", "r1")},
       |${prIterSql("r1", "r2")},
       |${prIterSql("r2", "r3")}
       |SELECT node, r AS rank_femto, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS INT) AS rn
       |  FROM r3)
       |WHERE rn <= 20""".stripMargin

  override val queries: Seq[GQuery] = Seq(
    GQuery("q187_pagerank",
      "PageRank link-authority over the trade graph: 3 integer-femto power iterations, one shuffle each",
      pageRank, Some(pageRankSql)),
    GQuery("q189_trustrank",
      "TrustRank seed-trust propagation: teleport only to vetted seeds, sparse frontier ranks, shared graph substrate",
      trustRank, Some(trustRankSql)),
    GQuery("q117_histogram", "equi-width histogram binning: integer buckets, one partial+final agg",
      histogram, Some(histogramSql)),
    GQuery("q119_dq_audit", "data-quality rule battery: FK orphans, domains, nulls, key uniqueness",
      dqAudit, Some(dqAuditSqlFinal)),
    GQuery("q29_percentiles", "exact interpolated percentiles per group (A5)",
      percentiles, Some(percentilesSql)),
    GQuery("q100_approx_quantiles", "GK-sketch approx_percentile with machine-checked rank-error contract (no sort)",
      approxQuantiles, Some(approxQuantilesSql)),
    GQuery("q33_corr", "Pearson correlation via exact decimal moment identity (A5)",
      corrAgg, Some(corrAggSql)),
    GQuery("q34_above_avg", "scalar-subquery threshold: rows above global exact average",
      aboveAvg, Some(aboveAvgSql)),
    GQuery("q35_unpivot", "UNPIVOT wide measures to long + per-measure aggregates",
      unpivotMeasures, Some(unpivotMeasuresSql)),
    GQuery("q36_window_dist", "ntile/percent_rank/cume_dist/first/last window breadth (W1)",
      windowDist, Some(windowDistSql)),
    GQuery("q19_ratio_to_report", "percent-of-total via decimal-exact window sum (W1)",
      ratioToReport, Some(ratioToReportSql)),
    GQuery("q38_lateral_topk", "correlated LATERAL subquery: per-group top-2 (SQL surface)",
      lateralTopK, Some(lateralTopKSql)),
    GQuery("q39_exists_subquery", "correlated EXISTS / NOT EXISTS rewritten to semi/anti joins",
      existsSubquery, Some(existsSubquerySql)),
    GQuery("q44_hash_sample", "deterministic md5-bucket sampling (reproducible debug sample)",
      hashSample, Some(hashSampleSql)),
    GQuery("q49_stratified_sample", "stratified quota sample: exactly k per class by hash order",
      stratifiedSample, Some(stratifiedSampleSql)),
    GQuery("q95_fuzzy_blocked", "blocked Levenshtein entity matching (no all-pairs)",
      fuzzyBlocked, Some(fuzzyBlockedSql)),
    GQuery("q96_bit_aggs", "bit_and/or/xor + bool_and/or aggregate breadth (A5)",
      bitAggs, Some(bitAggsSql)),
    GQuery("q97_kmv_sketch", "KMV distinct sketch (typed Aggregator) with bit-exact oracle",
      kmvDistinct, Some(kmvDistinctSql)),
    GQuery("q98_table_checksum", "order-independent cross-engine table fingerprint (migration validation)",
      tableChecksum, Some(tableChecksumSql)),
  )
}
