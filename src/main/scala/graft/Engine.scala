package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType, TimestampType}

/** Session tuning, fixture table loading, and engine-parity column helpers.
  *
  * Design notes (100 TB posture):
  *  - Everything is a lazy `DataFrame -> DataFrame` transform — Spark (Catalyst
  *    + Tungsten) IS the engine; there is no custom IR. Filters/projections
  *    stay declarative so predicate pushdown + column pruning reach the
  *    parquet scans.
  *  - Double aggregation across rows is order-dependent (shuffles reorder
  *    partial aggregation at scale). Every cross-row SUM/AVG of doubles goes
  *    through an exact DECIMAL accumulator ([[dsum]]/[[davg]]) so results are
  *    bit-identical regardless of partitioning/parallelism — and identical to
  *    the DuckDB oracle.
  *  - [[md5Long]] is a portable 60-bit hash (md5 prefix) computable by any
  *    engine; used by MinHash/SimHash/fingerprint operators so their results
  *    are verifiable cross-engine (Spark's murmur3 `hash()` is not).
  */
object Engine {

  /** Per-query session tuning. Called at the top of every registered query so
    * correctness does not depend on who built the SparkSession.
    *  - ANSI off: the reference's semantics are "parse failure -> null"
    *    (`/root/reference/data_pipeline.py:663` coerces bad dates to NaT);
    *    Spark 4 defaults to ANSI which would throw instead.
    *  - nanosAsLong: kept for backward compatibility with fixtures that
    *    store `events.ts` as TIMESTAMP(NANOS) — the vectorized parquet
    *    reader rejects nanos, so they surface as epoch-nano longs. Current
    *    fixtures store TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ);
    *    [[tsMicros]] dispatches on whichever encoding arrives.
    */
  def tune(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // RocksDB state store engine-wide: merging-session / dedup / watermark
    // state must spill to disk at scale, not live in the HDFS-backed
    // in-memory map (the default provider keeps N versions of every store
    // on-heap — the wrong posture for 100x session state). Queries that
    // REQUIRE RocksDB (transformWithState) keep their explicit set as a
    // belt-and-suspenders guard. `spark.graft.stateStore.provider=memory`
    // opts a session back into the on-heap provider — the ScaleRung's
    // crossover experiment measures exactly this trade; it is a
    // measurement knob, not a production setting.
    val providerClass =
      if (spark.conf.getOption("spark.graft.stateStore.provider").contains("memory"))
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      else
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", providerClass)
    // RocksDB changelog checkpointing: commit uploads the per-batch
    // CHANGELOG instead of a full SST snapshot (snapshots move to the
    // background maintenance thread). At scale this turns the per-commit
    // checkpoint cost from O(state) into O(delta) — the documented
    // production posture for large RocksDB state — and on the bench rigs
    // it removes the snapshot file churn each micro-batch paid per state
    // partition. Purely a persistence-path knob: results are unaffected.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // FileOutputCommitter algorithm v2: task commit merges output into the
    // destination directly, so job commit is O(1) instead of a driver-side
    // serial rename of every task/partition directory (q141's 256-dir
    // layout paid ~0.4 s of that per write; every lake/snapshot rig pays
    // it proportionally). Correct for this engine's writers: all output
    // dirs are either swap-published (Lake/IndexStore), manifest-gated
    // (Snapshots — readers see only files its manifest names), or
    // _SUCCESS-gated rebuilds, so v2's weaker job-abort cleanup can never
    // surface a partial write to a reader.
    spark.sparkContext.hadoopConfiguration
      .setInt("mapreduce.fileoutputcommitter.algorithm.version", 2)
    // Local `file:` scheme without shell forks or CRC sidecars — see
    // [[graft.sources.NioLocalFileSystem]]. Set here for library users;
    // NOTE Hadoop's FileSystem cache keys by (scheme, ugi) only, so a
    // `file:` instance created BEFORE this conf landed stays the default
    // LocalFileSystem — the session builders (Bench/Verify/build.sbt
    // javaOptions) therefore also set it at context creation.
    if (sys.env.getOrElse("SPARK_GRAFT_NIO_LOCALFS", "1") != "0")
      spark.sparkContext.hadoopConfiguration
        .set("fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
    // Checkpoint-file checksum sidecars (new in Spark 4.x, default on):
    // guide-§7.3 stack sampling over the streaming block showed ~2/3 of
    // driver-side busy samples in ChecksumCheckpointFileManager →
    // Hadoop Shell.runCommand — every offset/commit/state-changelog file
    // each micro-batch writes gains a checksum sidecar, and on a
    // local/HDFS fs each extra file creation forks a chmod shell. The
    // checksums only DETECT checkpoint file corruption (results and
    // crash-recovery semantics are unchanged without them); transports
    // and HDFS already checksum data, so the sidecars are a second,
    // redundant integrity layer bought at per-micro-batch file churn.
    // Env-overridable for re-measurement.
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      sys.env.getOrElse("SPARK_GRAFT_CKPT_CHECKSUM", "false"))
    // AQE coalescing's minimum merged-partition size, 1 MB by default in
    // Spark. The floor is a BYTES heuristic ("don't schedule tiny tasks"),
    // but the probe/screen stages of this workload are CPU-dense and
    // byte-light — candidate pairs of float vectors cost ~1 s of dot
    // products per 0.3 MB — so the 1 MB floor coalesces exactly the
    // stages that most need parallelism down to ONE task (measured on
    // q149/q145/q204/q140/q167/q24: 3-29% whole-query wins at 64 KB, flat
    // controls). Not a local[32] tune: with parallelismFirst (the Spark
    // default posture) the target is max(bytes/parallelism, this floor),
    // and at any production scale bytes/parallelism is far above 1 MB, so
    // the floor is inert there — it binds ONLY on byte-light stages,
    // where binding is the bug. 64 KB measured better than both 1 MB and
    // 16 KB (task-launch overhead wins below ~64 KB). Env override for
    // re-measurement.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_MIN_PART", "64k"))
    // native vector functions usable from SQL in any session (see also
    // graft.functions.GraftExtensions for the spark.sql.extensions path)
    graft.functions.VectorFunctions.register(spark)
    // optimizer rule: HOF zip_with/aggregate dot products -> native kernel
    if (!spark.experimental.extraOptimizations.contains(graft.functions.DotProductRewrite))
      spark.experimental.extraOptimizations ++= Seq(graft.functions.DotProductRewrite)
  }

  /** Output-affecting deployment knobs. Registered queries' DuckDB
    * oracles hardcode the defaults, so a knob left set on a shared
    * session (e.g. a spec failing before its finally-unset) would make
    * the oracle harness report false mismatches far from the cause
    * (ADVICE r11). The oracle/bench harness asserts these are unset
    * before running registered queries; specs that exercise a knob do
    * so through try/finally-unset blocks or the dedicated
    * non-registered entry points (kmeansFixedK, semDedupCapped).
    */
  private val OutputKnobs = Seq(
    "spark.graft.kmeans.k",
    "spark.graft.semdedup.clusterCap",
    "spark.graft.ivfpq.nprobe",
    "spark.graft.hybrid.probes",
    "spark.graft.stateStore.provider")

  /** The one local session builder — every main and the test suites run
    * on it: `local[cpus]` with `cpus` shuffle partitions, the static conf
    * that only lands at context creation, then [[tune]]. Static conf:
    *  - a 10000-entry whole-stage-codegen cache: the 100-entry default
    *    thrashes under the 268-query registry (see OPTIMIZATION_r20.md);
    *  - the sort shuffle writer at any reducer count
    *    (`bypassMergeThreshold` 1): below the 200-partition bypass
    *    threshold the bypass-merge writer creates R files per map task;
    *    the sort writer (1 file + index per map task) is both faster here
    *    and the only code path production reducer counts (>200) ever run;
    *  - `file:` bound to the fork-free local fs BEFORE any FileSystem.get
    *    caches the default (the cache keys by scheme+ugi, not conf) — see
    *    [[graft.sources.NioLocalFileSystem]];
    *  - UTC session time zone, no UI.
    * build.sbt's javaOptions carry the same static conf for forked JVMs.
    * A session whose tuning throws is stopped before the error leaves. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.hadoop.fs.file.impl",
        if (sys.env.getOrElse("SPARK_GRAFT_NIO_LOCALFS", "1") != "0")
          classOf[graft.sources.NioLocalFileSystem].getName
        else "org.apache.hadoop.fs.LocalFileSystem")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try tune(spark) catch { case e: Throwable => spark.stop(); throw e }
    spark
  }

  /** Fails fast if any output-affecting knob is set on this session —
    * called by Verify/Bench before the registered-query loop.
    */
  def assertOracleKnobsUnset(spark: SparkSession): Unit = {
    val set = OutputKnobs.filter(k => spark.conf.getOption(k).isDefined)
    require(set.isEmpty,
      s"oracle-pinned run with deployment knobs set: ${set.mkString(", ")} — " +
        "unset them; registered oracles hardcode the defaults")
  }

  /** A fixture table, `<sfDir>/<name>.parquet`, read through [[parquet]]:
    * the first read in a session infers its schema (one Spark job), and a
    * repeat read of the same files — same paths, lengths and modification
    * times — reuses that schema and starts no job. `events.ts` arrives as
    * either LongType epoch-nanos (legacy TIMESTAMP(NANOS) fixtures under
    * nanosAsLong) or TIMESTAMP_NTZ (TIMESTAMP(MICROS) fixtures) — derive
    * micros with [[tsMicros]], never with hardcoded arithmetic.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, Seq(s"$sfDir/$name.parquet"))

  /** The SQL confs parquet schema inference reads (footer type mapping,
    * merge, corrupt-file skipping, partition-value typing): part of every
    * [[parquet]] key, so a session that maps types differently never sees
    * another's schema. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone")

  /** A schema as inferred from the file listing `stamp`. */
  private final case class KnownSchema(schema: StructType, stamp: Seq[(String, Long, Long)])

  private def readKey(s: SparkSession, paths: Seq[String],
                      options: Map[String, String]): String =
    (Seq("parquet") ++ paths ++ options.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++
      inferenceConfs.map(k => s"$k=${s.conf.getOption(k).getOrElse("")}")).mkString("\u0000")

  /** `(path, length, mtime)` of every data file the frame's relation
    * lists — the listing its scan will read, hidden `_`/`.` files
    * excluded by Spark itself. */
  private def listing(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(HadoopFsRelation(ix: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        ix.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted.toSeq
    }

  private def remember(s: SparkSession, key: String, df: DataFrame): Unit =
    listing(df).foreach(st => SessionCache.replace(s, key, KnownSchema(df.schema, st)))

  /** The engine's one batch parquet read. A plain `read.parquet` runs a
    * schema-inference job before the query starts; this keeps each
    * inferred schema per (session, ordered paths, `options`, inference
    * confs) together with the file listing it was inferred from. A repeat
    * read passes the kept schema to the reader, which still lists the
    * files but runs no job, and the frame is used only if its own listing
    * equals the kept one: an appended, removed or rewritten file (a
    * rename-swapped table included) changes the listing, and the read
    * falls back to the plain, inferring read, whose schema and listing
    * replace the entry. Only the schema is kept — never files or a frame —
    * so every read lists afresh and builds a fresh relation (fresh
    * exprIds: two reads of one table self-join as two plain reads do). A
    * missing path, an empty directory or any other failure of the
    * schema-hinted read also goes through the plain read, so it raises
    * exactly the error a plain read raises. */
  def parquet(s: SparkSession, paths: Seq[String],
              options: Map[String, String] = Map.empty): DataFrame = {
    val key = readKey(s, paths, options)
    val hinted = SessionCache.lookup[KnownSchema](s, key).flatMap { k =>
      scala.util.Try(s.read.schema(k.schema).options(options).parquet(paths: _*)).toOption
        .filter(df => listing(df).contains(k.stamp))
    }
    hinted.getOrElse {
      val df = s.read.options(options).parquet(paths: _*)
      remember(s, key, df)
      df
    }
  }

  /** Record `schema` as what inference would give for `paths` — for files
    * this session has just written from a frame of that schema — so the
    * next [[parquet]] read of them starts no job. The reader makes the
    * schema nullable, as inference does; the entry is stamped, like any,
    * with the listing a read of `paths` sees now. */
  def seedParquet(s: SparkSession, paths: Seq[String], schema: StructType): Unit =
    remember(s, readKey(s, paths, Map.empty), s.read.schema(schema).parquet(paths: _*))

  /** The schema [[parquet]] holds for this read, if any (test hook). */
  private[graft] def knownSchema(s: SparkSession, paths: Seq[String]): Option[StructType] =
    SessionCache.lookup[KnownSchema](s, readKey(s, paths, Map.empty)).map(_.schema)

  /** Epoch-micros from an event-time column, dispatching on the type the
    * parquet reader produced — the engine's ONE place that knows the
    * fixture's physical `ts` encoding:
    *  - LongType: epoch-nano longs (TIMESTAMP(NANOS) under nanosAsLong) —
    *    truncating division to micros.
    *  - TIMESTAMP / TIMESTAMP_NTZ: native micros — `unix_micros` (the NTZ
    *    cast is identity on the epoch value because the session runs UTC).
    * Matches DuckDB's `epoch_us(ts)` for every encoding, so oracle SQL
    * never changes when the driver regenerates fixtures.
    */
  def tsMicros(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case LongType         => expr(s"$c div 1000")
      case TimestampType    => unix_micros(col(c))
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case t => throw new IllegalArgumentException(
        s"event-time column '$c' has unsupported type $t " +
          "(expected LONG epoch-nanos or TIMESTAMP/TIMESTAMP_NTZ)")
    }

  /** [[tsMicros]] as a proper TimestampType column — the form watermarks
    * and window()/session_window() require.
    */
  def tsEventTime(df: DataFrame, c: String = "ts"): Column =
    timestamp_micros(tsMicros(df, c))

  /** Spread a small input across the cluster before a CPU-expansion stage.
    *
    * Scans parallelize by input bytes (file splits / row groups), but stages
    * like shingling or char-n-gram explosion multiply work 50-300x per input
    * byte — a compacted single-row-group file (exactly our fixtures) or a
    * small dimension table would otherwise run the whole expansion in one
    * task. Partition by expected downstream work (rows), not input bytes.
    * The shuffle moves only the tiny input; the expansion itself then runs
    * at full parallelism. Do NOT use on large fact-table scans — those are
    * already split by the source and a repartition there would be a
    * full-data shuffle for nothing.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Assert that a corpus's ids leave headroom below a synthetic-id
    * offset (ADVICE r19): several fixtures inject documents under
    * `doc_id + 100000/+200000/+500000`-style offsets, and the family's
    * canonical policies (min-doc_id) silently assume the injected range
    * is disjoint from the real one — violable once a corpus outgrows the
    * offset. One max() aggregate; call it from STAMPED or session-cached
    * builders only (zero recurring cost), never from per-probe paths. */
  def assertIdHeadroom(df: DataFrame, idCol: String, offset: Long): Unit = {
    val mx = df.agg(max(col(idCol)).cast("long")).head()
    if (!mx.isNullAt(0))
      require(mx.getLong(0) < offset,
        s"synthetic-id offset +$offset collides with real $idCol range " +
          s"(max ${mx.getLong(0)}): raise the offset or re-derive injected " +
          "ids from max(doc_id)")
  }

  /** The exact form of the same guard, for augmented corpora whose
    * crafted fixtures legitimately carry ids past the offset (the flood
    * specs): the actual hazard is an injected id EQUAL to a real one
    * (min-doc_id canonical policies would then merge two documents), so
    * assert set-disjointness of the injected ids — one limit-1 semi-join,
    * again only from cached/stamped builders. */
  def assertIdsDisjoint(real: DataFrame, injected: DataFrame,
      idCol: String): Unit =
    require(injected.select(col(idCol))
        .join(real.select(col(idCol)), idCol, "left_semi").limit(1).isEmpty,
      s"an injected synthetic $idCol collides with a real one: the " +
        "min-doc_id canonical policy would silently merge two documents; " +
        "re-derive the injected ids from a disjoint range")

  // ---------------------------------------------------------------- parity

  /** Exact, order-independent sum of a double column: accumulate as
    * DECIMAL(38,scale) then present as DOUBLE. Identical in Spark and DuckDB
    * (`CAST(SUM(CAST(x AS DECIMAL(38,s))) AS DOUBLE)`), so safe under any
    * shuffle/AQE re-plan at any scale. Width 38 (DuckDB backs it with a
    * 128-bit hugeint) so values up to ~1e31 at scale 6 cannot overflow-null.
    */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(38, scale))).cast("double")

  /** Exact average built from [[dsum]] / COUNT(col) — counts only non-null
    * inputs, matching SQL AVG and pandas `.mean()` (which skips NaN).
    */
  def davg(c: Column, scale: Int = 6): Column =
    dsum(c, scale) / count(c)

  /** Portable 60-bit hash: first 15 hex chars of md5, as a non-negative long.
    * DuckDB equivalent: `('0x' || substr(md5(x), 1, 15))::BIGINT`.
    *
    * Canonicalization contract: pass STRING columns only. Spark and DuckDB
    * render non-string types to text differently (double formatting,
    * timestamp formats), which would silently break cross-engine hash
    * parity — so callers cast/format explicitly first; integral types cast
    * to their plain decimal digits ("123") identically in both engines.
    *
    * Implemented as the native [[graft.functions.Md5Long60]] expression
    * (registered by [[tune]]): numerically identical to
    * `conv(substring(md5(c),1,15),16,10)` but without materializing the hex
    * string — the digest's top 60 bits are taken directly.
    */
  def md5Long(c: Column): Column =
    call_function("graft_md5_60", c)

  // SQL-side fragments for oracle strings (DuckDB dialect).
  def DSUM(e: String, scale: Int = 6): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(38,$scale))) AS DOUBLE)"
  def DAVG(e: String, scale: Int = 6): String =
    s"(${DSUM(e, scale)} / COUNT($e))"
  def MD5L(e: String): String =
    s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"
}

/** One registered engine query: a Spark implementation plus (when ANSI-SQL
  * expressible) a DuckDB oracle over the same parquet tables. `oracle=None`
  * downgrades the driver check to rows-only (used for approximate/streaming
  * ops whose results SQL cannot reproduce).
  */
final case class GQuery(
    name: String,
    doc: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule { def queries: Seq[GQuery] }
