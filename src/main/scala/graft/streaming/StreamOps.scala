package graft.streaming

import graft.Engine._
import graft.{GQuery, QueryModule}
import graft.sources.IndexStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, Trigger}

/** Structured Streaming (ST1): the reference's system loop — daily cron +
  * date-incremental pull + dedup (SURVEY §2.9) — is exactly a file-source
  * stream with Trigger.AvailableNow and idempotent sinks. This module runs
  * the same tumbling-window aggregation as the batch q71 through a real
  * readStream -> withWatermark -> window -> writeStream pipeline and lets
  * the driver verify it against the SAME DuckDB oracle: streaming/batch
  * equivalence, machine-checked.
  *
  * Reference provenance: cron trigger
  * /root/reference/.github/workflows/data-pipeline.yml:6-7; incremental
  * query + dedup /root/reference/data_pipeline.py:117-142.
  */
object StreamOps extends QueryModule {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Checkpoints for these harness queries are ephemeral by construction
    * (memory sink + AvailableNow), so they live on fast local tmpfs and
    * are removed after the run — the state stores' per-batch delta
    * commits then cost memory writes, not disk fsyncs. Production keeps
    * OFFSET checkpoints on durable storage; state-store working dirs
    * belong on fast local disk there as well. Process-unique base so a
    * rerun can never resume a stale checkpoint (which would silently
    * skip the input as already-processed).
    */
  private val ckBase = s"/dev/shm/graft-ck/${java.util.UUID.randomUUID()}"

  /** Staged-source cache: the multi-batch harnesses slice a fixture into
    * ordered files. The slices are pure functions of the fixture, so
    * [[staged]] stages once per (key, fixture) and reuses across runs —
    * the staging is input setup, not the operator under test. Checkpoints
    * are NOT cached (each run must re-process the batches from scratch).
    */
  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage ordered slices once per `key`, each as a single parquet file
    * `<name>.parquet` with pinned name AND mtime (ascending in slice
    * order) — file-source batch order must be deterministic whichever the
    * source sorts by. */
  private def staged(s: SparkSession, key: String, slices: Seq[(String, DataFrame)]): String =
    stagedDirs.computeIfAbsent(key, { _ =>
      val sd = s"$ckBase/staged_${counter.incrementAndGet()}"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
      slices.zipWithIndex.foreach { case ((name, df), i) =>
        val tmp = s"$sd/.stage_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val parts = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
        require(parts != null && parts.nonEmpty, s"no part file staged for $name")
        val dest = new org.apache.hadoop.fs.Path(s"$sd/$name.parquet")
        fs.rename(parts(0).getPath, dest)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        fs.setTimes(dest, 1000000000000L + i * 600000L, -1)
      }
      sd
    })

  /** The module's one micro-batch harness: stage `slices`
    * ([[staged]]), stream them one file per trigger under AvailableNow,
    * call `each(batch, batchId)` for every micro-batch, require exactly
    * one non-empty micro-batch per slice, and drop the checkpoint.
    * Returns the non-empty batch count. The only `foreachBatch` in
    * src/main (StreamHarnessGuardSpec fails on another). */
  private def microBatches(s: SparkSession, key: String, slices: Seq[(String, DataFrame)])(
      each: (DataFrame, Long) => Unit): Int = {
    val qname = s"graft_stream_${counter.incrementAndGet()}"
    val q = s.readStream
      .schema(slices.head._2.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged(s, key, slices))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => each(batch, batchId) }
      .option("checkpointLocation", s"$ckBase/$qname")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = q.recentProgress.count(_.numInputRows > 0)
    require(n == slices.size,
      s"$key harness needs ${slices.size} non-empty micro-batches, got $n")
    dropCheckpoint(s"$ckBase/$qname")
    n
  }

  /** [[microBatches]] writing each micro-batch's `decide` rows to a
    * batchId-scoped decision log, read back whole. Each batch OVERWRITES
    * `out/batch=<batchId>` (not a blind append): a micro-batch Structured
    * Streaming retries after a sink failure re-runs with the SAME batchId,
    * so the rewrite replaces the partial write instead of duplicating
    * decision rows — the log stays idempotent under replay, like the
    * guarded mergeUpsert sink (q116). */
  private def decisionLog(s: SparkSession, key: String, slices: Seq[(String, DataFrame)])(
      decide: DataFrame => DataFrame): DataFrame = {
    val out = s"$ckBase/log_${counter.incrementAndGet()}"
    microBatches(s, key, slices) { (batch, batchId) =>
      decide(batch).write.mode("overwrite").parquet(s"$out/batch=$batchId")
    }
    parquet(s, Seq(out))
  }

  /** Two slices of `df` by the parity of `c`. */
  private def byParity(df: DataFrame, c: String): Seq[(String, DataFrame)] =
    Seq("b0_even" -> df.filter(col(c) % 2 === 0), "b1_odd" -> df.filter(col(c) % 2 === 1))

  private def dropCheckpoint(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    scala.util.Try(rm(new java.io.File(dir)))
    scala.util.Try(new java.io.File(ckBase).delete()): Unit // parent, once empty
  }

  /** Run a stateful streaming query with state-store parallelism sized to
    * its key volume. Shuffle-partition count is baked into a streaming
    * checkpoint at first start, so it is a first-class sizing decision:
    * every state partition pays a store open + delta-file commit per
    * micro-batch, and 32 stores for ~1e5 keys is pure fixed overhead. At
    * cluster scale (1e9+ keys across hundreds of executors) the same knob
    * goes UP so each store's delta stays memory-resident.
    */
  private def withStatePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Tumbling 1-hour windows over the events file stream, AvailableNow. */
  def streamHourly(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
    val schema = table(s, dir, "events").schema
    val src = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val agg = src
      .withColumn("et", tsEventTime(src))
      .withWatermark("et", "1 hour")
      .groupBy(window(col("et"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("hour_epoch"),
              col("event_type"), col("n"), col("sum_value"))
    val qname = s"graft_stream_hourly_${counter.incrementAndGet()}"
    val q = agg.writeStream
      .format("memory")
      .queryName(qname)
      .option("checkpointLocation", s"$ckBase/$qname")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    dropCheckpoint(s"$ckBase/$qname")
    s.table(qname)
    }
  }

  /** Streaming gap-based sessionization (q182): session_window with a
    * watermark over the events file stream — the merging-window shape
    * (sessions EXTEND as events arrive, unlike fixed tumbling buckets)
    * that exercises Spark's session-merge state store path. AvailableNow
    * single batch == batch sessionization, so the per-user rollup is
    * verified against the SAME oracle as the batch q72: streaming == batch
    * for the sessionization family too. At scale, state is bounded by the
    * watermark: a session older than (max event time - 1h) can never merge
    * with future input and is evicted on window close.
    */
  def streamSessions(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val schema = table(s, dir, "events").schema
      val src = s.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
      val perSession = src
        .withColumn("et", tsEventTime(src))
        .withWatermark("et", "1 hour")
        .groupBy(col("user_id"), session_window(col("et"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events"))
      val qname = s"graft_stream_sessions_${counter.incrementAndGet()}"
      val q = perSession.writeStream
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", s"$ckBase/$qname")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      dropCheckpoint(s"$ckBase/$qname")
      s.table(qname)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"))
    }
  }

  final case class UserCount(user_id: Long, n_events: Long)

  /** Custom streaming state (ST1/X3 surface): per-user running event counts
    * via mapGroupsWithState — the KeyValueGroupedDataset escape hatch for
    * state machines the built-in windows can't express. With one
    * AvailableNow batch the emitted updates equal the batch group counts,
    * so the DuckDB oracle checks it directly.
    */
  def statefulUserCounts(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    import s.implicits._
    withStatePartitions(s, 8) {
    val schema = table(s, dir, "events").schema
    val src = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val counts = src.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, UserCount](GroupStateTimeout.NoTimeout) {
        (uid, events, state) =>
          val cur = state.getOption.getOrElse(0L) + events.size
          state.update(cur)
          UserCount(uid, cur)
      }
    val qname = s"graft_stream_state_${counter.incrementAndGet()}"
    val q = counts.toDF().writeStream
      .format("memory")
      .queryName(qname)
      .option("checkpointLocation", s"$ckBase/$qname")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    dropCheckpoint(s"$ckBase/$qname")
    s.table(qname)
    }
  }

  private val statefulUserCountsSql =
    "SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id"

  /** The Spark-4 arbitrary-state API (transformWithState): a
    * StatefulProcessor with an explicit named ValueState — the successor
    * to mapGroupsWithState, with typed state handles, TTL, and timers.
    * Requires the RocksDB state store (checked at query start), which is
    * also the store you would run at cluster scale: state lives off-heap
    * / on local disk with changelog checkpointing instead of full JVM-heap
    * maps.
    */
  private class UserCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, UserCount] {
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Long],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserCount] = {
      val cur = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(cur)
      Iterator.single(UserCount(key, cur))
    }
  }

  /** Per-user running counts via transformWithState (ST1/X3, modern API);
    * one AvailableNow batch makes the update stream equal the batch group
    * counts, so it shares q86's DuckDB oracle.
    */
  def transformWithStateCounts(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    import s.implicits._
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try withStatePartitions(s, 8) {
      val schema = table(s, dir, "events").schema
      val src = s.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
      val counts = src.select(col("user_id")).as[Long]
        .groupByKey(identity)
        .transformWithState(new UserCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
      val qname = s"graft_stream_tws_${counter.incrementAndGet()}"
      val q = counts.toDF().writeStream
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", s"$ckBase/$qname")
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      dropCheckpoint(s"$ckBase/$qname")
      s.table(qname)
    } finally s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  /** Watermark LATE-DATA DROP semantics (ST1) — the one streaming behavior
    * a production user actually hits: an event arriving after the watermark
    * passed its window is silently discarded, not merged. q84/q87 process
    * complete input in one batch, so their watermarks never drop anything;
    * this query PROVES the drop across a real two-batch run:
    *
    *  1. The events fixture is split by event-time into three source files
    *     with increasing mod-times: the newest hour (the "tip", carrying
    *     the max event time), the rest of the most recent 6 hours, and a
    *     late file (everything older).
    *  2. maxFilesPerTrigger=1 + AvailableNow processes them as three
    *     micro-batches in that order. Spark's two-watermark model
    *     (SPARK-40925) filters late INPUT with the watermark as of the
    *     PREVIOUS batch's planning — so the tip must land two batches
    *     ahead: by the late batch, the late-event watermark is
    *     max(on-time event time) - 1h, every late row sits hours below
    *     it, and the entire late batch is dropped.
    *  3. Append mode then emits exactly the on-time windows whose end is
    *     at-or-below the final watermark.
    *
    * The DuckDB oracle recomputes that contract from the batch table: the
    * hourly aggregate of ONLY the on-time slice, restricted to windows
    * closed by the final watermark. If late data leaked into the stream
    * state (or on-time windows leaked past the watermark), the hash
    * comparison fails. Reference contract: the date-windowed incremental
    * pull (/root/reference/data_pipeline.py:117-120) ignores late mail the
    * same way — here the cutoff is explicit, machine-checked semantics.
    */
  def streamLate(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val raw = table(s, dir, "events")
      val schema = raw.schema
      // staged files must keep the source schema, so the derived hour
      // column is dropped again before each write
      val ev = raw.withColumn("__hr", tsMicros(raw)).withColumn("__hr", expr("__hr div 3600000000"))
      val hmax = ev.agg(max(col("__hr"))).collect()(0).getLong(0)
      val cut = hmax - 6
      // The tip goes first so the late-event watermark has advanced by
      // the time the late batch runs.
      val srcDir = staged(s, s"late:$dir", Seq(
        "b0_tip" -> ev.filter(col("__hr") === hmax).drop("__hr"),
        "b1_rest" -> ev.filter(col("__hr") > cut && col("__hr") < hmax).drop("__hr"),
        "b2_late" -> ev.filter(col("__hr") <= cut).drop("__hr")))
      val src = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val agg = src
        .withColumn("et", tsEventTime(src))
        .withWatermark("et", "1 hour")
        .groupBy(window(col("et"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").cast("long").as("hour_epoch"),
                col("event_type"), col("n"), col("sum_value"))
      val qname = s"graft_stream_late_${counter.incrementAndGet()}"
      val q = agg.writeStream
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", s"$ckBase/$qname")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 3, s"late-drop harness needs >= 3 non-empty micro-batches, got $batches")
      dropCheckpoint(s"$ckBase/$qname")
      s.table(qname)
    }
  }

  /** The on-time slice aggregated in batch, restricted to windows the
    * final watermark closed — what the stream MUST emit iff it dropped
    * every late row and nothing else. */
  private val streamLateSql =
    s"""WITH e AS (SELECT epoch_us(ts) AS et_us, epoch_us(ts) // 3600000000 AS hr,
       |                  event_type, value FROM events),
       |hm AS (SELECT MAX(hr) AS hmax FROM e),
       |a AS (SELECT * FROM e WHERE hr > (SELECT hmax FROM hm) - 6),
       |wm AS (SELECT MAX(et_us) - 3600000000 AS w FROM a)
       |SELECT CAST(hr * 3600 AS BIGINT) AS hour_epoch, event_type,
       |COUNT(*) AS n, ${DSUM("value")} AS sum_value
       |FROM a
       |WHERE (hr + 1) * 3600000000 <= (SELECT w FROM wm)
       |GROUP BY hr, event_type""".stripMargin

  /** Streaming merge sink: foreachBatch + [[graft.sources.Lake.mergeUpsert]]
    * — the production "apply each micro-batch's changes to the lake" shape
    * (Delta's MERGE-per-batch, hand-rolled on the guarded-swap lake). Two
    * staged micro-batches (event-id parity, pinned name+mtime order) each
    * upsert their per-user latest row into a shard-partitioned lake; later
    * batches overwrite overlapping keys, so the final lake is
    * last-writer-wins in (batch, ts, event_id) order — which is exactly
    * what the batch oracle ranks. Proves the durable sink composes with
    * streaming and stays idempotent per partition swap.
    */
  def streamMerge(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val ev = table(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val lake = s"$ckBase/merge_lake_${counter.incrementAndGet()}"
      microBatches(s, s"merge:$dir", byParity(ev, "event_id")) { (batch, _) =>
        // per-batch CDC reduction: one row per user (latest by ts then
        // event_id), then a partition-scoped durable upsert
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
        val latest = batch
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
          .withColumn("shard", pmod(col("user_id"), lit(4)))
        graft.sources.Lake.mergeUpsert(batch.sparkSession, lake, latest, "user_id", "shard")
      }
      // the staged source is cached across runs; the lake stays on tmpfs
      // until process exit — the returned frame reads it lazily
      parquet(s, Seq(lake))
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_users"),
             dsum(col("value")).as("sum_v"),
             max(col("event_id")).as("last_id"))
    }
  }

  /** Last-writer-wins in (batch, ts, event_id) order, computed in batch:
    * what the merged lake MUST contain. */
  private val streamMergeSql =
    s"""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, value,
       |                  event_id % 2 AS batch FROM events),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |        ORDER BY batch DESC, ts_us DESC, event_id DESC) AS rn FROM e)
       |SELECT CAST(user_id % 4 AS BIGINT) AS shard, COUNT(*) AS n_users,
       |${DSUM("value")} AS sum_v, CAST(MAX(event_id) AS BIGINT) AS last_id
       |FROM r WHERE rn = 1 GROUP BY 1""".stripMargin

  /** Streaming deduplication (ST1): the reference's idempotency gate in
    * stream form — dropDuplicates on the event key with a watermark bounding
    * the dedup state (at scale the watermark is what keeps the state store
    * finite). Single AvailableNow batch == batch DISTINCT, so the oracle
    * checks it directly.
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
    val schema = table(s, dir, "events").schema
    val src = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val deduped = src
      .withColumn("et", tsEventTime(src))
      .withWatermark("et", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"), dsum(col("value")).as("sum_value"))
    val qname = s"graft_stream_dedup_${counter.incrementAndGet()}"
    val q = deduped.writeStream
      .format("memory")
      .queryName(qname)
      .option("checkpointLocation", s"$ckBase/$qname")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    dropCheckpoint(s"$ckBase/$qname")
    s.table(qname)
    }
  }

  // event_id is unique in the fixture, so post-dedup counts equal the plain
  // aggregation — the dedup state machinery still runs over every key.
  private val streamDedupSql =
    s"""SELECT event_type, COUNT(*) AS n_unique, ${DSUM("value")} AS sum_value
       |FROM events GROUP BY event_type""".stripMargin

  /** Streaming incremental dedup screening: the production ingest loop.
    * New documents arrive as files; each micro-batch is screened against
    * the FROZEN corpus signature index ([[graft.operators.LshScreen.screenFixture]])
    * and its per-doc decisions are appended to the admission log. Because
    * a doc's decision depends only on its own text vs the index, any
    * micro-batch partitioning yields identical decisions — so the rollup
    * over the streamed admission log is verified against the SAME oracle
    * as the one-shot batch q131: streaming == batch, machine-checked
    * (the q84/q71 pattern, applied to the dedup family).
    *
    * Two staged micro-batches (doc-id parity, pinned name+mtime order);
    * the index is session-cached across batches exactly as a production
    * job holds its persisted signature tables open across triggers.
    */
  def streamScreen(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val newB = graft.operators.Dedup.augmentedDocs(s, dir)
        .filter(col("doc_id") >= 100000L)
      val log = decisionLog(s, s"screen:$dir", byParity(newB, "doc_id"))(
        b => graft.operators.Dedup.TextScreen.screenFixture(b.sparkSession, dir, b))
      graft.operators.Dedup.screenSummary(log, newB)
    }
  }

  /** Streaming incremental VECTOR screening — q134's pattern for the
    * embedding side, completing the symmetry: new vectors arrive as
    * files, each micro-batch is screened against the persisted frozen
    * sign-LSH index ([[graft.operators.LshScreen.screenFixture]]), and
    * the per-vector decisions land in a batchId-scoped admission log
    * (replay-idempotent, as q134). A vector's decision depends only on
    * itself vs the index, so any micro-batch partitioning yields
    * identical decisions — the rollup is verified against the SAME
    * oracle as the one-shot batch q140: streaming == batch for the
    * vector family too, machine-checked.
    */
  def streamVecScreen(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val newB = graft.operators.Similarity.syntheticVecBatch(s, dir)
      val log = decisionLog(s, s"vscreen:$dir", byParity(newB, "vec_id"))(
        b => graft.operators.Similarity.VecScreen.screenFixture(b.sparkSession, dir, b))
      graft.operators.Similarity.vecScreenSummary(log.select(col("vec_id"), col("decision")))
    }
  }

  /** Streaming ADC admission (q205): the PQ family's streaming == batch
    * leg. Arriving vectors are screened per micro-batch against the
    * PERSISTED PQ index ([[graft.operators.Similarity.pqScreenBatch]]:
    * coarse-assign to stored centroids, ADC against the probed clusters'
    * code bytes only), decisions land in a batchId-scoped admission log.
    * A decision depends only on the arrival vs the frozen index, so any
    * micro-batch partitioning yields identical decisions — the rollup is
    * verified against the SAME oracle as the one-shot batch q204.
    */
  def streamPqScreen(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val newB = graft.operators.Similarity.syntheticVecBatch(s, dir)
      val log = decisionLog(s, s"pqscreen:$dir", byParity(newB, "vec_id"))(
        b => graft.operators.Similarity.pqScreenBatch(b.sparkSession, dir, b))
      graft.operators.Similarity.pqScreenSummary(log.select(col("vec_id"), col("decision")))
    }
  }

  /** Streaming retrieval serving (q177): queries arrive as files; each
    * micro-batch's query docs are tokenized ([[graft.operators.Search.querySet]],
    * the q164 convention) and scored BM25 against the FROZEN persisted
    * inverted index via the corpus-free [[graft.operators.Search.bm25]] —
    * the search family's q134/q144 pattern, completing streaming == batch
    * for all three index families (lexical, MinHash, vector). A query's
    * ranking depends only on its own terms vs the index, so any micro-batch
    * partitioning yields identical rankings; per-batch top-5 lands in a
    * batchId-scoped result log (replay-idempotent), and the accumulated log
    * is verified against the SAME oracle as the one-shot batch q164.
    * At scale this is the serving loop of a retrieval system: index frozen
    * and distributed, per-trigger cost ∝ the arriving queries' term
    * postings, state-free (no watermark needed — each query is complete
    * within its batch).
    */
  def streamSearch(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val posers = table(s, dir, "documents")
        .filter(col("doc_id") % 50 === 7)
        .select(col("doc_id"), col("text"))
      // build-or-validate the index BEFORE the stream starts: triggers only
      // probe a frozen snapshot, exactly like the dedup/vector screens
      graft.operators.Search.searchIndex(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
      decisionLog(s, s"search:$dir", Seq(
          "b0_lo" -> posers.filter(col("doc_id") % 100 === 7),
          "b1_hi" -> posers.filter(col("doc_id") % 100 === 57))) { batch =>
        val idx = graft.operators.Search.searchIndex(batch.sparkSession, dir)
        graft.operators.Search.bm25(idx, graft.operators.Search.querySet(batch))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
      }.select(col("qid"), col("doc_id"), col("score"), col("rn"))
    }
  }

  /** Streaming mixing admission (q258): the mixing family's streaming ==
    * batch twin (VERDICT r17 item 5, the q134/q144/q177/q194/q205/q246
    * convention). Arriving documents are screened per micro-batch
    * against the FROZEN admission-policy store
    * ([[graft.operators.ScaleOps.mixAdmitStore]]: the q256 batch solve's
    * corpus digest set + per-source ppm rates); arrivals are the q131
    * convention's synthetic batch (exact copies of corpus texts under
    * new ids + fresh near-variants, every source on both legs): known
    * digests are rejected as dups, fresh documents pass the per-source
    * hash lottery at the stored rate — the order-independent realization of the allocation
    * (a running meter would make decisions depend on arrival order and
    * break replay). Decisions land in a batchId-scoped log
    * (replay-idempotent); the accumulated rollup is verified against
    * the shared oracle, which replays policy + screen + lottery from
    * the corpus. */
  def streamMixAdmission(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val arrivals = graft.operators.ScaleOps.mixArrivalBatch(s, dir)
      // build-or-validate the policy store BEFORE the stream starts:
      // triggers only probe a frozen snapshot (the q134/q177 convention)
      graft.operators.ScaleOps.mixAdmitStore(s, dir)
      val log = decisionLog(s, s"mixadm:$dir", byParity(arrivals, "doc_id"))(
        b => graft.operators.ScaleOps.mixAdmitBatch(b.sparkSession, dir, b))
      graft.operators.ScaleOps.mixAdmitSummary(
        log.select(col("doc_id"), col("source"), col("tk"), col("decision")))
    }
  }

  /** Streaming model-based admission (q194): arriving documents are
    * scored per micro-batch with the hashed-linear quality classifier
    * ([[graft.operators.Search.classifyDocs]] — the text-side scorer;
    * arrivals aren't in any index yet, so the gate pays O(batch)
    * tokenization, never a corpus pass) and the per-document integer
    * logits land in a batchId-scoped decision log (replay-idempotent,
    * the q134/q144/q177 convention). A document's logit is a pure
    * function of its own text, so any micro-batch partitioning yields
    * identical decisions; the accumulated log's per-lang rollup is
    * verified against a batch oracle over the same arriving slice —
    * streaming == batch for the model-filter family, machine-checked.
    * At scale this is the admission gate in front of the corpus: score
    * on arrival, keep/drop before anything downstream pays for the doc.
    */
  def streamClassifier(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val arrivals = table(s, dir, "documents")
        .filter(col("doc_id") % 20 === 3)
        .select(col("doc_id"), col("text"), col("lang"))
      decisionLog(s, s"clsf:$dir", Seq(
          "b0_lo" -> arrivals.filter(col("doc_id") % 40 === 3),
          "b1_hi" -> arrivals.filter(col("doc_id") % 40 === 23)))(
          graft.operators.Search.classifyDocs)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("logit_micro") > 0, 1L).otherwise(0L)).as("n_keep"),
          sum(col("logit_micro")).as("sum_logit"))
    }
  }

  private val streamClassifierSql =
    """WITH atoks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
      |  FROM documents WHERE doc_id % 20 = 3),
      |tfs AS (
      |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM atoks GROUP BY doc_id, tok),
      |scored AS (
      |  SELECT doc_id,
      |         CAST(SUM(tf * (((('0x' || substr(md5('qw' || tok), 1, 15))::BIGINT) % 2001) - 1000)) AS BIGINT) AS logit
      |  FROM tfs GROUP BY doc_id)
      |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(CASE WHEN COALESCE(s.logit, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |       CAST(SUM(COALESCE(s.logit, 0)) AS BIGINT) AS sum_logit
      |FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
      |WHERE d.doc_id % 20 = 3
      |GROUP BY d.lang""".stripMargin

  /** Commit one micro-batch as a batchId-tagged logical append, then
    * deliberately REPLAY the commit — the retry a recovering stream
    * performs after a crash between sink write and checkpoint advance —
    * and require the replay to be a manifest-ledger no-op. */
  private def commitOnce(batch: DataFrame, lake: String, batchId: Long): Unit = {
    def commit() = graft.sources.Snapshots.commitIfAbsent(
      batch, lake, append = true, "batchId", batchId.toString)
    val first = commit()
    val replay = commit()
    require(first.nonEmpty && replay.isEmpty,
      s"commit ledger: first=$first replay=$replay for batch $batchId")
  }

  /** q150: exactly-once streaming commits into the snapshot table.
    * Micro-batches land as logical-append snapshot commits tagged with
    * their batchId ([[graft.sources.Snapshots.commitIfAbsent]]), and
    * every batch is deliberately committed TWICE — the replay a
    * recovering stream performs after a crash between sink write and
    * checkpoint advance. The second call is a manifest-ledger no-op, so
    * the table ends at exactly one snapshot per non-empty micro-batch
    * (pinned in-frame: `n_versions`, `replay_was_noop`). The final
    * table's aggregate is oracled against the source rows directly —
    * the ledger admitted every row exactly once. Idempotence lives in
    * the TABLE's commit ledger, not the producer: any replayable writer
    * (retried job, second stream) gets the same guarantee. */
  def streamSnapshot(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val rows = table(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"))
      val lake = s"$ckBase/snaplake_${counter.incrementAndGet()}"
      val batches = microBatches(s, s"snap:$dir", byParity(rows, "okey")) { (batch, batchId) =>
        if (!batch.isEmpty) commitOnce(batch, lake, batchId)
      }
      val versions = graft.sources.Snapshots.latestVersion(s, lake)
      graft.sources.Snapshots.read(s, lake)
        .agg(count(lit(1)).as("n_rows"), sum("okey").as("sum_key"))
        .select(col("n_rows"), col("sum_key"),
          lit(versions).as("n_versions"),
          lit(versions == batches.toLong).as("replay_was_noop"))
    }
  }

  private val streamSnapshotSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey FROM orders)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(okey) AS BIGINT) AS sum_key,
      |       CAST(2 AS BIGINT) AS n_versions, TRUE AS replay_was_noop
      |FROM o""".stripMargin

  /** q159: STREAMING incremental view maintenance — the q158 loop driven
    * by a real Structured Streaming job. Three staged micro-batches
    * (okey%3 slices, pinned order) land as exactly-once snapshot commits
    * (batchId ledger, each deliberately replayed — the replay is a
    * no-op); a takedown equality-delete (okey%50) interleaves after the
    * second batch, exactly the mid-stream mutation a production table
    * sees. After EVERY commit the foreachBatch consumer refreshes its
    * monthly materialization from [[graft.sources.Snapshots.changes]] of
    * the window since its last-seen version — the delete window rides
    * along with batch 2's refresh, sequence-scoped so batch 3's keys are
    * untouched by it. The query result is the maintained STATE (plus the
    * version count), never a direct read; the oracle recomputes ground
    * truth from orders, so the hash match proves a streaming consumer
    * can track a mutating table at O(delta) per trigger. */
  def streamIvm(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val rows = table(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderdate").cast("date").as("od"))
        .withColumn("val", col("okey") % 97)
      val lake = s"$ckBase/ivmlake_${counter.incrementAndGet()}"
      def monthAgg(df: DataFrame): DataFrame =
        df.groupBy(date_format(col("od"), "yyyy-MM").as("ym"))
          .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val"))
      var prevV = 0L
      var state: DataFrame = null
      microBatches(s, s"ivm:$dir", Seq(
          "b0" -> rows.filter(col("okey") % 3 === 0),
          "b1" -> rows.filter(col("okey") % 3 === 1),
          "b2" -> rows.filter(col("okey") % 3 === 2))) { (batch, batchId) =>
        if (!batch.isEmpty) {
          import graft.sources.Snapshots
          commitOnce(batch, lake, batchId)
          if (batchId == 1L) // mid-stream takedown: lands inside this refresh window
            Snapshots.commitDelete(rows.filter(col("okey") % 50 === 0)
              .select("okey"), lake)
          val v = Snapshots.latestVersion(s, lake)
          state =
            if (prevV == 0L) monthAgg(Snapshots.read(s, lake, v)).coalesce(1).localCheckpoint(true)
            else {
              val ch = Snapshots.changes(s, lake, prevV, v)
              val ins = monthAgg(ch.filter(col("_change_type") === "insert"))
              val delKeys = ch.filter(col("_change_type") === "delete").select("okey")
              val del = monthAgg(Snapshots.read(s, lake, prevV)
                  .join(broadcast(delKeys), Seq("okey")))
                .select(col("ym"), (-col("n_rows")).as("n_rows"),
                  (-col("sum_val")).as("sum_val"))
              Snapshots.mergeAggDeltas(state, Seq(ins, del), Seq("ym"), "n_rows")
                .coalesce(1).localCheckpoint(true)
            }
          prevV = v
        }
      }
      require(state != null, "streaming IVM harness saw no non-empty batch")
      state.withColumn("n_versions",
        lit(graft.sources.Snapshots.latestVersion(s, lake)))
    }
  }

  private val streamIvmSql =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |                  CAST(o_orderdate AS DATE) AS od FROM orders),
      |fin AS (
      |  SELECT okey, od, okey % 97 AS val FROM o
      |  WHERE NOT (okey % 50 = 0 AND okey % 3 IN (0, 1)))
      |SELECT strftime(od, '%Y-%m') AS ym, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(val) AS BIGINT) AS sum_val,
      |       CAST(4 AS BIGINT) AS n_versions
      |FROM fin GROUP BY 1""".stripMargin

  /** q169: stream-stream interval join — the one Structured Streaming join
    * shape the rest of the module doesn't exercise. Clicks and purchases
    * arrive as two independent event streams; a purchase attributes to a
    * click by the same user within the following 6 hours (the classic
    * streaming attribution join). Both sides carry watermarks and the join
    * condition carries BOTH time bounds, which is exactly what lets Spark
    * expire buffered state: a click older than watermark - 6h can never
    * match a future purchase and is evicted, so state is bounded by the
    * interval x arrival rate, not by stream history — the property that
    * makes this run forever at cluster scale.
    *
    * Harness: AvailableNow over the fixture file (both sides read the same
    * events.parquet), join rows land in a memory sink (append — inner
    * interval joins emit on match), then a batch rollup per click-hour.
    * All join-key and interval arithmetic is integer micros (via
    * [[graft.Engine.tsMicros]]), so the DuckDB oracle (a plain batch
    * self-join) hashes identically.
    */
  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val schema = table(s, dir, "events").schema
      def side(tpe: String, alias: String) = {
        val st = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .filter(col("event_type") === tpe)
        st.select(col("user_id").as(s"${alias}_user"),
            tsEventTime(st).as(s"${alias}_et"),
            tsMicros(st).as(s"${alias}_us"))
          .withWatermark(s"${alias}_et", "1 hour")
      }
      val joined = side("click", "c").join(side("purchase", "p"),
        col("p_user") === col("c_user") &&
          col("p_et") >= col("c_et") &&
          col("p_et") <= col("c_et") + expr("INTERVAL 6 HOURS"))
      val qname = s"graft_stream_ij_${counter.incrementAndGet()}"
      val q = joined.writeStream
        .format("memory").queryName(qname)
        .option("checkpointLocation", s"$ckBase/$qname")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      dropCheckpoint(s"$ckBase/$qname")
      s.table(qname)
        .groupBy(expr("c_us div 1000000 div 3600 * 3600").as("hour_epoch"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_user")).as("n_users"),
          sum(col("p_us") - col("c_us")).as("sum_delta_us"))
    }
  }

  // ---- the ledgered serving-store streams (q215-q221, q246-q249,
  // q266-q270): one harness over a four-entry family table ----

  /** One ledgered streaming family: its store's [[IndexStore.Ledger]],
    * and where it lives. `seed` fresh-seeds the store at `path(dir)` and
    * returns its stamp meta; `commit(s, dir, path, seg, batch)` commits
    * one batch as segment `seg` through [[IndexStore.Ledger.commit]]
    * (deliberately replayed) and returns the (first, replay)
    * written-table counts plus the batch's audit counts. The family's
    * stamps fingerprint `fingerprint(s, dir)`. */
  private final case class LedgeredStream(
      name: String,
      ledger: IndexStore.Ledger,
      path: String => String,
      fingerprint: (SparkSession, String) => String,
      batches: (SparkSession, String) => Seq[(Int, DataFrame)],
      seed: (SparkSession, String) => Map[String, String],
      commit: (SparkSession, String, String, Long, DataFrame) =>
        ((Int, Int), Map[String, Long]))

  private def sourceStamp(file: String)(s: SparkSession, dir: String): String =
    IndexStore.sourceStamp(s, Seq(s"$dir/$file"))

  private val IvfStream = {
    import graft.operators.Similarity
    LedgeredStream("ivf", Similarity.SeqIvfLedger, Similarity.seqIvfStreamPath,
      sourceStamp("embeddings.parquet"), Similarity.seqArrivalBatches,
      (s, dir) => { Similarity.seedSeqIvfStream(s, dir); Map.empty },
      Similarity.seqIvfStreamCommit)
  }

  private val SearchStream = {
    import graft.operators.Search
    LedgeredStream("search", Search.StreamLedger, Search.streamIndexPath,
      Search.fixtureStamp, Search.arrivalDocBatches,
      (s, dir) => { Search.seedStreamIndex(s, dir); Map.empty },
      (s, _, path, seg, b) => Search.streamIndexCommit(s, path, seg, b))
  }

  private val KnnStream = {
    import graft.operators.Similarity
    LedgeredStream("knn", Similarity.KnnStreamLedger, Similarity.knnStreamPath,
      sourceStamp("embeddings.parquet"), Similarity.knnStreamFeedBatches,
      (s, dir) => Map("m" ->
        Similarity.seedKnnStream(s, dir, table(s, dir, "embeddings"))._2.toString),
      (s, _, path, seg, b) => Similarity.knnStreamCommit(s, path, seg, b))
  }

  private val MixAdmStream = {
    import graft.operators.ScaleOps
    LedgeredStream("mixadm", ScaleOps.MixAdmStreamLedger, ScaleOps.mixAdmStreamPath,
      sourceStamp("documents.parquet"), ScaleOps.seedMixAdmStreamBatches,
      (s, dir) => { ScaleOps.seedMixAdmStream(s, dir); Map.empty },
      (s, _, path, seg, b) => ScaleOps.mixAdmStreamCommit(s, path, seg, b))
  }

  /** A ledgered family's store, drained once per (process, corpus) under
    * the warm convention (VERDICT r14 item 3): past the stamp gate, stage
    * the feed batches (name + mtime pinned), fresh-seed the store as
    * segment 0, drain the batches with AvailableNow — micro-batch N
    * commits as segment N+1 and records its (first, replay) flag — and
    * stamp the store with the replay-noop verdict and summed audit
    * counts. Only a CLEAN run is stamped (review catch): freezing a
    * transient false verdict would leave every later call dead in this
    * process; unstamped, the next call re-drives the stream and a
    * transient hiccup self-heals. Returns (store path, clean). */
  private def drained(s: SparkSession, f: LedgeredStream, dir: String): (String, Boolean) = {
    val path = f.path(dir)
    IndexStore.withPathLock(path) {
      val stamp = s"${f.name}stream-done|" + f.fingerprint(s, dir)
      if (IndexStore.isCurrent(s, path, stamp))
        (path, IndexStore.readMeta(s, path)("replay_noop").toBoolean)
      else {
        val batches = f.batches(s, dir)
        val seedMeta = f.seed(s, dir)
        val flags = new java.util.concurrent.ConcurrentHashMap[Long,
          ((Int, Int), Map[String, Long])]()
        // the key must not collide with the screening streams' own
        // staged sources ("search:", "mixadm:" hold other slices)
        microBatches(s, s"${f.name}stream:$dir",
            batches.map { case (segId, b) => f"b${segId}%02d_feed" -> b }) { (batch, batchId) =>
          // mtime-pinned file order: micro-batch N carries feed slice
          // N+1 and commits as segment N+1 (seed = segment 0)
          flags.put(batchId + 1, f.commit(batch.sparkSession, dir, path, batchId + 1, batch))
        }
        import scala.jdk.CollectionConverters._
        val got = flags.asScala.values.toSeq
        val clean = got.sizeIs == batches.size &&
          got.forall { case ((first, replay), _) => first == f.ledger.names.size && replay == 0 }
        val counts = got.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
        if (clean) IndexStore.writeStamp(s, path, stamp,
          seedMeta ++ counts.map { case (k, v) => k -> v.toString } +
            ("replay_noop" -> "true"))
        (path, clean)
      }
    }
  }

  /** A stamped COPY of the family's drained store, compacted once per
    * process: copy, run [[IndexStore.Ledger.compact]] (which records the
    * compaction point in meta), then re-commit every feed batch — the
    * recovery retry AFTER compaction, which the tombstoned ledger must
    * answer "already committed" in every table — and stamp only a clean
    * run, with the replay-after-compact verdict in meta. Compacting a copy keeps the shared drained store's
    * uncompacted segments and horizons intact; a crash mid-compact
    * leaves the copy failing this stamp check, and it re-copies.
    * The drained store's path lock covers the copy, so it never races a
    * re-drain. Returns (copy path, replay-after-compact). */
  private def compacted(s: SparkSession, f: LedgeredStream, dir: String): (String, Boolean) = {
    val path = f.path(dir)
    IndexStore.withPathLock(path) {
      val (_, clean) = drained(s, f, dir)
      val cpath = compactedPath(path)
      val stamp = s"${f.name}stream-compacted|" + f.fingerprint(s, dir)
      if (IndexStore.isCurrent(s, cpath, stamp))
        (cpath, IndexStore.readMeta(s, cpath)("replay_after_compact").toBoolean)
      else {
        require(clean, "pre-compaction stream must commit exactly once")
        IndexStore.copy(s, path, cpath)
        f.ledger.compact(s, cpath)
        val replays = f.batches(s, dir).map { case (segId, b) =>
          f.commit(s, dir, cpath, segId.toLong, b)._1
        }
        val stillNoop = replays.forall(_ == ((0, 0)))
        if (stillNoop) IndexStore.writeStamp(s, cpath, stamp,
          IndexStore.readMeta(s, cpath) + ("replay_after_compact" -> "true"))
        (cpath, stillNoop)
      }
    }
  }

  /** Where [[compacted]] keeps the compacted copy of the drained store at
    * `path`: a process-unique work path beside it. */
  private[graft] def compactedPath(path: String): String =
    IndexStore.workPath(path + "_compacted")

  /** Streaming sequential index refresh (q215): the q195 batch refresh
    * loop run as a REAL stream — arrival batches land as files, each
    * micro-batch coarse-assigns its vectors against the STORED centroids
    * (O(batch); the corpus is never rescanned) and commits them into the
    * partition-dir store as an exactly-once tagged segment
    * ([[IndexStore.appendSegmentIfAbsent]]). Each commit is
    * DELIBERATELY replayed — the retry a recovering stream performs after
    * a crash between sink write and checkpoint advance — and a correct
    * ledger makes every replay a metadata no-op. The answer is q195's
    * exact probe over the streamed store (read marker-gated), plus the
    * audited segment count and the observed replay flag; the oracle is
    * q195's identical SQL chain with both audits pinned — streaming ==
    * batch for the index REFRESH loop itself, completing the family
    * (screening q144/q205 proved admission; this proves the index WRITE
    * path).
    *
    * At scale this is the live-index serving story: a 1000-executor
    * stream appends segment directories to a shared store while probes
    * read marker-committed segments only; a horizon probe's `seg <= h`
    * becomes PARTITION PRUNING — whole directories skipped before any
    * file is opened.
    */
  def streamIvfRefresh(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (path, replayNoop) = drained(s, IvfStream, dir)
      graft.operators.Similarity.seqIvfStreamResult(s, path, replayNoop)
    }
  }

  /** q217: ledger-aware compaction of the STREAMING segment store — the
    * maintenance op [[graft.operators.Similarity.compactSeqSegments]]'s
    * partition-dir refusal names as missing, landed end-to-end. Run the
    * full q215 stream (seed + two exactly-once segment commits), then
    * compact the store through
    * [[IndexStore.Ledger.compact]]: all committed
    * rows collapse into fresh cid-range-sorted files under `seg=0` while
    * every pre-compaction segment keeps a TOMBSTONE commit marker — the
    * ledger survives the rewrite. The proof is in the answer frame: the
    * probe serves q195's exact rows from the compacted store (content
    * untouched, seg collapsed to 0, n_segments audited from the store at
    * 1), and `replay_after_compact` re-drives BOTH micro-batch commits
    * against the compacted store — a correct tombstone ledger makes each
    * a metadata no-op (returns false, writes nothing), which the oracle
    * pins TRUE alongside the unchanged probe hash (a replay that
    * re-wrote a segment would duplicate rows and shift every cosim/rn).
    */
  def streamIvfCompact(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (cpath, stillNoop) = compacted(s, IvfStream, dir)
      graft.operators.Similarity.seqIvfStreamCompactResult(s, cpath, stillNoop)
    }
  }

  /** q218: the as-of read over the STREAMED partition-dir store — q210's
    * audit replay ("reproduce what yesterday's index returned") carried
    * to the store the stream writes. After the full q215 run (seed + two
    * exactly-once segment commits), the same probe set is answered at
    * horizon full and horizon 1; the as-of leg reads over
    * [[IndexStore.Ledger.asOf]]'s segment set, whose horizon bounds
    * the explicit partition-dir path list — segment 2's directory is
    * never listed into the scan's file index. That is the partition-dir
    * layout's payoff over the flat store's row-group min/max pruning
    * (q210): at 100 TB the horizon skips whole directories at planning
    * time, zero data-plane cost. Oracled from one shared probe chain
    * with the asof1 leg's candidates bounded to the pre-batch-2 id
    * range; a leaked segment-2 row would rank first somewhere (the
    * cosine-1 2x copy) and hash-mismatch. */
  def streamIvfAsOf(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (path, replayNoop) = drained(s, IvfStream, dir)
      require(replayNoop, "stream must commit exactly once before the as-of probe")
      graft.operators.Similarity.seqIvfStreamAsOfResult(s, path)
    }
  }

  /** q219: streaming refresh for the SEARCH index — near-real-time
    * lexical indexing, the q215 write path carried to a MULTI-TABLE
    * store. Each arriving doc micro-batch is tokenized once and
    * committed as tagged segment N of all four index tables (postings /
    * doclen / dict / positions) through the exactly-once ledger, every
    * commit deliberately replayed. The crash window q215 doesn't have —
    * death BETWEEN two tables' commits of one segment — is closed by the
    * reader's cross-table visibility rule: a segment serves only once
    * committed in EVERY table, so no torn index view (postings without
    * their dictionary deltas) is ever scored; the recovering replay
    * completes the stragglers and the segment appears atomically.
    * Serving needs no merge step: BM25 statistics compose additively
    * across segments (the q166 property), so the oracle is the
    * whole-corpus q164 chain with the segment count and replay flag
    * pinned. */
  def streamSearchRefresh(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (path, replayNoop) = drained(s, SearchStream, dir)
      graft.operators.Search.streamSearchResult(s, dir, path, replayNoop)
    }
  }

  /** q246: the kNN-graph sync as a STREAM (VERDICT r16 item 4) — the
    * fifth family's micro-batch twin, completing the set (dedup q134,
    * vector-screen q144, search q177/q219, PQ q205, IVF q215). The
    * v1→v3 embedding change feed (drained from a REAL lake fixture)
    * stages as two files; each micro-batch applies its rows through the
    * SAME repair/restatement legs as the batch syncs — deletes ride the
    * q243 O(affected) repair, arrivals the q245 entering-edge
    * restatement — and commits masks + appended lists as ONE exactly-
    * once tagged segment across all four ledgered tables (edges, assign,
    * deletes, stale). Each commit is deliberately replayed; a correct
    * ledger makes every replay a metadata no-op (frames re-derive from
    * strictly older segments, which never change, so the replay is also
    * deterministic). The served graph is q244's bit-for-bit — the oracle
    * is q244's chain with the replay verdict pinned — so streaming ==
    * batch for the graph sync, crash-torn segments invisible until the
    * replay completes them (CrashRecoverySpec pins the torn case). */
  def streamKnnSync(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (path, replayNoop) = drained(s, KnnStream, dir)
      graft.operators.Similarity.knnStreamResult(s, dir, path, replayNoop)
    }
  }

  /** q266: the mix-admission policy sync as a STREAM (VERDICT r19
    * "what's missing" item 1) — the SIXTH family's micro-batch twin,
    * completing the set (dedup q134, vector-screen q144, search
    * q177/q219, PQ q205, IVF q215, kNN graph q246). The v1→v3 documents
    * change feed (drained from the same lake fixture the q260 batch sync
    * consumes) stages as two files; each micro-batch lands q260's
    * O(delta) group-survival decision as ONE exactly-once tagged segment
    * across five ledgered tables (appended member keys and digests,
    * delete + gone-digest mask segments, a per-source canonical
    * count-delta segment), so the recurring write is O(delta) rows —
    * never a table rewrite. Counts sum from the cdelta ledger at read;
    * rates re-solve driver-side; decisions flow through the ONE probe
    * body — so the served policy equals q260's bit-for-bit (the oracle
    * is q260's chain with the replay verdict pinned: the two feed legs
    * TELESCOPE to the joint apply). Each commit is deliberately
    * replayed; a correct ledger makes every replay a metadata no-op, and
    * crash-torn segments stay invisible until the replay completes them
    * (CrashRecoverySpec pins the torn case). */
  def streamMixAdmSync(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (path, replayNoop) = drained(s, MixAdmStream, dir)
      graft.operators.ScaleOps.mixAdmStreamResult(s, dir, path, replayNoop)
    }
  }

  /** q269: as-of over the STREAMED mix-admission store — the horizon
    * read completing the sixth family's q248 symmetry: the same policy
    * probe at horizon full (the current synced policy, q260's
    * decisions) and horizon 1 (post-takedown, pre-re-ingest — copies of
    * deleted texts already pass the digest screen at the post-delete
    * rates, re-ingested texts do not yet screen out). The horizon
    * bounds the visible segment set itself, so the pruned segment's
    * directories never enter planning; counts and rates re-derive per
    * horizon from the cdelta ledger, so the whole policy is
    * horizon-consistent; both legs share one view definition and one
    * oracle (each leg = the shared decision chain over that horizon's
    * logical corpus state). */
  def streamMixAdmAsOf(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (path, _) = drained(s, MixAdmStream, dir)
      graft.operators.ScaleOps.mixAdmStreamAsOfResult(s, dir, path)
    }
  }

  /** q270: mask-folding ledger compaction of the streamed mix-admission
    * store — q249's maintenance op for the sixth family: the visible
    * masked view collapses into fresh sorted files under the visible
    * set's MAX segment id (fold-at-max), the cdelta ledger folds to its
    * per-source SUM, the mask tables compact to empty, every
    * pre-compaction segment keeps a tombstone commit marker, and data
    * tables swap before mask tables so every crash window serves the
    * bit-identical policy (CrashRecoverySpec pins the worst window).
    * The rig re-drives both feed micro-batches against the tombstoned
    * ledger (must be metadata no-ops) and as-of horizons below the
    * recorded compaction point are forfeited loudly via the q269 read's
    * refusal. */
  def streamMixAdmCompact(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (cpath, stillNoop) = compacted(s, MixAdmStream, dir)
      graft.operators.ScaleOps.mixAdmStreamCompactResult(s, dir, cpath, stillNoop)
    }
  }

  /** q248: as-of over the STREAMED kNN-graph store — the horizon read
    * completing the fifth family's symmetry (q218/q221's shape): the
    * same masked-view probe at horizon full (the current synced graph)
    * and horizon 1 (post-delete, pre-arrival). The horizon bounds the
    * visible segment set itself, so the pruned segment's directories
    * never enter planning; both legs share one view definition and one
    * oracle (current = q244's rebuild, horizon = the filtered-base
    * rebuild the q243 repair proof licenses). */
  def streamKnnAsOf(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (path, _) = drained(s, KnnStream, dir)
      graft.operators.Similarity.knnStreamAsOfResult(s, path)
    }
  }

  /** q249: mask-folding ledger compaction of the streamed kNN-graph
    * store — q217/q220's maintenance op carried to the fifth family's
    * streamed store, the first whose ledger carries segment-scoped MASK
    * sidecars. Compaction and mask fold are one rewrite
    * ([[IndexStore.Ledger.compact]]): the visible
    * masked view collapses into fresh range-sorted files under the
    * visible set's MAX segment id (fold-at-max — under the min, a
    * not-yet-compacted stale mask would re-hide the restated lists it
    * was born beside), every pre-compaction segment keeps a TOMBSTONE
    * commit marker, and the mask tables compact to empty (their rows
    * are IN the data now). Data tables swap first, masks last, so every
    * crash window between the four single-table swaps serves the
    * bit-identical view (CrashRecoverySpec pins the worst window). The
    * rig then re-drives both feed micro-batches: the tombstoned ledger
    * must make every commit a metadata no-op, pinned by the oracle as
    * replay_after_compact=TRUE beside the byte-identical q244 rows,
    * n_data_segments=1 audited from the files, and masks_folded=TRUE
    * audited from the mask tables. As-of horizons below the compaction
    * point are forfeited LOUDLY (the q248 read refuses them via the
    * recorded compaction point — a silent answer would serve post-fold
    * rows as history). */
  def streamKnnCompact(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (cpath, stillNoop) = compacted(s, KnnStream, dir)
      graft.operators.Similarity.knnStreamCompactResult(s, cpath, stillNoop)
    }
  }

  /** q220: ledger-aware compaction of the MULTI-TABLE streamed search
    * store — q217's maintenance op carried to the store whose commit
    * unit spans four tables. After the full q219 stream, every table
    * compacts independently through
    * [[IndexStore.Ledger.compact]] (committed rows
    * collapse into fresh term-sorted files under `segment=0`, every
    * pre-compaction segment keeps a TOMBSTONE commit marker); the four
    * rewrites are independent single-table swaps run in parallel, and a
    * crash BETWEEN two tables' compactions is harmless by construction —
    * the joint visible set is unchanged (tombstones still answer
    * "committed") and each table serves its full row set whether or not
    * its rewrite landed, which the spec pins. The rig then re-drives
    * both micro-batch commits: the tombstoned ledgers must make every
    * table's replay a metadata no-op (zero writes across 4 tables x 2
    * batches), pinned by the oracle as replay_after_compact=TRUE next to
    * the byte-identical probe and n_segments=1 audited from the data. */
  def streamSearchCompact(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (cpath, stillNoop) = compacted(s, SearchStream, dir)
      graft.operators.Search.streamSearchCompactResult(s, dir, cpath, stillNoop)
    }
  }

  /** q221: the as-of read over the streamed search store — q218's audit
    * replay for the lexical family. After the full q219 run, the SAME
    * query set is answered at horizon full and horizon 1 (the index as
    * it stood before micro-batch 2 landed). The horizon bounds the
    * CROSS-TABLE visible segment set itself — intersected per-table
    * ledgers filtered to `<= h` — so the pruned segment's directories
    * never enter any of the four tables' file indexes, and the asof leg
    * reproduces the smaller collection statistics (n_docs/avgdl/df) the
    * index actually served then. Both horizons oracled from raw text;
    * a leaked batch-2 posting or a stale statistic hash-mismatches. */
  def streamSearchAsOf(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    withStatePartitions(s, 8) {
      val (path, replayNoop) = drained(s, SearchStream, dir)
      require(replayNoop, "stream must commit exactly once before the as-of probe")
      graft.operators.Search.streamSearchAsOfResult(s, dir, path)
    }
  }

  private val streamIntervalJoinSql =
    """SELECT (epoch_us(c.ts) // 1000000 // 3600) * 3600 AS hour_epoch,
      |       COUNT(*) AS n_pairs,
      |       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_users,
      |       CAST(SUM(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_delta_us
      |FROM events c
      |JOIN events p ON p.user_id = c.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 21600000000
      |GROUP BY 1""".stripMargin

  override val queries: Seq[GQuery] = Seq(
    // Same oracle as the batch q71 — proves streaming == batch.
    GQuery("q84_stream_hourly",
      "readStream + watermark + tumbling window, AvailableNow (ST1); oracle == batch q71",
      streamHourly, Some(graft.operators.Events.hourlyWindowsSql)),
    GQuery("q86_stream_state",
      "mapGroupsWithState per-user running counts, AvailableNow (ST1 custom state)",
      statefulUserCounts, Some(statefulUserCountsSql)),
    GQuery("q87_stream_dedup",
      "streaming dropDuplicates with watermark-bounded state (ST1, the idempotency gate)",
      streamDedup, Some(streamDedupSql)),
    GQuery("q91_stream_tws",
      "transformWithState StatefulProcessor + RocksDB store (modern arbitrary-state API)",
      transformWithStateCounts, Some(statefulUserCountsSql)),
    GQuery("q99_stream_late",
      "two-batch watermark run: late batch provably dropped, append emits closed windows only",
      streamLate, Some(streamLateSql)),
    GQuery("q116_stream_merge",
      "streaming CDC sink: foreachBatch mergeUpsert into the guarded-swap lake, two micro-batches",
      streamMerge, Some(streamMergeSql)),
    // Same oracle as the batch q131 — proves streaming screening == batch.
    GQuery("q134_stream_screen",
      "streaming incremental dedup: per-micro-batch screening against the frozen index; oracle == batch q131",
      streamScreen, Some(graft.operators.Dedup.incrementalNearDupSql)),
    // Same oracle as the batch q140 — the vector family's streaming == batch.
    GQuery("q144_stream_vec_screen",
      "streaming incremental vector screening against the persisted sign-LSH index; oracle == batch q140",
      streamVecScreen, Some(graft.operators.Similarity.embeddingScreenSql)),
    GQuery("q150_stream_snapshot",
      "exactly-once streaming commits into the snapshot table: batchId ledger makes replays no-ops",
      streamSnapshot, Some(streamSnapshotSql)),
    GQuery("q159_stream_ivm",
      "streaming IVM: per-trigger O(delta) refresh tracks a mutating table incl. a mid-stream delete",
      streamIvm, Some(streamIvmSql)),
    GQuery("q169_stream_interval_join",
      "stream-stream interval join (click->purchase attribution), watermark-bounded state",
      streamIntervalJoin, Some(streamIntervalJoinSql)),
    // Same oracle as the batch q72 — sessionization's streaming == batch.
    GQuery("q182_stream_sessions",
      "streaming session_window sessionization (merging-window state), AvailableNow; oracle == batch q72",
      streamSessions, Some(graft.operators.Events.sessionsSql)),
    // Same oracle as the batch q164 — retrieval's streaming == batch.
    GQuery("q177_stream_search",
      "streaming BM25 serving: per-micro-batch query scoring against the frozen inverted index; oracle == batch q164",
      streamSearch, Some(graft.operators.Search.bm25TopKSql)),
    GQuery("q194_stream_classifier",
      "streaming model-based admission: per-micro-batch integer-logit scoring of arriving docs; streaming == batch",
      streamClassifier, Some(streamClassifierSql)),
    GQuery("q258_stream_mix_admission",
      "streaming mixing admission: a synthetic arrival batch (exact corpus copies + fresh variants, the q131 convention) screened per micro-batch against the frozen dedup-aware allocation policy — digest dup screen rejects the copies, fresh docs draw the per-source hash lottery at the stored q256-chain rate; decisions are pure per-doc functions of the store, so streaming == batch against the shared oracle",
      streamMixAdmission, Some(graft.operators.ScaleOps.streamMixAdmissionSql)),
    // Same oracle as the batch q204 — the PQ family's streaming == batch.
    GQuery("q205_stream_pq_screen",
      "streaming ADC admission: per-micro-batch screening against the persisted PQ index; oracle == batch q204",
      streamPqScreen, Some(graft.operators.Similarity.pqScreenSql)),
    // Same probe chain as the batch q195 — the index WRITE path's
    // streaming == batch, with the exactly-once segment ledger audited.
    GQuery("q215_stream_ivf_refresh",
      "streaming sequential IVF refresh: exactly-once tagged-segment commits per micro-batch, replay audited as no-op; probe oracle == batch q195",
      streamIvfRefresh, Some(graft.operators.Similarity.ivfRefreshSeqStreamSql)),
    GQuery("q266_stream_mixadm_sync",
      "streaming mix-admission policy sync: each feed micro-batch lands q260's O(delta) group-survival decision as one exactly-once segment across five ledgered tables (keys/digest appends, delete + gone-digest masks, count-delta ledger); counts sum at read, rates re-solve driver-side, decisions via the shared probe body; replay audited as no-op; oracle == batch q260 with the verdict pinned",
      streamMixAdmSync, Some(graft.operators.ScaleOps.streamMixAdmSyncSql)),
    GQuery("q269_stream_mixadm_asof",
      "as-of over the streamed mix-admission store: the same policy probe at horizon full (current synced policy) and horizon 1 (post-takedown, pre-re-ingest) — the horizon bounds the visible segment set so pruned directories never enter planning; counts/rates re-derive per horizon from the cdelta ledger; oracle runs the shared decision chain over each horizon's logical corpus state",
      streamMixAdmAsOf, Some(graft.operators.ScaleOps.streamMixAdmAsOfSql)),
    GQuery("q270_mixadm_stream_compact",
      "mask-folding ledger compaction of the streamed mix-admission store: the visible view collapses under the max segment id (fold-at-max, data before masks), the cdelta ledger folds to its per-source sum, masks compact to empty, tombstones keep post-compaction replays exactly-once; served decisions byte-identical to q260's chain",
      streamMixAdmCompact, Some(graft.operators.ScaleOps.streamMixAdmCompactSql)),
    // Same oracle chain as the batch q244 — the kNN-graph sync's
    // streaming == batch, with the exactly-once segment ledger audited.
    GQuery("q246_stream_knn_sync",
      "streaming kNN-graph sync: each feed micro-batch applies the q243 delete repair + q245 entering-edge restatement and commits masks + appended lists as one exactly-once segment across four ledgered tables; replay audited as no-op; oracle == batch q244 with the verdict pinned",
      streamKnnSync, Some(graft.operators.Similarity.streamKnnSyncSql)),
    GQuery("q248_stream_knn_asof",
      "as-of over the streamed kNN-graph store: the masked-view probe at horizon full (current synced graph, q244's rebuild) and horizon 1 (post-delete pre-arrival, the filtered-base rebuild) — the horizon bounds the visible segment set itself so pruned segment directories never enter planning",
      streamKnnAsOf, Some(graft.operators.Similarity.streamKnnAsOfSql)),
    GQuery("q249_knn_stream_compact",
      "mask-folding ledger compaction of the streamed kNN-graph store: the visible masked view collapses under the max segment id (tombstoned ledger, replay still no-op), mask tables compact to empty, served rows byte-identical to q244's chain",
      streamKnnCompact, Some(graft.operators.Similarity.streamKnnCompactSql)),
    GQuery("q217_stream_ivf_compact",
      "ledger-aware compaction of the streaming segment store: committed rows collapse to seg=0, tombstone markers keep post-compaction replays exactly-once",
      streamIvfCompact, Some(graft.operators.Similarity.ivfStreamCompactSql)),
    GQuery("q218_stream_ivf_asof",
      "as-of probe over the streamed partition-dir store: the horizon bounds the explicit segment-dir path list, so pruned directories never enter planning",
      streamIvfAsOf, Some(graft.operators.Similarity.ivfStreamAsOfSql)),
    GQuery("q219_stream_search_refresh",
      "streaming search-index refresh: each micro-batch commits all four index tables as one tagged segment, readers intersect the per-table ledgers so no torn view is ever scored",
      streamSearchRefresh, Some(graft.operators.Search.bm25StreamRefreshSql)),
    GQuery("q220_stream_search_compact",
      "ledger-aware compaction of the four-table streamed search store: per-table tombstoned rewrites, crash between tables harmless, post-compaction replays are metadata no-ops",
      streamSearchCompact, Some(graft.operators.Search.bm25StreamCompactSql)),
    GQuery("q221_stream_search_asof",
      "as-of BM25 over the streamed search store: the horizon bounds the intersected per-table visible set, so pruned segment dirs never enter any table's file index",
      streamSearchAsOf, Some(graft.operators.Search.bm25StreamAsOfSql)),
  )
}
