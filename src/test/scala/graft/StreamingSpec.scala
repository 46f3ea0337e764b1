package graft

import graft.operators.Events
import graft.streaming.StreamOps
import org.scalatest.funsuite.AnyFunSuite

/** Streaming/batch equivalence (ST1): the watermarked AvailableNow stream
  * must produce exactly the batch result — the Spark-native statement of the
  * reference's "cron + incremental + dedup == exactly-once" contract.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("streamed tumbling-window agg == batch tumbling-window agg") {
    val batch = Events.hourlyWindows(s, TestSpark.sf)
    val stream = StreamOps.streamHourly(s, TestSpark.sf)
    assert(batch.count() > 0)
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty)
  }

  test("watermark drops the late batch: no late window ever emitted, open windows withheld") {
    import org.apache.spark.sql.functions._
    val ev = s.read.parquet(s"${TestSpark.sf}/events.parquet")
    val hmax = ev.agg(max(Engine.tsMicros(ev))).collect()(0).getLong(0) / 3600000000L
    val out = graft.streaming.StreamOps.streamLate(s, TestSpark.sf).cache()
    assert(out.count() > 0)
    // every late event (hours <= hmax-6) was dropped: its window never appears
    assert(out.filter(col("hour_epoch") <= (hmax - 6) * 3600L).count() == 0,
      "late windows must not be emitted")
    // and windows the final watermark hasn't closed are withheld by append
    assert(out.agg(max("hour_epoch")).collect()(0).getLong(0) <= (hmax - 2) * 3600L,
      "open windows must not be emitted")
    out.unpersist()
  }

  test("mapGroupsWithState running counts == batch group counts") {
    import org.apache.spark.sql.functions._
    val stream = StreamOps.statefulUserCounts(s, TestSpark.sf)
    val batch = s.read.parquet(s"${TestSpark.sf}/events.parquet")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    assert(stream.count() > 0)
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty)
  }

  test("streaming session_window sessionization == batch sessionization") {
    val stream = StreamOps.streamSessions(s, TestSpark.sf)
    val batch = Events.sessions(s, TestSpark.sf)
    assert(stream.count() > 0)
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty,
      "merging-window streaming sessions must equal the batch rollup")
  }

  test("streaming BM25 serving == batch top-k from the same frozen index") {
    val stream = StreamOps.streamSearch(s, TestSpark.sf)
    val batch = graft.operators.Search.bm25TopK(s, TestSpark.sf)
    assert(stream.count() > 0, "fixture query set must produce rankings")
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty,
      "per-micro-batch scoring must equal the one-shot batch ranking")
  }

  test("stream-stream interval join == batch interval join") {
    import org.apache.spark.sql.functions._
    val stream = StreamOps.streamIntervalJoin(s, TestSpark.sf).cache()
    assert(stream.count() > 0, "fixture must produce click->purchase pairs")
    val raw = s.read.parquet(s"${TestSpark.sf}/events.parquet")
    val ev = raw.select(col("user_id"), col("event_type"), Engine.tsMicros(raw).as("us"))
    val batch = ev.filter(col("event_type") === "click").select(col("user_id"), col("us").as("c_us"))
      .join(ev.filter(col("event_type") === "purchase").select(col("user_id"), col("us").as("p_us")),
        "user_id")
      .filter(col("p_us") >= col("c_us") && col("p_us") <= col("c_us") + 21600000000L)
      .groupBy(expr("c_us div 1000000 div 3600 * 3600").as("hour_epoch"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("p_us") - col("c_us")).as("sum_delta_us"))
    assert(stream.except(batch).isEmpty && batch.except(stream).isEmpty,
      "streaming interval join must equal its batch form")
    stream.unpersist()
  }

  test("streaming IVF refresh == batch sequential refresh; segment ledger audited") {
    import org.apache.spark.sql.functions._
    val stream = StreamOps.streamIvfRefresh(s, TestSpark.sf).cache()
    assert(stream.count() > 0, "streamed store must answer the probe set")
    // the audit columns the rig pins: 3 committed segments (seed + one
    // per micro-batch), every deliberate replay a ledger no-op
    assert(stream.select(col("n_segments")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(3L), "n_segments must audit to 3")
    assert(stream.collect().forall(_.getAs[Boolean]("replay_was_noop")),
      "every deliberate re-commit must be a metadata no-op")
    // probe rows equal the BATCH sequential refresh's exactly
    val probe = stream.select(col("qid"), col("vid"), col("seg"),
      col("cosim"), col("rn"))
    val batch = graft.operators.Similarity.ivfRefreshSeq(s, TestSpark.sf)
    assert(probe.except(batch).isEmpty && batch.except(probe).isEmpty,
      "streamed store's probe must equal the batch q195 refresh")
    stream.unpersist()
    // layout contract (ADVICE r13): partition-dir-first from the seed —
    // exactly seg=0,1,2 directories, each carrying its _COMMITTED marker,
    // and NO loose data file at the table root (no flat/partitioned mix)
    val tbl = new java.io.File(
      graft.operators.Similarity.seqIvfStreamPath(TestSpark.sf), "assign")
    val entries = tbl.listFiles().map(_.getName).toSet
    assert(Set("seg=0", "seg=1", "seg=2").subsetOf(entries),
      s"expected seed + 2 streamed segment dirs, got $entries")
    assert(!entries.exists(_.endsWith(".parquet")),
      "table root must hold partition dirs only, never loose data files")
    Seq(0, 1, 2).foreach { k =>
      assert(new java.io.File(tbl, s"seg=$k/_COMMITTED").isFile,
        s"segment $k must carry its commit marker")
    }
  }

  test("ledger-aware compaction: content preserved, tombstones keep replays no-op, ledger keeps growing") {
    import org.apache.spark.sql.functions._
    val df = StreamOps.streamIvfCompact(s, TestSpark.sf).cache()
    assert(df.count() > 0, "compacted store must answer the probe set")
    assert(df.select(col("n_segments")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L),
      "a lossless collapse must leave exactly one data-bearing segment")
    assert(df.collect().forall(_.getAs[Boolean]("replay_after_compact")),
      "re-driving both micro-batch commits after compaction must be a no-op")
    // content untouched by the rewrite: probe rows equal the batch q195
    // refresh exactly (seg collapsed to 0 is the only difference)
    val probe = df.select(col("qid"), col("vid"), col("cosim"), col("rn"))
    val batch = graft.operators.Similarity.ivfRefreshSeq(s, TestSpark.sf)
      .select(col("qid"), col("vid"), col("cosim"), col("rn"))
    assert(probe.except(batch).isEmpty && batch.except(probe).isEmpty,
      "compacted probe must serve the pre-compaction rows")
    df.unpersist()
    // ledger layout: seg=0 carries data + marker; the pre-compaction
    // segments survive as tombstones — marker present, zero data files.
    // Under the warm convention q217 compacts a stamped COPY of the
    // shared streamed store (suffix _compacted), leaving the original
    // uncompacted for q215/q218 — the layout assertions read the copy.
    val path = StreamOps.compactedPath(
      graft.operators.Similarity.seqIvfStreamPath(TestSpark.sf))
    val tbl = new java.io.File(path, "assign")
    Seq(0, 1, 2).foreach { k =>
      assert(new java.io.File(tbl, s"seg=$k/_COMMITTED").isFile,
        s"segment $k's ledger entry must survive compaction")
    }
    Seq(1, 2).foreach { k =>
      val data = new java.io.File(tbl, s"seg=$k").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
      assert(data.isEmpty, s"tombstone seg=$k must carry no data files, got ${data.toSeq}")
    }
    // and the ledger keeps growing: a genuinely NEW segment still
    // commits exactly-once against the compacted store — on a scratch
    // COPY, so the warm q217 substrate stays a 3-entry ledger for later
    // probes in this process
    val scratch = path + "_growspec"
    graft.sources.IndexStore.copy(s, path, scratch)
    graft.sources.IndexStore.cleanupAtExit(scratch)
    val b1 = graft.operators.Similarity.seqArrivalBatches(s, TestSpark.sf).head._2
    val ((first, replay), _) =
      graft.operators.Similarity.seqIvfStreamCommit(s, TestSpark.sf, scratch, 3L, b1)
    assert(first == 1 && replay == 0, "a new segment must commit exactly-once post-compaction")
    assert(graft.sources.IndexStore.committedSegments(s, scratch, "assign", "seg")
      == Seq(0L, 1L, 2L, 3L))
  }

  test("streamed-store as-of: horizon prunes the segment DIRECTORY from planning; legs differ") {
    import org.apache.spark.sql.functions._
    val df = StreamOps.streamIvfAsOf(s, TestSpark.sf).cache()
    val full = df.filter(col("horizon") === "full")
    val asof = df.filter(col("horizon") === "asof1")
    assert(full.count() > 0 && asof.count() > 0, "both horizons must answer")
    // the full leg is exactly the batch q195 refresh's ranking
    val probeCols = Seq(col("qid"), col("vid"), col("seg"), col("cosim"), col("rn"))
    val batch = graft.operators.Similarity.ivfRefreshSeq(s, TestSpark.sf)
    assert(full.select(probeCols: _*).except(batch).isEmpty &&
      batch.except(full.select(probeCols: _*)).isEmpty,
      "full horizon must equal the batch sequential refresh")
    // the horizon leg serves only pre-batch-2 rows, and the horizons
    // genuinely differ (the segment-2 cosine-1 copies outrank someone)
    assert(asof.filter(col("seg") >= 2 || col("vid") >= 200000L).isEmpty,
      "as-of leg must never surface a segment-2 row")
    assert(asof.select(probeCols: _*).except(full.select(probeCols: _*)).count() > 0,
      "horizons must differ by construction on this fixture")
    df.unpersist()
    // the load-bearing claim: the as-of READ's file index never lists
    // the pruned segment's directory — planning-time pruning, not a
    // data-plane filter over every file
    val path = graft.operators.Similarity.seqIvfStreamPath(TestSpark.sf)
    val l = graft.operators.Similarity.SeqIvfLedger
    val asofFiles = l.read(s, path, "assign", l.asOf(s, path, 1L)).inputFiles
    assert(asofFiles.nonEmpty && asofFiles.forall(!_.contains("seg=2")),
      "horizon read must not list seg=2 files")
    val fullFiles = l.read(s, path, "assign", l.visible(s, path)).inputFiles
    assert(fullFiles.exists(_.contains("seg=2")),
      "full read must still see the streamed segment")
  }

  test("q258 mixing admission: decisions are batch-partitioning independent and re-runs land identical rollups") {
    import org.apache.spark.sql.functions._
    import graft.Engine._
    val dir = TestSpark.sf
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // a decision is a pure function of (doc, frozen store): screening the
    // whole arrival set in one batch == screening the two staged halves
    // separately — the property that makes streaming == batch hold for
    // ANY micro-batch partitioning
    val arrivals = graft.operators.ScaleOps.mixArrivalBatch(s, dir)
    val whole = graft.operators.ScaleOps.mixAdmitBatch(s, dir, arrivals)
    val split = graft.operators.ScaleOps
      .mixAdmitBatch(s, dir, arrivals.filter(col("doc_id") % 2 === 0))
      .unionByName(graft.operators.ScaleOps
        .mixAdmitBatch(s, dir, arrivals.filter(col("doc_id") % 2 === 1)))
    assert(rows(whole) == rows(split),
      "admission decisions must not depend on micro-batch partitioning")
    // the mechanism demonstrably does something on the fixture: the
    // exact-copy leg is screened out and the lottery admits a nonzero
    // fresh mass (the q253 spec's strictness convention)
    val d = whole.groupBy().agg(
      sum(when(col("decision") === "dup", 1L).otherwise(0L)),
      sum(when(col("decision") === "admit", 1L).otherwise(0L))).collect()(0)
    assert(d.getLong(0) > 0L, "the dup screen must reject the injected copies")
    assert(d.getLong(1) > 0L, "the lottery must admit some fresh arrivals")
    // the rig end-to-end twice: the second run (fresh checkpoint, same
    // frozen policy store) must reproduce the rollup exactly — replayed
    // batchId-scoped decision logs are content no-ops
    val r1 = rows(StreamOps.streamMixAdmission(s, dir))
    assert(r1.nonEmpty && r1 == rows(StreamOps.streamMixAdmission(s, dir)),
      "a re-run against the frozen policy must land identical decisions")
  }
}
