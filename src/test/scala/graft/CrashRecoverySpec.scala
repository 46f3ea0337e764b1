package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Crash-recovery proof for the exactly-once claims.
  *
  * q150/q159/q177 prove REPLAY idempotence by deliberately double-calling
  * the committed sink; none of them kills a writer mid-batch. This spec
  * does: the stream's foreachBatch lands its side effect (a ledgered
  * snapshot commit) for batch N+1 and then dies BEFORE Structured
  * Streaming records that batch in the checkpoint's commit log — exactly
  * the window where an executor OOM or a node loss strands a half-done
  * trigger in production. The restart (same checkpoint) must re-run batch
  * N+1 with the same batchId, hit the ledger, add NO second version, and
  * finish the remaining batches — landing the identical result an
  * uninterrupted run produces.
  *
  * This is the recovery contract Spark documents (a failed batch is
  * retried with the same batchId from the write-ahead offset log) plus
  * the part Spark does NOT give for free and the Snapshots ledger does:
  * the retried batch's side effect must be idempotent.
  */
class CrashRecoverySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val base = s"target/tmp/crashrec_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Stage one slice as a single pinned-name parquet file (mtime ordered). */
  private def stage(sd: String, df: DataFrame, name: String, mtime: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    val tmp = s"$sd/.stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
    val dest = new org.apache.hadoop.fs.Path(s"$sd/$name.parquet")
    fs.rename(part, dest)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.setTimes(dest, mtime, -1)
  }

  test("a writer killed after its commit lands but before the checkpoint records it recovers exactly-once") {
    Engine.tune(s)
    val rows = Engine.table(s, TestSpark.sf, "orders")
      .select(col("o_orderkey").cast("long").as("okey"))
    val expected = rows.agg(count(lit(1)), sum("okey")).head()

    val srcDir = s"$base/src"
    val t0 = 1000000000000L
    stage(srcDir, rows.filter(col("okey") % 3 === 0), "b0", t0)
    stage(srcDir, rows.filter(col("okey") % 3 === 1), "b1", t0 + 600000L)
    stage(srcDir, rows.filter(col("okey") % 3 === 2), "b2", t0 + 1200000L)

    val lake = s"$base/lake"
    val ck = s"$base/ck"
    val schema = rows.schema
    // crash exactly once, on the FIRST attempt of batch 1, AFTER the
    // side effect committed — the stream dies with batch 1 absent from
    // the checkpoint commit log but present in the lake's ledger
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            graft.sources.Snapshots.commitIfAbsent(
              batch, lake, append = true, "batchId", batchId.toString)
            if (batchId == 1L && crashed.compareAndSet(false, true))
              throw new RuntimeException("injected crash after commit, before checkpoint")
          }
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    val firstAttempt = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(firstAttempt.getMessage.contains("injected crash"),
      s"the injected mid-batch kill must be what stopped the stream: $firstAttempt")
    assert(crashed.get(), "the crash hook never fired")
    // the stranded state this spec exists to create: batch 1's side
    // effect is durable, but the checkpoint does not know batch 1 ran
    val strandedVersions = graft.sources.Snapshots.latestVersion(s, lake)
    assert(strandedVersions == 2L,
      s"expected batches 0+1 committed to the lake at crash time, got $strandedVersions versions")

    run() // restart from the SAME checkpoint: batch 1 replays, then batch 2

    val versions = graft.sources.Snapshots.latestVersion(s, lake)
    assert(versions == 3L,
      s"the replayed batch must be a ledger no-op (3 versions for 3 batches), got $versions")
    val got = graft.sources.Snapshots.read(s, lake)
      .agg(count(lit(1)), sum("okey")).head()
    assert(got == expected,
      s"recovered lake must equal the uninterrupted source: got $got expected $expected")
  }

  test("a stateful windowed aggregation resumes from checkpointed state across a restart") {
    Engine.tune(s)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val ev = Engine.table(s, TestSpark.sf, "events")
      val schema = ev.schema
      val srcDir = s"$base/state_src"
      val ck = s"$base/state_ck"
      val t0 = 1000000000000L
      // slice by USER, not by time: every hourly window mixes users from
      // all three files, so the restarted run's windows are correct ONLY
      // if the first run's partial per-window state was recovered from
      // the (RocksDB) checkpoint rather than recounted from scratch
      stage(srcDir, ev.filter(col("user_id") % 3 === 0), "b0", t0)

      def run(tag: String): String = {
        val qname = s"crashrec_state_$tag"
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        val q = src
          .withColumn("et", Engine.tsEventTime(ev))
          .withWatermark("et", "1 hour")
          .groupBy(window(col("et"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").cast("long").as("hour_epoch"),
            col("event_type"), col("n"))
          .writeStream.format("memory").queryName(qname)
          .option("checkpointLocation", ck)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        qname
      }

      run("a") // processes only the first slice, stops cleanly
      stage(srcDir, ev.filter(col("user_id") % 3 === 1), "b1", t0 + 600000L)
      stage(srcDir, ev.filter(col("user_id") % 3 === 2), "b2", t0 + 1200000L)
      val qname = run("b") // resumes from the checkpoint, consumes the rest

      val got = s.table(qname)
        .orderBy("hour_epoch", "event_type")
        .collect().map(_.toSeq).toSeq
      val want = ev
        .withColumn("et", Engine.tsEventTime(ev))
        .groupBy(window(col("et"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("hour_epoch"),
          col("event_type"), col("n"))
        .orderBy("hour_epoch", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(got == want,
        s"windows spanning the restart must equal the batch aggregation " +
          s"(state recovered, not recounted): got ${got.size} rows, want ${want.size}")
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("tagged-segment ledger: commit-once, replay no-op, crash-partial invisible then healed") {
    import graft.sources.IndexStore
    Engine.tune(s)
    val store = s"$base/segledger"
    import s.implicits._
    def seg(n: Int) = (1 to 3).map(i => (n * 10L + i, s"v$n")).toDF("id", "tag")

    // fresh commit: writes + markers, returns true
    assert(IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", 0L, seg(0)))
    assert(IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", 1L, seg(1)))
    assert(IndexStore.committedSegments(s, store, "t", "seg") == Seq(0L, 1L))

    // replay: marker present -> false, and NOTHING rewritten (the data
    // files' mtimes are untouched — a pure metadata check)
    val segDir = new java.io.File(s"$store/t/seg=1")
    val before = segDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(!IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", 1L, seg(1)))
    val after = segDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(before == after, "a replayed commit must not touch the segment's files")

    // crash mid-write: a partial segment (files, no marker) — including a
    // TORN parquet footer — is invisible to marker-gated readers, whose
    // explicit-path load never opens the partial's files
    seg(2).write.mode("overwrite").parquet(s"$store/t/seg=2")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$store/t/seg=2/torn-footer.parquet"),
      "PAR1garbage".getBytes)
    assert(IndexStore.committedSegments(s, store, "t", "seg") == Seq(0L, 1L),
      "an unmarkered segment is not committed")
    val visible = IndexStore.readSegments(s, store, "t", "seg",
      IndexStore.committedSegments(s, store, "t", "seg"))
    assert(visible.count() == 6L, "reader must see exactly the committed segments")
    assert(visible.select("seg").distinct().collect().map(_.getInt(0)).toSet == Set(0, 1))

    // the recovery retry: marker absent -> overwrite replaces the partial
    // (torn file gone, not duplicated beside), marker lands, returns true
    assert(IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", 2L, seg(2)))
    assert(!new java.io.File(s"$store/t/seg=2/torn-footer.parquet").exists(),
      "the healed segment must replace the crash partial wholesale")
    assert(IndexStore.readSegments(s, store, "t", "seg",
      IndexStore.committedSegments(s, store, "t", "seg")).count() == 9L)

    // layout guard: flat segment compaction refuses a partition-dir store
    // rather than flattening it and dropping the markers
    IndexStore.writeStamp(s, store, "test")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.compactSeqSegments(s, store, "t", Seq("id"), Seq("id"))
    }
    assert(e.getMessage.contains("partition-dir layout"))
  }

  test("cross-table ledger: a segment torn between two tables is invisible everywhere until replay heals it") {
    import graft.sources.IndexStore
    Engine.tune(s)
    val store = s"$base/xtable"
    import s.implicits._
    def seg(n: Int) = (1 to 3).map(i => (n * 10L + i, s"v$n")).toDF("id", "tag")
    val tables = Seq("a", "b")

    // seed: segment 0 committed in BOTH tables -> visible
    tables.foreach(t =>
      assert(IndexStore.appendSegmentIfAbsent(s, store, t, "seg", 0L, seg(0))))
    assert(IndexStore.commonCommittedSegments(s, store, tables, "seg") == Seq(0L))

    // crash BETWEEN the two tables' commits of segment 1: "a" committed,
    // "b" never reached — the q219 window. The segment must be invisible
    // in the cross-table view even though table "a" alone would serve it.
    assert(IndexStore.appendSegmentIfAbsent(s, store, "a", "seg", 1L, seg(1)))
    assert(IndexStore.committedSegments(s, store, "a", "seg") == Seq(0L, 1L),
      "per-table ledger sees its own commit")
    assert(IndexStore.commonCommittedSegments(s, store, tables, "seg") == Seq(0L),
      "a segment torn across tables must not be visible anywhere")
    val vis = IndexStore.commonCommittedSegments(s, store, tables, "seg")
    tables.foreach(t =>
      assert(IndexStore.readSegments(s, store, t, "seg", vis).count() == 3L,
        "the cross-table view serves only fully-committed segments"))

    // the recovering stream's replay: table "a" no-ops, table "b"
    // completes — the segment appears ATOMICALLY in the joint view
    assert(!IndexStore.appendSegmentIfAbsent(s, store, "a", "seg", 1L, seg(1)),
      "the completed table's replay must be a no-op")
    assert(IndexStore.appendSegmentIfAbsent(s, store, "b", "seg", 1L, seg(1)),
      "the straggler table's replay must complete the commit")
    assert(IndexStore.commonCommittedSegments(s, store, tables, "seg") == Seq(0L, 1L))
    tables.foreach(t =>
      assert(IndexStore.readSegments(s, store, t, "seg", Seq(0L, 1L)).count() == 6L))

    // readSegments refuses a segment the ledger has not committed — an
    // explicit-set reader cannot be talked into serving a crash partial
    val e = intercept[IllegalArgumentException] {
      IndexStore.readSegments(s, store, "b", "seg", Seq(0L, 2L))
    }
    assert(e.getMessage.contains("uncommitted"))
  }

  test("cross-table compaction: a crash between two tables' rewrites leaves the joint view intact") {
    import graft.sources.IndexStore
    Engine.tune(s)
    val store = s"$base/xcompact"
    import s.implicits._
    def seg(n: Int) = (1 to 3).map(i => (n * 10L + i, s"v$n")).toDF("id", "tag")
    val tables = Seq("a", "b")
    for (t <- tables; n <- 0 to 2)
      assert(IndexStore.appendSegmentIfAbsent(s, store, t, "seg", n.toLong, seg(n)))
    val vis0 = IndexStore.commonCommittedSegments(s, store, tables, "seg")
    assert(vis0 == Seq(0L, 1L, 2L))

    // the q220 crash window: compact ONLY table "a" — the process dies
    // before reaching "b". Per-table rewrites are independent swaps, so
    // the joint view must be unchanged: tombstones keep the ledger.
    IndexStore.compactSegmentLedger(s, store, "a", "seg", Seq("id"), Seq("id"))
    assert(IndexStore.commonCommittedSegments(s, store, tables, "seg") == Seq(0L, 1L, 2L),
      "tombstoned segments must stay committed in the joint ledger")
    val aRows = IndexStore.readSegments(s, store, "a", "seg", vis0)
    assert(aRows.count() == 9L, "the compacted table serves its full row set")
    assert(aRows.select(col("seg").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L),
      "compaction collapses every committed row under seg=0")
    assert(IndexStore.readSegments(s, store, "b", "seg", vis0).count() == 9L,
      "the not-yet-compacted table serves its full row set too")

    // a recovering stream's replay of a pre-compaction batch: metadata
    // no-op in BOTH the compacted and the uncompacted table
    tables.foreach(t =>
      assert(!IndexStore.appendSegmentIfAbsent(s, store, t, "seg", 2L, seg(2)),
        s"replay against table $t must hit the ledger"))

    // recovery completes the straggler's compaction; then a NEW segment
    // commits normally in both tables and joins the joint view
    IndexStore.compactSegmentLedger(s, store, "b", "seg", Seq("id"), Seq("id"))
    assert(IndexStore.readSegments(s, store, "b", "seg", vis0).count() == 9L)
    tables.foreach(t =>
      assert(IndexStore.appendSegmentIfAbsent(s, store, t, "seg", 3L, seg(3))))
    assert(IndexStore.commonCommittedSegments(s, store, tables, "seg") ==
      Seq(0L, 1L, 2L, 3L))
    assert(IndexStore.readSegments(s, store, "a", "seg", Seq(0L, 3L)).count() == 12L)
  }

  test("scoped compaction keeps a cross-table-torn segment out of the visible rows") {
    import graft.sources.IndexStore
    Engine.tune(s)
    val store = s"$base/xtorncompact"
    import s.implicits._
    def seg(n: Int) = (1 to 3).map(i => (n * 10L + i, s"v$n")).toDF("id", "tag")
    val tables = Seq("a", "b")
    // segment 0 committed in both tables; segment 1 torn: committed in
    // "a" only (the crash window). Compaction runs on recovery BEFORE
    // the replay heals "b" — scoped to the joint visible set, it must
    // NOT fold the torn segment's rows into the visible segment.
    tables.foreach(t =>
      assert(IndexStore.appendSegmentIfAbsent(s, store, t, "seg", 0L, seg(0))))
    assert(IndexStore.appendSegmentIfAbsent(s, store, "a", "seg", 1L, seg(1)))
    val vis = IndexStore.commonCommittedSegments(s, store, tables, "seg")
    assert(vis == Seq(0L))
    IndexStore.compactSegmentLedger(s, store, "a", "seg", Seq("id"), Seq("id"),
      onlySegs = Some(vis))
    assert(IndexStore.commonCommittedSegments(s, store, tables, "seg") == Seq(0L),
      "the torn segment must stay invisible through compaction")
    assert(IndexStore.readSegments(s, store, "a", "seg", Seq(0L)).count() == 3L,
      "the visible segment must hold ONLY its own rows — no torn-row fold-in")
    assert(IndexStore.committedSegments(s, store, "a", "seg") == Seq(0L, 1L),
      "the torn segment must survive compaction as its own ledger entry")
    assert(IndexStore.readSegments(s, store, "a", "seg", Seq(1L)).count() == 3L,
      "the torn segment's rows must be carried through, not dropped")
    // the recovering replay completes "b" and the segment appears whole
    assert(!IndexStore.appendSegmentIfAbsent(s, store, "a", "seg", 1L, seg(1)))
    assert(IndexStore.appendSegmentIfAbsent(s, store, "b", "seg", 1L, seg(1)))
    assert(IndexStore.commonCommittedSegments(s, store, tables, "seg") == Seq(0L, 1L))
    tables.foreach(t =>
      assert(IndexStore.readSegments(s, store, t, "seg", Seq(0L, 1L)).count() == 6L))
    // and the forged-marker hazard: a store committed at {5} compacts
    // into partCol=5 (its own smallest id), never a fabricated 0
    val st2 = s"$base/xmin"
    assert(IndexStore.appendSegmentIfAbsent(s, st2, "t", "seg", 5L, seg(5)))
    IndexStore.compactSegmentLedger(s, st2, "t", "seg", Seq("id"), Seq("id"))
    assert(IndexStore.committedSegments(s, st2, "t", "seg") == Seq(5L),
      "compaction must not forge a ledger entry for an uncommitted id")
    assert(IndexStore.appendSegmentIfAbsent(s, st2, "t", "seg", 0L, seg(0)),
      "a first commit of id 0 after compaction must still write")
  }

  test("ledger compaction heals crash leftovers at every swap stage and keeps the ledger") {
    import graft.sources.IndexStore
    Engine.tune(s)
    val store = s"$base/segledgercpt"
    import s.implicits._
    def seg(n: Int) = (1 to 3).map(i => (n * 10L + i, s"v$n")).toDF("id", "tag")
    (0 to 2).foreach(n =>
      assert(IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", n.toLong, seg(n))))

    // crash MID-STAGE: a half-written tmp from a dead compactor must be
    // swept at entry, never merged into the fresh rewrite
    val tmp = new java.io.File(s"$store/.t.compacting")
    assert(tmp.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp.getPath, "junk"), "x".getBytes)
    IndexStore.compactSegmentLedger(s, store, "t", "seg", Seq("id"), Seq("id"))
    assert(!tmp.exists(), "stale tmp must be gone after a successful compaction")
    val cpt = IndexStore.readSegments(s, store, "t", "seg",
      IndexStore.committedSegments(s, store, "t", "seg"))
    assert(cpt.count() == 9L, "compaction must keep every committed row")
    assert(cpt.select("seg").distinct().collect().map(_.getInt(0)).toSeq == Seq(0),
      "all rows collapse to seg=0")
    assert(IndexStore.committedSegments(s, store, "t", "seg") == Seq(0L, 1L, 2L),
      "tombstone markers must preserve the full ledger")
    assert(!IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", 1L, seg(1)),
      "a pre-compaction batch's replay must stay a no-op")

    // crash MID-SWAP: live renamed to bak, then death — bak is the ONLY
    // copy; the next compactor's entry recovery must restore it before
    // doing anything else
    val live = new java.io.File(s"$store/t")
    val bak = new java.io.File(s"$store/.t.precompact")
    assert(live.renameTo(bak), "simulated mid-swap crash")
    IndexStore.compactSegmentLedger(s, store, "t", "seg", Seq("id"), Seq("id"))
    assert(IndexStore.readSegments(s, store, "t", "seg",
      IndexStore.committedSegments(s, store, "t", "seg")).count() == 9L,
      "recovery must restore the backed-up table, then compact it")
    assert(IndexStore.committedSegments(s, store, "t", "seg") == Seq(0L, 1L, 2L))

    // crash POST-SWAP: a stale bak beside a live table is garbage from a
    // run that died after its swap completed — dropped, live untouched
    assert(bak.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bak.getPath, "junk"), "x".getBytes)
    IndexStore.compactSegmentLedger(s, store, "t", "seg", Seq("id"), Seq("id"))
    assert(!bak.exists(), "stale bak must be dropped")
    assert(IndexStore.readSegments(s, store, "t", "seg",
      IndexStore.committedSegments(s, store, "t", "seg")).count() == 9L)
  }

  test("writer contention: racing same-segment commits linearize — one writer, no torn mix") {
    import graft.sources.IndexStore
    Engine.tune(s)
    import s.implicits._
    val store = s"$base/segrace"
    // the documented-but-previously-untested two-streams case (VERDICT
    // r14 item 6): N same-process writers race ONE fresh segment with
    // DISTINGUISHABLE payloads. The per-segment JVM lock linearizes
    // them: exactly one writes + commits, the rest observe the marker
    // and no-op — and the stored rows are exactly ONE writer's frame,
    // never an interleaving of two writers' files.
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val futs = (0 until n).map { w =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val payload = (1 to 5).map(i => (i.toLong, s"writer$w")).toDF("id", "who")
          gate.await()
          if (IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", 7L, payload))
            wins.incrementAndGet(): Unit
        }
      })
    }
    gate.countDown()
    futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(wins.get == 1, s"exactly one racing writer must win, got ${wins.get}")
    val rows = IndexStore.readSegments(s, store, "t", "seg",
      IndexStore.committedSegments(s, store, "t", "seg")).collect()
    assert(rows.length == 5, "the committed segment must be exactly one payload")
    assert(rows.map(_.getString(1)).distinct.length == 1,
      "the stored rows must come from a single writer — no torn mix of files")
    // the loser's later replay is still the metadata no-op
    assert(!IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", 7L,
      Seq((9L, "late")).toDF("id", "who")))
  }

  test("reader concurrent with compaction tombstoning sees only complete committed views") {
    import graft.sources.IndexStore
    Engine.tune(s)
    import s.implicits._
    val store = s"$base/segreadrace"
    def seg(v: Int) = (1 to 40).map(i => (v * 100L + i, s"s$v")).toDF("id", "tag")
    (0 to 2).foreach(v => assert(
      IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", v.toLong, seg(v))))
    IndexStore.writeStamp(s, store, "test")
    val want = IndexStore.readSegments(s, store, "t", "seg",
      IndexStore.committedSegments(s, store, "t", "seg"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // a reader loops through the compaction window: every read that
    // SUCCEEDS must return the full committed row-set (compaction
    // preserves content, so old view == new view == want); a read that
    // catches the swap mid-rename may fail transiently — allowed, and
    // the LIMIT of the store's documented guarantee (IndexStore's
    // scaladoc: the swap window can strand concurrent readers; callers
    // retry or serialize) — but a partial/torn row-set is never allowed.
    // This test therefore pins "succeed-means-complete", not
    // "always-succeed": a regression that made every in-window read
    // fail would pass here and is accepted by the documented contract.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val got = IndexStore.readSegments(s, store, "t", "seg",
            IndexStore.committedSegments(s, store, "t", "seg"))
            .select("id").collect().map(_.getLong(0)).sorted.toSeq
          reads.incrementAndGet()
          if (got != want)
            torn.compareAndSet(null, s"read ${got.size} rows, want ${want.size}"): Unit
        } catch { case _: Throwable => () } // transient swap-window failure: allowed
      }
    })
    reader.start()
    try IndexStore.compactSegmentLedger(s, store, "t", "seg", Seq("id"), Seq("id"))
    finally { Thread.sleep(100); stop.set(true); reader.join(30000) }
    assert(torn.get == null, s"concurrent reader saw a torn view: ${torn.get}")
    assert(reads.get > 0, "the concurrent reader must have completed at least one read")
    // post-compaction: ledger intact (tombstones answer committed), rows preserved
    assert(IndexStore.committedSegments(s, store, "t", "seg") == Seq(0L, 1L, 2L))
    val after = IndexStore.readSegments(s, store, "t", "seg",
      IndexStore.committedSegments(s, store, "t", "seg"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == want, "compaction must preserve the committed row-set")
  }

  test("replaceTable killed between its two renames: the reader heals and serves, the next replace self-heals") {
    // VERDICT r15 item 1: the swap is rename-aside (live -> .old, tmp ->
    // live, drop .old), so the kill window between the renames leaves
    // the ONLY copy under the fixed bak name — previously (delete-then-
    // rename) this window left the table GONE with no self-heal path.
    import s.implicits._
    val store = s"$base/tswap"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    def rows(n: Long) = (1L to n).map(i => (i, s"v$i")).toDF("id", "v")
    graft.sources.IndexStore.write(s, store, "tswapspec", Seq("t" -> rows(3)))
    // simulate the kill: live renamed aside, staged tmp left behind —
    // exactly the state a crash between the two renames leaves
    val live = new org.apache.hadoop.fs.Path(s"$store/t")
    val bak = new org.apache.hadoop.fs.Path(s"$store/.t.old")
    rows(5).write.parquet(s"$store/.t_building_deadwriter")
    assert(fs.rename(live, bak), "test setup: simulate crash window")
    // 1) the READER self-heals: serves the OLD rows (never nothing)
    val got = graft.sources.IndexStore.read(s, store, "t").count()
    assert(got == 3L, s"mid-swap crash: reader must heal and serve old data, got $got rows")
    assert(!fs.exists(bak), "the heal must consume the bak copy")
    // 2) the NEXT replace self-heals from the same window and completes
    assert(fs.rename(live, bak), "re-open the window")
    graft.sources.IndexStore.replaceTable(s, store, "t", rows(7))
    assert(graft.sources.IndexStore.read(s, store, "t").count() == 7L,
      "the next replace must heal the window and land the new table")
    assert(!fs.exists(bak) && fs.exists(live), "post-replace: live present, no bak")
    // other tables and the stamp were never touched
    assert(graft.sources.IndexStore.readStamp(s, store).contains("tswapspec"))
  }

  test("a whole-store write killed between its renames: the aside copy heals at the stamp gate") {
    // r16: IndexStore.write is rename-aside too (live -> .old, tmp ->
    // live, drop .old). The kill window between the renames leaves the
    // only copy under the fixed aside name; isCurrent/readStamp — the
    // build-if-stale gate every consumer passes through — restore it.
    import s.implicits._
    val store = s"$base/swrite"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    graft.sources.IndexStore.write(s, store, "v1", Seq("t" -> (1L to 3L).toDF("id")))
    // simulate the kill: live taken aside, a staged tmp left behind
    val live = new org.apache.hadoop.fs.Path(store)
    val bak = new org.apache.hadoop.fs.Path(s"$base/.swrite_old")
    assert(fs.rename(live, bak), "test setup: open the kill window")
    val deadTmp = new org.apache.hadoop.fs.Path(s"$base/.swrite_building_dead")
    fs.mkdirs(deadTmp)
    // writer-in-flight guard (ADVICE r16): while the staging dir is
    // FRESH the gate must NOT heal — a reader racing a LIVE writer's
    // two-rename window would otherwise restore the aside copy and
    // fail the writer's rename(tmp, live). The gate defers (stale
    // verdict, aside intact) instead.
    assert(!graft.sources.IndexStore.isCurrent(s, store, "v1"),
      "a fresh staging dir marks a writer in flight: the gate must defer")
    assert(fs.exists(bak), "deferred heal must leave the aside copy intact")
    // age the staging dir past the in-flight window: the writer is dead,
    // the gate heals
    fs.setTimes(deadTmp,
      System.currentTimeMillis() - graft.sources.IndexStore.SwapInFlightMs - 1000L, -1)
    // the stamp gate heals: the OLD store is back and validates
    assert(graft.sources.IndexStore.isCurrent(s, store, "v1"),
      "mid-swap crash: the gate must restore the aside copy")
    assert(graft.sources.IndexStore.read(s, store, "t").count() == 3L)
    assert(!fs.exists(bak))
    // a post-swap crash (stale aside beside a complete new store): the
    // gate drops the garbage and the NEW store serves
    graft.sources.IndexStore.write(s, store, "v2", Seq("t" -> (1L to 5L).toDF("id")))
    fs.mkdirs(bak)
    assert(graft.sources.IndexStore.isCurrent(s, store, "v2"))
    assert(!fs.exists(bak), "stale aside must be dropped at the gate")
    assert(graft.sources.IndexStore.read(s, store, "t").count() == 5L)
    // a fresh write over the healed store completes and leaves no aside
    graft.sources.IndexStore.write(s, store, "v3", Seq("t" -> (1L to 7L).toDF("id")))
    assert(graft.sources.IndexStore.isCurrent(s, store, "v3")
      && graft.sources.IndexStore.read(s, store, "t").count() == 7L && !fs.exists(bak))
  }

  test("a branch copy is staged: the destination is never a torn, stamp-validating store") {
    // the q211/q212 compacted branches validate under the SOURCE's stamp,
    // and directory listings copy _STAMP before the table dirs — so an
    // unstaged copy crash left a torn destination that VALIDATED. The
    // staged copy's invariant: dst is absent, the old complete copy, or
    // the new complete copy; every kill window leaves a failing check.
    import s.implicits._
    val src = s"$base/cpsrc"
    val dst = s"$base/cpdst"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    graft.sources.IndexStore.write(s, src, "copyspec",
      Seq("t" -> (1L to 4L).toDF("id"), "u" -> (1L to 9L).toDF("id")))
    // kill window A: crash mid-stage — only a tag-unique tmp exists;
    // the destination path validates NOTHING
    val deadTmp = new org.apache.hadoop.fs.Path(s"$base/.cpdst_copying_dead")
    fs.mkdirs(deadTmp)
    assert(!graft.sources.IndexStore.isCurrent(s, dst, "copyspec"),
      "mid-stage crash: no destination, stamp check must fail (re-branch)")
    // the completed copy is whole and validates under the source stamp
    graft.sources.IndexStore.copy(s, src, dst)
    assert(graft.sources.IndexStore.isCurrent(s, dst, "copyspec"))
    assert(graft.sources.IndexStore.read(s, dst, "t").count() == 4L)
    assert(graft.sources.IndexStore.read(s, dst, "u").count() == 9L)
    assert(graft.sources.IndexStore.tableNames(s, dst) == Seq("t", "u"),
      "the copy carries exactly the source's tables")
    // kill window B: crash between the delete and the rename of a
    // RE-copy — destination absent again, stamp check fails, re-branch
    fs.delete(new org.apache.hadoop.fs.Path(dst), true)
    assert(!graft.sources.IndexStore.isCurrent(s, dst, "copyspec"))
    graft.sources.IndexStore.copy(s, src, dst)
    assert(graft.sources.IndexStore.isCurrent(s, dst, "copyspec"))
    // kill window C (r17, VERDICT r16 item 6): the RE-copy swap is
    // rename-aside like write/replaceTable — a crash between its two
    // renames leaves the OLD branch under the fixed aside name, healed
    // at the stamp gate (old-or-new, never absent). Simulate: old dst
    // taken aside, the copier's staged tmp left behind.
    val dstP = new org.apache.hadoop.fs.Path(dst)
    val cbak = new org.apache.hadoop.fs.Path(s"$base/.cpdst_old")
    val ctmp = new org.apache.hadoop.fs.Path(s"$base/.cpdst_copying_deadbrancher")
    fs.delete(deadTmp, true) // window A's fresh leftover would defer the heal
    assert(fs.rename(dstP, cbak), "test setup: open the copy kill window")
    fs.mkdirs(ctmp)
    // fresh staging dir = brancher possibly in flight: the gate defers
    assert(!graft.sources.IndexStore.isCurrent(s, dst, "copyspec"),
      "a fresh copy staging dir marks a brancher in flight: the gate must defer")
    assert(fs.exists(cbak), "deferred heal must leave the aside branch intact")
    // age it: the brancher is dead, the gate restores the OLD branch
    fs.setTimes(ctmp,
      System.currentTimeMillis() - graft.sources.IndexStore.SwapInFlightMs - 1000L, -1)
    assert(graft.sources.IndexStore.isCurrent(s, dst, "copyspec"),
      "copy kill window: the gate must restore the aside branch")
    assert(graft.sources.IndexStore.read(s, dst, "t").count() == 4L && !fs.exists(cbak))
    // and a completed re-copy over the healed branch leaves no aside
    graft.sources.IndexStore.copy(s, src, dst)
    assert(graft.sources.IndexStore.isCurrent(s, dst, "copyspec") && !fs.exists(cbak))
  }

  /** A ledgered streaming family as the ledger specs drive it: its
    * store's ledger, a fresh seed (returns the store path), its feed
    * batches, its commit, and its as-of read. */
  private case class LedgerCase(ledger: graft.sources.IndexStore.Ledger,
      seed: () => String, batches: () => Seq[(Int, DataFrame)],
      commit: (String, Long, DataFrame) => ((Int, Int), Map[String, Long]),
      asOf: String => DataFrame)

  private lazy val ledgerCases: Map[String, LedgerCase] = {
    import graft.operators.{ScaleOps, Search, Similarity}
    val sf = TestSpark.sf
    Map(
      "ivf" -> LedgerCase(Similarity.SeqIvfLedger,
        () => Similarity.seedSeqIvfStream(s, sf),
        () => Similarity.seqArrivalBatches(s, sf),
        Similarity.seqIvfStreamCommit(s, sf, _, _, _),
        Similarity.seqIvfStreamAsOfResult(s, _)),
      "search" -> LedgerCase(Search.StreamLedger,
        () => Search.seedStreamIndex(s, sf),
        () => Search.arrivalDocBatches(s, sf),
        Search.streamIndexCommit(s, _, _, _),
        Search.streamSearchAsOfResult(s, sf, _)),
      "knn" -> LedgerCase(Similarity.KnnStreamLedger,
        () => Similarity.seedKnnStream(s, sf, Engine.table(s, sf, "embeddings"))._1,
        () => Similarity.knnStreamFeedBatches(s, sf),
        Similarity.knnStreamCommit(s, _, _, _),
        Similarity.knnStreamAsOfResult(s, _)),
      "mixadm" -> LedgerCase(ScaleOps.MixAdmStreamLedger,
        () => ScaleOps.seedMixAdmStream(s, sf)._1,
        () => ScaleOps.seedMixAdmStreamBatches(s, sf),
        ScaleOps.mixAdmStreamCommit(s, _, _, _),
        ScaleOps.mixAdmStreamAsOfResult(s, sf, _)))
  }

  /** The full served state of a ledgered store: every data table's
    * masked view over the visible set, folded the way compaction folds
    * it (mixadm's count ledger as its per-source sum). */
  private def ledgerRows(l: graft.sources.IndexStore.Ledger, path: String): Seq[String] = {
    val v = l.view(s, path, l.visible(s, path))
    l.dataTables.flatMap { t =>
      l.fold.get(t).fold(v(t))(_(v(t))).collect().map(t + _.toString)
    }.sorted
  }

  /** A segment torn between two tables of a ledgered store: each
    * micro-batch commits across every table, and a crash between two
    * tables' commits must leave the whole segment invisible (no
    * half-applied feed is ever served) until the recovering replay —
    * which re-derives its frames from strictly OLDER segments, unchanged
    * by the crash — completes the stragglers with identical rows and the
    * segment appears atomically. */
  private def tornSegment(family: String, torn: String): Unit = {
    val c = ledgerCases(family)
    val l = c.ledger
    Engine.tune(s)
    val path = c.seed()
    val batch = c.batches().head._2.localCheckpoint()
    val ((first, replay), counts) = c.commit(path, 1L, batch)
    assert(first == l.names.size && replay == 0,
      s"fresh segment: expected (${l.names.size},0), got ($first,$replay)")
    assert(counts.get("n_feed_deletes").forall(_ > 0),
      "the fixture's delete slice must be non-empty")
    val want = ledgerRows(l, path)
    // tear the segment: drop ONE table's segment dir (crash between two
    // tables' first commits)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    val tornDir = new org.apache.hadoop.fs.Path(s"$path/$torn/${l.partCol}=1")
    assert(fs.delete(tornDir, true), s"test setup: tear the $torn table's segment")
    assert(l.visible(s, path) == Seq(0L),
      "a torn segment must be invisible in the cross-table view")
    val ((first2, replay2), _) = c.commit(path, 1L, batch)
    assert(first2 == 1 && replay2 == 0,
      s"replay must complete only the torn table: expected (1,0), got ($first2,$replay2)")
    assert(l.visible(s, path) == Seq(0L, 1L),
      "the healed segment must appear atomically")
    assert(ledgerRows(l, path) == want,
      "the healed view must equal the pre-tear view row-for-row")
  }

  test("kNN stream sync: a segment torn between two tables is invisible, the replay completes it with identical rows") {
    tornSegment("knn", "stale")
  }

  test("mixadm stream sync: a segment torn between two of the five tables is invisible, the replay completes it with identical rows") {
    tornSegment("mixadm", "cdelta")
  }

  test("search stream refresh: a segment torn between two of the four tables is invisible, the replay completes it with identical rows") {
    tornSegment("search", "dict")
  }

  Seq("ivf", "search", "knn", "mixadm").foreach { family =>
    test(s"ledger replay of a committed segment runs no Spark job ($family)") {
      // IndexStore.commitSegment's promise: a replay is marker stats
      // alone. Sentinel jobs bracket the replay so the (asynchronous)
      // listener bus has delivered every earlier job before counting
      // starts, and every replay job before counting stops.
      val c = ledgerCases(family)
      Engine.tune(s)
      val path = c.seed()
      // the raw feed frame, as a stream hands it over: any job the
      // replay ran on the batch itself would count
      val batch = c.batches().head._2
      assert(c.commit(path, 1L, batch)._1 == ((c.ledger.names.size, 0)))
      val sentinel = "ledger-replay-sentinel"
      val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          if (desc.exists(_.startsWith(sentinel))) seen.put(desc.get)
          else jobs.incrementAndGet(): Unit
        }
      }
      def flush(tag: String): Unit = {
        s.sparkContext.setJobDescription(s"$sentinel-$tag")
        try s.range(1).count() finally s.sparkContext.setJobDescription(null)
        // one action may run several jobs (AQE stages): skip to this tag
        Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .find(d => d == null || d == s"$sentinel-$tag")
          .foreach(d => assert(d != null, "listener bus did not deliver the sentinel job"))
      }
      def jobsDuring(body: => Unit): Int = {
        flush("before")
        jobs.set(0)
        body
        flush("after")
        jobs.get
      }
      s.sparkContext.addSparkListener(listener)
      try {
        var replayed: ((Int, Int), Map[String, Long]) = null
        val n = jobsDuring { replayed = c.commit(path, 1L, batch) }
        assert(replayed == (((0, 0), Map.empty)),
          s"replay must write nothing and report no counts, got $replayed")
        assert(n == 0, s"replay ran $n Spark job(s)")
        // the control: the same bracket does see a job
        assert(jobsDuring(s.range(100).repartition(4).count(): Unit) > 0)
      } finally s.sparkContext.removeSparkListener(listener)
    }
  }

  test("ledger view: a mask in segment N hides matching rows of older segments, never of N itself") {
    import s.implicits._
    import graft.sources.IndexStore
    val l = IndexStore.Ledger("segment",
      Seq(IndexStore.LedgerTable("t", "id"), IndexStore.LedgerTable("m", "mid")),
      masks = Seq(("m", "t", "id", "mid")))
    val store = s"$base/ledgerview"
    l.seed(s, store)(Seq(
      "t" -> Seq((Option(1L), "a0"), (Option(2L), "b0"), (Option(3L), "c0"), (None, "n0"))
        .toDF("id", "v"),
      "m" -> Seq.empty[Option[Long]].toDF("mid")))
    // segment 1 re-inserts id 1 beside the mask that hides its older row
    assert(l.commit(s, store, 1L)((Seq(
      "t" -> Seq((Option(1L), "a1"), (Option(4L), "d1")).toDF("id", "v"),
      "m" -> Seq(Option(1L)).toDF("mid")), Map.empty))._1 == ((2, 0)))
    // segment 2 masks id 4 (born in segment 1) and the null key, null-safe
    assert(l.commit(s, store, 2L)((Seq(
      "t" -> Seq.empty[(Option[Long], String)].toDF("id", "v"),
      "m" -> Seq(Option(4L), None).toDF("mid")), Map.empty))._1 == ((2, 0)))
    val vis = l.visible(s, store)
    assert(vis == Seq(0L, 1L, 2L))
    val view = l.view(s, store, vis)("t")
    assert(!view.columns.contains("segment"), "the view drops the partition column")
    assert(view.collect().map(_.toString).sorted.toSeq ==
      Seq("[1,a1]", "[2,b0]", "[3,c0]"),
      "segment 1's mask hides segment 0's id 1 but not its own; segment 2's hides id 4 and null")
    // the same rule at horizon 1: segment 2's masks are not yet drained
    assert(l.view(s, store, l.asOf(s, store, 1L))("t").collect().map(_.toString).sorted.toSeq ==
      Seq("[1,a1]", "[2,b0]", "[3,c0]", "[4,d1]", "[null,n0]"))
  }

  test("replaceTable killed after the swap, before the bak delete: stale bak is dropped, new data serves") {
    import s.implicits._
    val store = s"$base/tswap2"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    def rows(n: Long) = (1L to n).map(i => (i, s"v$i")).toDF("id", "v")
    graft.sources.IndexStore.write(s, store, "tswapspec2", Seq("t" -> rows(4)))
    // the post-swap window: live already holds the NEW table, the OLD
    // copy lingers under bak
    rows(2).write.parquet(s"$store/.t.old")
    // a plain read serves the new data (live exists: no heal needed)...
    assert(graft.sources.IndexStore.read(s, store, "t").count() == 4L)
    // ...and the next replace entry clears the stale bak before swapping
    graft.sources.IndexStore.replaceTable(s, store, "t", rows(6))
    assert(graft.sources.IndexStore.read(s, store, "t").count() == 6L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/.t.old")),
      "a completed replace leaves no bak behind")
  }

  /** The mask-folding compaction's worst crash window. The compaction
    * rewrites every table one atomic swap at a time; its two invariants
    * — folded rows park under the visible set's MAX id, data tables
    * swap before mask tables — exist exactly so the window between the
    * swaps serves the bit-identical view. `masksToo = false` stops the
    * compactor at the worst window (data folded, masks raw); the body
    * checks it, completes the fold and checks the rest. */
  private def compactionWindow(family: String, dataTable: String): Unit = {
    import graft.sources.IndexStore
    val c = ledgerCases(family)
    val l = c.ledger
    Engine.tune(s)
    val path = c.seed()
    val feed = c.batches().map { case (segId, b) => segId -> b.localCheckpoint() }
    feed.foreach { case (segId, b) =>
      val ((first, replay), _) = c.commit(path, segId.toLong, b)
      assert(first == l.names.size && replay == 0,
        s"fresh segment $segId: expected (${l.names.size},0), got ($first,$replay)")
    }
    val vis0 = l.visible(s, path)
    assert(vis0 == Seq(0L, 1L, 2L))
    val want = ledgerRows(l, path)

    // the worst window: data tables folded at the max id, masks still
    // raw. Fold-at-max makes the raw masks match nothing (they hide only
    // rows of STRICTLY older segments), so the view must not change.
    l.compact(s, path, masksToo = false)
    assert(l.visible(s, path) == vis0,
      "tombstones must keep every segment committed through the window")
    assert(ledgerRows(l, path) == want,
      "the half-compacted store must serve the bit-identical view")

    // recovery completes the fold (re-entering the data phase is
    // idempotent); masks now empty, view still identical
    assert(l.compact(s, path) == 2L)
    assert(ledgerRows(l, path) == want,
      "the fully compacted store must serve the bit-identical view")
    l.names.filterNot(l.dataTables.contains).foreach(t =>
      assert(l.read(s, path, t, vis0).count() == 0L, s"mask table $t must compact to empty"))
    assert(l.dataSegments(s, path, dataTable) == Seq(2L),
      s"folded rows must park under the set's MAX id")

    // a recovering stream's replay of both feed batches: metadata no-op
    feed.foreach { case (segId, b) =>
      val ((first, replay), _) = c.commit(path, segId.toLong, b)
      assert(first == 0 && replay == 0,
        s"replay of segment $segId after compaction must write nothing")
    }

    // horizons below the compaction point compact recorded refuse loudly
    val e = intercept[IllegalArgumentException](c.asOf(path))
    assert(e.getMessage.contains("compaction point"),
      s"as-of below the compaction point must name the refusal: ${e.getMessage}")

    // and the forged-ledger hazard: intoSeg outside the compacted set throws
    val lt = l.tables.find(_.name == dataTable).get
    val e2 = intercept[IllegalArgumentException] {
      IndexStore.compactSegmentLedger(s, path, dataTable, l.partCol,
        lt.sortCols, lt.rangeCols, onlySegs = Some(vis0), intoSeg = Some(99L))
    }
    assert(e2.getMessage.contains("forge"))
  }

  test("kNN stream compaction: the worst crash window (data folded, masks raw) serves the identical view; fold completes, replays no-op, old horizons refuse") {
    compactionWindow("knn", "edges")
  }

  test("mixadm stream compaction: the worst crash window (data folded, masks raw) serves the identical policy; fold completes, replays no-op, old horizons refuse") {
    compactionWindow("mixadm", "keys")
  }

  /** Every masked family's fold, with the query that builds its warm
    * masked store. */
  private lazy val maskFolds = {
    import graft.operators.{Dedup, ScaleOps, Search, Similarity}
    Map(
      "search" -> ("q231_masked_feed_sync", Search.maskSyncStore _, Search.SearchMaskFold),
      "vector" -> ("q232_masked_feed_sync_ann", Similarity.ivfMaskSyncStore _,
        Similarity.vecMaskFold(Similarity.IvfCells)),
      "pq" -> ("q233_masked_feed_sync_adc", Similarity.pqMaskSyncStore _,
        Similarity.vecMaskFold(Similarity.PqCodes)),
      "knn" -> ("q245_masked_feed_sync_knn", Similarity.knnMaskSyncStore _,
        Similarity.KnnMaskFold),
      "dedup" -> ("q234_masked_feed_sync_screen", Dedup.dedupMaskSyncStore _,
        Dedup.DedupMaskFold),
      "mixadm" -> ("q265_masked_mixadm_sync", ScaleOps.mixAdmMaskSyncStore _,
        ScaleOps.MixAdmMaskFold))
  }

  for (name <- Seq("search", "vector", "pq", "knn", "dedup", "mixadm"))
    test(s"mask fold killed between its table swaps ($name): the masked view holds, a re-run completes the fold") {
      // The fold swaps its tables one rename-aside replaceTable at a time
      // and drops the masks last. A kill after some swaps leaves folded
      // tables beside unfolded ones with every mask still present; since
      // a folded table keeps its segment column, the masks hide nothing
      // more in it, so the store must serve the identical masked view.
      import graft.sources.IndexStore
      Engine.tune(s)
      val (query, store, fold) = maskFolds(name)
      SparkEntry.queries(query)(s, TestSpark.sf).collect()
      val warm = store(s, TestSpark.sf)
      val path = s"$base/crashfold_$name"
      IndexStore.copy(s, warm, path)
      def rows(df: DataFrame): Seq[String] =
        df.select(df.columns.sorted.toIndexedSeq.map(col): _*).collect().map(_.toString).sorted.toSeq
      def view(): Map[String, Seq[String]] =
        fold.live(s, path).map { case (t, df) => t -> rows(df) }.toMap
      val want = view()
      assert(fold.masks.exists(IndexStore.tableNames(s, path).contains),
        "test setup: the warm store must carry masks")

      // the kill: the first half of the swaps landed, the masks never dropped
      val frames = fold.live(s, path).map { case (t, df) => t -> df.localCheckpoint() }
      frames.take((frames.size + 1) / 2).foreach { case (t, df) =>
        IndexStore.replaceTable(s, path, t, df)
      }
      assert(view() == want, "a half-folded store must serve the identical masked view")

      // the next fold completes it: masks gone, every table holds the view
      IndexStore.foldMasks(s, path, fold)
      fold.masks.foreach(m => assert(!IndexStore.tableNames(s, path).contains(m),
        s"the completed fold must drop mask table '$m'"))
      assert(view() == want, "the completed fold must serve the identical view")
      want.foreach { case (t, w) =>
        assert(rows(IndexStore.read(s, path, t)) == w,
          s"folded table '$t' must hold exactly the masked view's rows")
      }
    }

  test("stamped gate: a build that throws before its stamp leaves the store stale, the next call rebuilds") {
    import graft.sources.IndexStore
    import s.implicits._
    val store = s"$base/gate_throw"
    val e = intercept[IllegalStateException] {
      IndexStore.stamped(s, store, "g1") {
        IndexStore.write(s, store, "g1-building", Seq("t" -> (1L to 3L).toDF("id")))
        throw new IllegalStateException("killed before the stamp")
      }
    }
    assert(e.getMessage == "killed before the stamp")
    assert(!IndexStore.isCurrent(s, store, "g1"),
      "a build that died before writing its stamp must not validate")
    var builds = 0
    IndexStore.stamped(s, store, "g1") {
      builds += 1
      IndexStore.write(s, store, "g1", Seq("t" -> (1L to 5L).toDF("id")))
    }
    assert(builds == 1, "the next call must rebuild the stale store")
    assert(IndexStore.isCurrent(s, store, "g1") && IndexStore.read(s, store, "t").count() == 5L)
    IndexStore.stamped(s, store, "g1")(builds += 1)
    assert(builds == 1, "a current store must not rebuild")
  }

  test("stamped gate: two threads on one path run the build exactly once") {
    import graft.sources.IndexStore
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val store = s"$base/gate_once"
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          go.await()
          IndexStore.stamped(s, store, "once") {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the gate while the other caller arrives
            IndexStore.writeStamp(s, store, "once")
          }
        }
      }))
      go.countDown()
      futs.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(builds.get == 1, s"one path must build once, got ${builds.get} builds")
    assert(IndexStore.isCurrent(s, store, "once"))
  }

  test("stamped gate: a slow build on one path does not block a build on another") {
    import graft.sources.IndexStore
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val (a, b) = (s"$base/gate_slow_a", s"$base/gate_slow_b")
    val inA = new CountDownLatch(1)
    val releaseA = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val slow = pool.submit(new Runnable {
        def run(): Unit = IndexStore.stamped(s, a, "a") {
          inA.countDown()
          releaseA.await(60, TimeUnit.SECONDS)
          IndexStore.writeStamp(s, a, "a")
        }
      })
      assert(inA.await(60, TimeUnit.SECONDS), "test setup: the slow build must start")
      // B's build completes while A's is still inside its gate
      var builtB = false
      IndexStore.stamped(s, b, "b") {
        builtB = true
        IndexStore.writeStamp(s, b, "b")
      }
      assert(builtB && IndexStore.isCurrent(s, b, "b"))
      assert(!slow.isDone, "A's build must still be running: B did not wait on it")
      releaseA.countDown()
      slow.get(60, TimeUnit.SECONDS)
    } finally {
      releaseA.countDown()
      pool.shutdownNow()
    }
    assert(IndexStore.isCurrent(s, a, "a"))
  }

  test("workPath is process-unique and registered for removal at JVM exit") {
    import graft.sources.IndexStore
    val root = s"$base/work_kind"
    val path = IndexStore.workPath(root)
    assert(path.startsWith(root + "_") && path.length > root.length + 1,
      s"a work path must carry the process tag after its base, got $path")
    assert(IndexStore.workPath(root) == path, "one base maps to one path per process")
    assert(IndexStore.cleanupDirs.contains(path), "a work path must be reaped at JVM exit")
  }

  test("dedup takedown killed between its store swap and its bloom write: the branch fails its stamp, the next call serves it with a bloom") {
    import graft.operators.Dedup
    import graft.sources.IndexStore
    Engine.tune(s)
    val path = Dedup.takedownDedupBranch(s, TestSpark.sf)
    val stamp = IndexStore.readStamp(s, path).get
    val tables = Seq("digests", "sigs", "bands", "keys")
    // the kill: the erased tables swapped in under the build's staging
    // stamp, the bloom never written
    IndexStore.write(s, path, "takedown-building",
      tables.map(t => t -> IndexStore.read(s, path, t).localCheckpoint()))
    assert(!IndexStore.tableNames(s, path).contains("bloom"), "test setup: no bloom")
    assert(!IndexStore.isCurrent(s, path, stamp),
      "a branch without its bloom must fail its stamp")

    assert(Dedup.takedownDedupBranch(s, TestSpark.sf) == path)
    assert(IndexStore.isCurrent(s, path, stamp), "the next call must rebuild the branch")
    assert(IndexStore.tableNames(s, path) == (tables :+ "bloom").sorted)
    // the stamp lands last: a kill anywhere before it leaves the branch stale
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    val stampTime = fs.getFileStatus(new org.apache.hadoop.fs.Path(path, "_STAMP"))
      .getModificationTime
    val bloomTimes = fs.listStatus(new org.apache.hadoop.fs.Path(path, "bloom"))
      .map(_.getModificationTime)
    assert(bloomTimes.nonEmpty && bloomTimes.forall(_ <= stampTime),
      "the stamp must be written after the bloom")
    val bloom = graft.sources.IndexStore.loadBloom(s, path)
    val digests = IndexStore.read(s, path, "digests").select("tkey").collect().map(_.getString(0))
    assert(digests.nonEmpty && digests.forall(bloom.mightContainString),
      "the rebuilt bloom must cover every retained digest")
  }
}
