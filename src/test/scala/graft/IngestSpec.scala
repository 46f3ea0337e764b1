package graft

import graft.sources.{ChunkedIngest, Lake, Notifier, Pipeline, Storage}
import graft.streaming.IncrementalIngest
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The reference's reliability loop (C1/C2/C3/C5/C6/S4/S10) exercised
  * end-to-end: chunked writes with retry + dead-letter, landing-zone reset
  * with dotfile survival, notification gating, and exactly-once incremental
  * file ingestion across repeated runs.
  */
class IngestSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("chunked write: failed chunks retry smaller; poison rows dead-letter; totals conserve") {
    import s.implicits._
    val n = 1000
    val written: LongAccumulator = s.sparkContext.longAccumulator("written")
    val ds = s.range(0, n).as[Long].repartition(4)
    // the "REST endpoint": rejects any batch containing a poison row (id % 97 == 0)
    val dead = ChunkedIngest.chunkedWrite(ds, chunkSize = 100, retrySize = 1) { chunk =>
      if (chunk.exists(_ % 97 == 0)) throw new RuntimeException("rejected batch")
      written.add(chunk.size)
    }
    val deadRows = dead.collect().sorted
    val expectedPoison = (0L until n).filter(_ % 97 == 0)
    assert(deadRows.toSeq == expectedPoison)
    assert(written.value + deadRows.length == n) // rows_in == written + dead
  }

  test("chunked write: clean data writes everything, dead-letter empty") {
    import s.implicits._
    val written = s.sparkContext.longAccumulator("written2")
    val dead = ChunkedIngest.chunkedWrite(s.range(0, 500).as[Long], 128, 16) { c =>
      written.add(c.size)
    }
    assert(dead.count() == 0 && written.value == 500)
  }

  test("JDBC upsert: chunk rollback, smaller-chunk retry, poison dead-letter over a live store") {
    import graft.sources.JdbcUpsert
    import s.implicits._
    val url = "jdbc:derby:memory:ingestspec;create=true"
    // a real server-side rejection: the store's CHECK constraint is the
    // injected failure (the whole chunk's transaction must roll back)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("CREATE TABLE UPS (id BIGINT PRIMARY KEY, amt DOUBLE CHECK (amt >= 0))")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => st.execute("DELETE FROM UPS"): Unit }
      st.close()
    } finally conn.close()
    val n = 1000
    val df = s.range(0, n)
      .select(col("id"), org.apache.spark.sql.functions.when(col("id") % 97 === 0, -1.0d)
        .otherwise(col("id").cast("double")).as("amt"))
      .repartition(4)
    val dead = JdbcUpsert.upsert(df, url, "UPS", Seq("id"), chunkSize = 100, retrySize = 1)
      .collect().map(_.getLong(0)).sorted
    val expectedPoison = (0L until n).filter(_ % 97 == 0)
    assert(dead.toSeq == expectedPoison, "exactly the constraint-violating rows dead-letter")
    def q(sql: String): Long = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val rs = c.createStatement().executeQuery(sql); rs.next(); rs.getLong(1) }
      finally c.close()
    }
    // conservation against the live store: rows_in == stored + dead, and a
    // failed chunk left no partial rows (every surviving id is non-poison)
    assert(q("SELECT COUNT(*) FROM UPS") == n - expectedPoison.length)
    assert(q("SELECT COUNT(*) FROM UPS WHERE amt < 0") == 0L)
    // idempotence + update-wins: re-upserting shifted values changes rows
    // in place, never duplicates keys
    val shifted = s.range(0, n).filter(col("id") % 97 =!= 0)
      .select(col("id"), (col("id") + 0.5d).as("amt"))
    assert(JdbcUpsert.upsert(shifted, url, "UPS", Seq("id"), 100, 10).count() == 0)
    assert(q("SELECT COUNT(*) FROM UPS") == n - expectedPoison.length)
    assert(q("SELECT COUNT(*) FROM UPS WHERE amt = id + 0.5") == n - expectedPoison.length)
  }

  test("JDBC upsert: duplicate key split across input partitions cannot race the insert window") {
    import graft.sources.JdbcUpsert
    val url = "jdbc:derby:memory:ingestspec_dup;create=true"
    val schema0 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("amt", org.apache.spark.sql.types.DoubleType)))
    JdbcUpsert.ensureTable(url, "DUP", schema0, Seq("id"))
    // the same key in BOTH input partitions: without the key-repartition
    // inside upsert, both partitions can observe UPDATE count 0 and both
    // INSERT — a PK violation that burns the rollback-retry path. With
    // retrySize == chunkSize the retry CANNOT self-heal (a violating chunk
    // retries at the same size, fails identically, and dead-letters), so
    // dead == 0 proves no PK violation ever happened: the repartition
    // co-located the copies and the within-chunk last-writer-wins collapse
    // absorbed them.
    val rows = (0L until 50L).map(i => org.apache.spark.sql.Row(i, i.toDouble))
    // 4 explicit slices: each key's two copies land 2 slices apart
    val df = s.createDataFrame(s.sparkContext.parallelize(rows ++ rows, 4), schema0)
    assert(df.rdd.getNumPartitions == 4, "fixture must start key-split across partitions")
    val deadDf = JdbcUpsert.upsert(df, url, "DUP", Seq("id"), chunkSize = 10, retrySize = 10)
    // the co-location is structural, not timing luck: the sink's plan must
    // carry the internal hash-repartition on the upsert keys
    assert(deadDf.queryExecution.optimizedPlan.toString.contains("RepartitionByExpression"),
      s"upsert must repartition on keys:\n${deadDf.queryExecution.optimizedPlan}")
    assert(deadDf.count() == 0, "duplicate keys must be absorbed, not raced into the retry path")
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*), COUNT(DISTINCT id) FROM DUP")
      rs.next()
      assert(rs.getLong(1) == 50L && rs.getLong(2) == 50L, "exactly one stored row per key")
    } finally c.close()
  }

  test("landing-zone reset deletes files in batches but spares dotfiles (S10/C6/P5)") {
    val dir = Files.createTempDirectory("graft_landing")
    (1 to 45).foreach(i => Files.writeString(dir.resolve(s"file_$i.csv"), "x"))
    Files.writeString(dir.resolve(".keep"), "x")
    val deleted = Storage.resetLandingZone(s, dir.toString, batchSize = 20)
    assert(deleted == 45)
    val left = Files.list(dir).toArray.map(_.toString)
    assert(left.length == 1 && left(0).endsWith(".keep"))
  }

  test("compaction rewrites many small files into few, preserving rows") {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_compact").resolve("t").toString
    // 24 micro-batch-sized files
    s.range(0, 2400).select(col("id"), (col("id") * 2).as("v"))
      .repartition(24).write.mode("overwrite").parquet(dir)
    val before = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(before == 24)
    val sumBefore = s.read.parquet(dir).agg(sum("v")).collect()(0).getLong(0)
    Storage.compact(s, dir, targetBytes = 1024L * 1024)
    val after = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(after < before, s"expected fewer files, got $after")
    assert(s.read.parquet(dir).count() == 2400)
    assert(s.read.parquet(dir).agg(sum("v")).collect()(0).getLong(0) == sumBefore)
  }

  test("compaction recovers from a crashed prior run's stale bak/tmp dirs") {
    import s.implicits._
    val parent = Files.createTempDirectory("graft_compact_crash")
    val dir = parent.resolve("t").toString
    s.range(0, 100).select(col("id"), (col("id") * 3).as("v"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    val sum0 = s.read.parquet(dir).agg(sum("v")).collect()(0).getLong(0)
    // crash scenario A: prior run died between the two swap renames — the
    // live data sits in .t_old and `dir` is gone; compact must restore it
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), s.sparkContext.hadoopConfiguration)
    val path = new org.apache.hadoop.fs.Path(dir)
    val bak = new org.apache.hadoop.fs.Path(parent.resolve(".t_old").toString)
    assert(fs.rename(path, bak))
    Storage.compact(s, dir, targetBytes = 1024L * 1024)
    assert(s.read.parquet(dir).agg(sum("v")).collect()(0).getLong(0) == sum0)
    assert(!fs.exists(bak), "stale bak cleaned up after successful swap")
    // crash scenario B: stale bak AND tmp exist alongside live data — both
    // must be discarded, live data wins
    val tmp = new org.apache.hadoop.fs.Path(parent.resolve(".t_compacting").toString)
    fs.mkdirs(bak); fs.mkdirs(tmp)
    Storage.compact(s, dir, targetBytes = 1024L * 1024)
    assert(s.read.parquet(dir).agg(sum("v")).collect()(0).getLong(0) == sum0)
    assert(!fs.exists(bak) && !fs.exists(tmp))
  }

  test("lake mergeUpsert: idempotent, partition-scoped, creates new partitions") {
    import s.implicits._
    val lake = Files.createTempDirectory("graft_lake").resolve("t").toString
    (1 to 90).map(i => (i.toLong, i * 10.0, s"p${i % 3}"))
      .toDF("k", "v", "part")
      .write.mode("overwrite").partitionBy("part").parquet(lake)
    // updates touch p0 only: modify k%9==0, insert three new keys; plus a
    // brand-new partition p9
    val upd = ((1 to 90).filter(i => i % 3 == 0 && i % 9 == 0).map(i => (i.toLong, -1.0, "p0")) ++
      Seq((1001L, 1.0, "p0"), (1002L, 2.0, "p0"), (1003L, 3.0, "p0"),
          (2001L, 9.0, "p9"))).toDF("k", "v", "part")
    def snapshot() = s.read.parquet(lake).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    def p1Files() = new java.io.File(s"$lake/part=p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    val before = p1Files()
    assert(Lake.mergeUpsert(s, lake, upd, "k", "part") == 2) // p0 + p9
    val once = snapshot()
    // merged content: updates win, inserts present, new partition exists
    assert(once.contains((9L, -1.0, "p0")) && !once.contains((9L, 90.0, "p0")))
    assert(once.contains((1001L, 1.0, "p0")) && once.contains((2001L, 9.0, "p9")))
    assert(once.count(_._3 == "p1") == 30, "untouched partition content intact")
    // partition scoping: untouched partition's files were never rewritten
    assert(p1Files() == before, "untouched partition files must not be touched")
    // idempotence: applying the same batch again changes nothing
    Lake.mergeUpsert(s, lake, upd, "k", "part")
    assert(snapshot() == once)
    // crash windows of the partition swap (aside copy `.part=p0.old`).
    // Mid-swap: only the aside copy exists — the next call restores it
    // and lands the old data plus the update
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    val p0 = new org.apache.hadoop.fs.Path(s"$lake/part=p0")
    val p0bak = new org.apache.hadoop.fs.Path(s"$lake/.part=p0.old")
    assert(fs.rename(p0, p0bak), "test setup: open the mid-swap window")
    val upd2 = Seq((1004L, 4.0, "p0")).toDF("k", "v", "part")
    assert(Lake.mergeUpsert(s, lake, upd2, "k", "part") == 1)
    val twice = snapshot()
    assert(twice == once + ((1004L, 4.0, "p0")), "mid-swap: old p0 rows plus the update")
    assert(!fs.exists(p0bak), "the heal must consume the aside copy")
    // post-swap: a stale aside copy beside live is dropped, live wins
    Seq((9999L, 0.0)).toDF("k", "v").write.parquet(p0bak.toString)
    Lake.mergeUpsert(s, lake, upd2, "k", "part")
    assert(snapshot() == twice && !fs.exists(p0bak), "post-swap: stale aside dropped, live wins")
  }

  test("notification gate: action runs only if start notification succeeds (C5)") {
    val sent = scala.collection.mutable.ListBuffer[String]()
    val good = new Notifier { def send(subj: String, b: String) = { sent += subj; true } }
    val bad = new Notifier { def send(subj: String, b: String) = false }
    var ran = 0
    assert(Pipeline.withNotification(good, "job")( { ran += 1; 42 } ).contains(42))
    assert(sent.toList == List("job started", "job completed"))
    assert(Pipeline.withNotification(bad, "job")( { ran += 1; 42 } ).isEmpty)
    assert(ran == 1) // gated action never executed
  }

  test("incremental ingest is exactly-once across runs (S4: the Gmail-analog loop)") {
    val base = Files.createTempDirectory("graft_incr").toString
    val (landing, ckpt, out) = (s"$base/landing", s"$base/ckpt", s"$base/out")
    Files.createDirectories(Paths.get(landing))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id LONG, v DOUBLE")

    Files.writeString(Paths.get(s"$landing/batch1.csv"), "id,v\n1,1.5\n2,2.5\n")
    IncrementalIngest.ingestOnce(s, landing, ckpt, out, schema)
    assert(s.read.parquet(out).count() == 2)

    // rerun with nothing new: no duplicates (the reference's dedup probe)
    IncrementalIngest.ingestOnce(s, landing, ckpt, out, schema)
    assert(s.read.parquet(out).count() == 2)

    // a new file lands: only it is picked up
    Files.writeString(Paths.get(s"$landing/batch2.csv"), "id,v\n3,3.5\n")
    IncrementalIngest.ingestOnce(s, landing, ckpt, out, schema)
    val rows = s.read.parquet(out)
    assert(rows.count() == 3)
    assert(rows.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("sorted compaction yields non-overlapping per-file key ranges") {
    import s.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val base = Files.createTempDirectory("graft_csort").toString
    val dir = s"$base/lake"
    // many small files with interleaved keys — the post-ingest mess that
    // plain compaction would merge into files spanning the whole key space
    val rnd = new scala.util.Random(5)
    rnd.shuffle((0L until 3000L).toList).grouped(300)
      .foreach(g => g.toDF("k").write.mode("append").parquet(dir))
    val n = graft.sources.Storage.compactSorted(s, dir, 8L * 1024, Seq("k"))
    val rows = s.read.parquet(dir)
    assert(rows.count() == 3000)
    val ranges = rows.groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi")).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(ranges.length > 1, s"want multiple output files, got ${ranges.length} (n=$n)")
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file key ranges must not overlap: $ranges")
      case _ =>
    }
  }

  test("snapshot lake: commits linearize, time travel isolates, expire collects") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snap").toString + "/tbl"
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), lake, append = false)
    val v2 = Snapshots.commit(Seq((3L, "c")).toDF("k", "v"), lake, append = true)
    assert((v1, v2) == (1L, 2L))
    assert(Snapshots.read(s, lake).count() == 3)     // latest = logical append
    assert(Snapshots.read(s, lake, v1).count() == 2) // time travel: pre-append
    // a manifest published by a concurrent writer is built upon, not clobbered
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val m2 = new org.apache.hadoop.fs.Path(lake, "manifests/v00002.txt")
    val m3 = new org.apache.hadoop.fs.Path(lake, "manifests/v00003.txt")
    org.apache.hadoop.fs.FileUtil.copy(fs, m2, fs, m3, false,
      s.sparkContext.hadoopConfiguration)
    val v4 = Snapshots.commit(Seq((4L, "d")).toDF("k", "v"), lake, append = true)
    assert(v4 == 4L, "commit must land past the foreign manifest")
    assert(Snapshots.read(s, lake, 4L).count() == 4)
    // expire keeping only v4: all files still referenced -> only manifests die
    val (mDropped, fDeleted) = Snapshots.expire(s, lake, 4L)
    assert(mDropped == 3 && fDeleted == 0, s"($mDropped, $fDeleted)")
    assert(Snapshots.read(s, lake).count() == 4)
    intercept[Exception](Snapshots.read(s, lake, 1L).count())
    // overwrite-commit then expire: the replaced snapshots' files are deleted
    val v5 = Snapshots.commit(Seq((9L, "z")).toDF("k", "v"), lake, append = false)
    val (m2d, f2d) = Snapshots.expire(s, lake, v5)
    assert(m2d == 1 && f2d > 0, s"($m2d, $f2d)")
    assert(Snapshots.read(s, lake).collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("snapshot compaction: fewer files, same rows, old versions intact until expiry") {
    import s.implicits._
    import org.apache.spark.sql.functions.input_file_name
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapc").toString + "/tbl"
    // five appends of deliberately small multi-file segments
    (0 until 5).foreach { i =>
      Snapshots.commit((i * 100 until (i + 1) * 100).map(_.toLong).toDF("k")
        .repartition(4), lake, append = i > 0)
    }
    val pre = Snapshots.read(s, lake)
    val preFiles = pre.select(input_file_name()).distinct().count()
    val preKeys = pre.collect().map(_.getLong(0)).sorted.toSeq
    val cv = Snapshots.compact(s, lake) // 500 tiny rows -> one file
    assert(cv == 6L)
    val post = Snapshots.read(s, lake)
    assert(post.select(input_file_name()).distinct().count() < preFiles,
      "compaction must reduce the file count")
    assert(post.collect().map(_.getLong(0)).sorted.toSeq == preKeys,
      "compaction must not change the row set")
    assert(Snapshots.manifestMeta(s, lake, cv) == Map("compaction" -> "true"))
    // pre-compaction snapshots stay readable until expired
    assert(Snapshots.read(s, lake, 5L).count() == 500)
    val (mDropped, fDeleted) = Snapshots.expire(s, lake, cv)
    assert(mDropped == 5 && fDeleted > 0, s"($mDropped, $fDeleted)")
    assert(Snapshots.read(s, lake).count() == 500)
  }

  test("snapshot equality-delete: sequence-scoped — masks only older files") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapd").toString + "/tbl"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      lake, append = false)
    Snapshots.commitDelete(Seq(2L).toDF("k"), lake)
    assert(rows(Snapshots.read(s, lake)).map(_._1) == Seq(1L, 3L), "delete masks at latest")
    assert(rows(Snapshots.read(s, lake, v1)).map(_._1) == Seq(1L, 2L, 3L),
      "time travel to a pre-delete version still sees the row")
    // scoped semantics: a LATER append of the key postdates the delete and
    // is immediately visible — with the NEW value, the old one stays masked
    Snapshots.commit(Seq((2L, "x"), (4L, "d")).toDF("k", "v"), lake, append = true)
    assert(rows(Snapshots.read(s, lake)) ==
      Seq((1L, "a"), (2L, "x"), (3L, "c"), (4L, "d")),
      "re-appended key must be visible without a compaction, old copy masked")
    // compaction changes layout, never visibility; D lines materialize away
    Snapshots.compact(s, lake)
    assert(rows(Snapshots.read(s, lake)) ==
      Seq((1L, "a"), (2L, "x"), (3L, "c"), (4L, "d")),
      "compaction must not change what readers see")
  }

  test("snapshot upsert: atomic replace-or-insert; rollback restores a version") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapu").toString + "/tbl"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      lake, append = false)
    val v2 = Snapshots.upsert(Seq((2L, "B"), (4L, "D")).toDF("k", "v"), lake, Seq("k"))
    assert(rows(Snapshots.read(s, lake)) ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")),
      "matched key replaced, new key inserted, others untouched")
    assert(rows(Snapshots.read(s, lake, v1)) ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")), "pre-upsert snapshot intact")
    assert(Snapshots.manifestMeta(s, lake, v2).get("upsert").contains("true"))
    // a second upsert of the same key wins (last-writer, by sequence)
    Snapshots.upsert(Seq((2L, "Z")).toDF("k", "v"), lake, Seq("k"))
    assert(rows(Snapshots.read(s, lake)).filter(_._1 == 2L) == Seq((2L, "Z")))
    // rollback to v2: metadata-only commit, reads == v2, history preserved
    val rv = Snapshots.rollback(s, lake, v2)
    assert(rv == 4L)
    assert(rows(Snapshots.read(s, lake)) == rows(Snapshots.read(s, lake, v2)),
      "rollback must restore the v2 row set")
    assert(rows(Snapshots.read(s, lake, 3L)).filter(_._1 == 2L) == Seq((2L, "Z")),
      "rolled-back version stays readable for audit")
    assert(Snapshots.manifestMeta(s, lake, rv) == Map("rollback" -> v2.toString))
    intercept[IllegalArgumentException](Snapshots.rollback(s, lake, 99L))
  }

  test("snapshot file stats: prune skips files, keeps stat-less files, drops all-null") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snaps").toString + "/tbl"
    // two range-clustered files with recorded k-stats: ~[1..50], ~[51..100]
    Snapshots.commit((1L to 100L).toDF("k").repartitionByRange(2, col("k")),
      lake, append = false, statsCols = Seq("k"))
    val (kept1, total1) = Snapshots.pruneFiles(s, lake, "k", "1", "10")
    assert(total1 == 2 && kept1.size == 1, s"want 1/2 files kept, got ${kept1.size}/$total1")
    assert(Snapshots.readPruned(s, lake, "k", "1", "10").count() == 10)
    // numeric comparator: lexicographically "9" > "10" but the long tag
    // must compare numerically, so [9,10] still hits the low file
    assert(Snapshots.readPruned(s, lake, "k", "9", "10").count() == 2)
    // a segment committed WITHOUT stats is conservatively kept...
    Snapshots.commit(Seq(1000L).toDF("k"), lake, append = true)
    val (kept2, total2) = Snapshots.pruneFiles(s, lake, "k", "1", "10")
    assert(total2 == 3 && kept2.size == 2, "stat-less file must be kept")
    assert(Snapshots.readPruned(s, lake, "k", "1", "10").count() == 10,
      "residual filter must drop the stat-less file's out-of-range rows")
    // ...while an all-null file is provably empty for any range and drops
    Snapshots.commit(Seq(Option.empty[Long], Option.empty[Long]).toDF("k")
      .repartition(1), lake, append = true, statsCols = Seq("k"))
    val (kept3, total3) = Snapshots.pruneFiles(s, lake, "k", "1", "10")
    assert(total3 == 4 && kept3.size == 2, "all-null file must be pruned")
    assert(Snapshots.readPruned(s, lake, "k", "1", "10").count() == 10)
  }

  test("snapshot change feed: inserts from added files, deletes as key rows") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapf").toString + "/tbl"
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), lake, append = false)
    Snapshots.commit(Seq((3L, "c"), (7L, "g")).toDF("k", "v"), lake, append = true)
    Snapshots.commitDelete(Seq(2L, 7L).toDF("k"), lake)
    // k=7 re-appended AFTER its delete: postdates it, must surface as insert
    val v4 = Snapshots.commit(Seq((4L, "d"), (7L, "h")).toDF("k", "v"), lake, append = true)
    val ch = Snapshots.changes(s, lake, v1, v4).collect()
    val ins = ch.filter(_.getString(2) == "insert")
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val del = ch.filter(_.getString(2) == "delete").map(_.getLong(0)).sorted.toSeq
    assert(ins == Seq((3L, "c"), (4L, "d"), (7L, "h")),
      "k=7's pre-delete copy never surfaces; its post-delete re-insert does")
    assert(del == Seq(2L, 7L))
    assert(ch.filter(_.getString(2) == "delete").forall(_.isNullAt(1)),
      "delete rows carry only the key columns")
    // consumer contract: (v1 - delete keys) + inserts == read(v4) —
    // deletes FIRST (they all predate the window's inserts), then inserts
    val insDf = Seq((3L, "c"), (4L, "d"), (7L, "h")).toDF("k", "v")
    val applied = Snapshots.read(s, lake, v1)
      .join(Seq(2L, 7L).toDF("k"), Seq("k"), "left_anti")
      .unionByName(insDf)
    assert(applied.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Snapshots.read(s, lake, v4).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq)
    // an overwrite (compaction) in the window destroys row identity: refuse
    val cv = Snapshots.compact(s, lake)
    intercept[IllegalArgumentException](Snapshots.changes(s, lake, v1, cv))
  }

  test("feed cycle: deletes the erase slice, lands arrivals at the offset, refuses a base key at or above it") {
    import graft.sources.RoundTrip
    import s.implicits._
    // 33 and 64 sit in the % 31 = 2 arrival slice
    val rows = Seq((1L, "a"), (33L, "b"), (64L, "c")).toDF("k", "v")
    val f = RoundTrip.feedCycle(s, "feedcycle_spec", "spec", rows, "k",
      col("k") === 1L, col("v"))
    assert(f.base.count() == 3L)
    assert(f.deletes.as[Long].collect().toSeq == Seq(1L))
    assert(f.inserts.select("k").as[Long].collect().sorted.toSeq ==
      Seq(33L, 64L).map(_ + RoundTrip.ArrivalOffset))
    val clash = rows.union(Seq((RoundTrip.ArrivalOffset, "d")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](
      RoundTrip.feedCycle(s, "feedcycle_clash", "spec", clash, "k",
        col("k") === 1L, col("v")))
    assert(e.getMessage.contains(s"+${RoundTrip.ArrivalOffset}"), e.getMessage)
  }

  test("partition overwrite: replaces aligned files, inserts new partitions, refuses misaligned") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapp").toString + "/tbl"
    def byPart(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        .groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).sorted }
    val v1 = Snapshots.commit(
      Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("p", "v"),
      lake, append = false, statsCols = Seq("p"), routeBy = Some("p"))
    // restate p=1 (one row instead of two) and insert brand-new p=9
    Snapshots.overwritePartitions(Seq((1L, "A"), (9L, "Z")).toDF("p", "v"), lake, "p")
    assert(byPart(Snapshots.read(s, lake)) ==
      Map(1L -> Seq("A"), 2L -> Seq("c"), 3L -> Seq("d"), 9L -> Seq("Z")),
      "p=1 replaced, p=2/3 untouched, p=9 inserted")
    assert(byPart(Snapshots.read(s, lake, v1)) ==
      Map(1L -> Seq("a", "b"), 2L -> Seq("c"), 3L -> Seq("d")),
      "pre-overwrite snapshot intact")
    // a non-aligned table (no routeBy: one file spans several p values)
    val lake2 = Files.createTempDirectory("graft_snapp2").toString + "/tbl"
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("p", "v").coalesce(1),
      lake2, append = false, statsCols = Seq("p"))
    intercept[IllegalArgumentException](
      Snapshots.overwritePartitions(Seq((1L, "A")).toDF("p", "v"), lake2, "p"))
    // a stat-less table cannot prove alignment either
    val lake3 = Files.createTempDirectory("graft_snapp3").toString + "/tbl"
    Snapshots.commit(Seq((1L, "a")).toDF("p", "v"), lake3, append = false)
    intercept[IllegalArgumentException](
      Snapshots.overwritePartitions(Seq((1L, "A")).toDF("p", "v"), lake3, "p"))
  }

  test("delete key schemas must agree until a compaction materializes them") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapk").toString + "/tbl"
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), lake, append = false)
    Snapshots.commitDelete(Seq(1L).toDF("k"), lake)
    // a second delete (or upsert) with DIFFERENT key columns would
    // silently mis-join in merge-on-read: refuse up front
    intercept[IllegalArgumentException](
      Snapshots.commitDelete(Seq(("b")).toDF("v"), lake))
    intercept[IllegalArgumentException](
      Snapshots.upsert(Seq((2L, "B")).toDF("k", "v"), lake, Seq("k", "v")))
    // same keys: fine
    Snapshots.commitDelete(Seq(99L).toDF("k"), lake)
    // compaction materializes pending deletes; a new key set is then legal
    Snapshots.compact(s, lake)
    Snapshots.commitDelete(Seq(("b")).toDF("v"), lake)
    assert(Snapshots.read(s, lake).count() == 0, "k=1 then v=b deleted everything")
  }

  test("crashed publisher: incomplete manifest blocks readers, expire collects it") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapx").toString + "/tbl"
    Snapshots.commit(Seq((1L, "a")).toDF("k", "v"), lake, append = false)
    // simulate a publisher that died between create and write: v2 exists, empty
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val dead = new org.apache.hadoop.fs.Path(lake, "manifests/v00002.txt")
    fs.create(dead, false).close()
    intercept[IllegalArgumentException](Snapshots.read(s, lake).count())
    // within the grace window expire must NOT touch it (live-publisher safety)
    Snapshots.expire(s, lake, 1L)
    assert(fs.exists(dead), "fresh incomplete manifest is inside the grace window")
    // past the grace it is crash debris: collected, version number freed
    fs.setTimes(dead, System.currentTimeMillis() - 120000L, -1)
    Snapshots.expire(s, lake, 1L)
    assert(!fs.exists(dead), "stale incomplete manifest must be collected")
    val v = Snapshots.commit(Seq((2L, "b")).toDF("k", "v"), lake, append = true)
    assert(v == 2L && Snapshots.read(s, lake).count() == 2,
      "the freed version is reusable and carries the chain")
  }

  test("snapshot tags + metadata tables; racing commits all land linearized") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapt").toString + "/tbl"
    val v1 = Snapshots.commit(Seq((1L, "a")).toDF("k", "v"), lake, append = false)
    Snapshots.tag(s, lake, "audited", v1)
    Snapshots.commit(Seq((2L, "b")).toDF("k", "v"), lake, append = true)
    assert(Snapshots.readTag(s, lake, "audited").count() == 1,
      "a tag keeps naming the same snapshot as the table advances")
    assert(Snapshots.tagVersion(s, lake, "audited") == v1)
    intercept[IllegalArgumentException](Snapshots.tag(s, lake, "audited", 2L))
    intercept[IllegalArgumentException](Snapshots.tagVersion(s, lake, "nope"))
    // metadata tables: files() and history() describe the manifest exactly
    Snapshots.commitDelete(Seq(1L).toDF("k"), lake)
    val f = Snapshots.files(s, lake).collect()
    assert(f.count(_.getString(1) == "data") == 2 &&
           f.count(_.getString(1) == "delete") == 1)
    assert(f.forall(_.getLong(4) > 0), "every listed file has real bytes")
    val h = Snapshots.history(s, lake).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(h.last.getAs[Map[String, String]](3) == Map("delete" -> "true"))
    // RACING commits (real threads, same base): all land, linearized.
    // Three rounds of four — a single round once slipped through the
    // pre-fix non-atomic local-fs create (two commits both landed v4),
    // so the stress is repeated to keep the atomic-claim contract
    // regression-visible
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    for (round <- 1 to 3) {
      val base = Snapshots.latestVersion(s, lake)
      val landed = Await.result(Future.sequence((1 to 4).map(i => Future {
        Snapshots.commit(Seq((round * 100L + i, s"r$round$i")).toDF("k", "v"),
          lake, append = true)
      })), 120.seconds)
      assert(landed.sorted == (base + 1 to base + 4).toSeq,
        s"round $round: racing commits must take consecutive versions, got $landed")
    }
    assert(Snapshots.read(s, lake).count() == 13, "1 survivor + 3x4 raced rows")
  }

  test("layout-preserving compaction: alignment, clustering, and sidecars survive") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snaplc").toString + "/tbl"
    val rows = (1L to 100L).map(k => (k, k % 5)).toDF("k", "p")
    Snapshots.commit(rows, lake, append = false,
      statsCols = Seq("p"), routeBy = Some("p"))
    Snapshots.commitDelete(Seq(1L).toDF("k"), lake)
    // routed compaction: deletes materialize, alignment + stats regenerate
    Snapshots.compact(s, lake, routeBy = Some("p"), statsCols = Seq("p"))
    assert(Snapshots.read(s, lake).count() == 99, "delete materialized")
    Snapshots.overwritePartitions(Seq((1000L, 2L)).toDF("k", "p"), lake, "p")
    val byP = Snapshots.read(s, lake).groupBy("p").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byP(2L) == 1 && byP(3L) == 20,
      "post-compaction table is still partition-overwritable")
    // sorted compaction on a second table: range stats prune after rewrite
    val lake2 = Files.createTempDirectory("graft_snaplc2").toString + "/tbl"
    (0 until 4).foreach { i => // four interleaved appends: no clustering
      Snapshots.commit((1L to 100L).filter(_ % 4 == i).map(k => k).toDF("k"),
        lake2, append = i > 0)
    }
    Snapshots.compact(s, lake2, targetBytes = 2048,
      sortBy = Seq("k"), statsCols = Seq("k"))
    val (kept, total) = Snapshots.pruneFiles(s, lake2, "k", "1", "10")
    assert(total > 1 && kept.size < total,
      s"sorted compaction must restore prunability, got ${kept.size}/$total")
    assert(Snapshots.readPruned(s, lake2, "k", "1", "10").count() == 10)
  }

  test("many delete generations stay correct; compaction collapses them") {
    import s.implicits._
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.input_file_name
    val lake = Files.createTempDirectory("graft_snapgen").toString + "/tbl"
    // 8 interleaved append/delete generations: append {10i..10i+9}, then
    // delete key 10i (each delete scopes over everything appended so far)
    (0 until 8).foreach { i =>
      Snapshots.commit((i * 10 until i * 10 + 10).map(_.toLong).toDF("k"),
        lake, append = i > 0)
      Snapshots.commitDelete(Seq(i * 10L).toDF("k"), lake)
    }
    val expected = (0L until 80L).filterNot(_ % 10 == 0).sorted
    assert(Snapshots.read(s, lake).collect().map(_.getLong(0)).sorted.toSeq
      == expected, "8 delete generations must mask exactly their keys")
    // compaction materializes all 8 pending deletes into one clean scan
    Snapshots.compact(s, lake)
    val post = Snapshots.read(s, lake)
    assert(post.collect().map(_.getLong(0)).sorted.toSeq == expected)
    assert(post.select(input_file_name()).distinct().count() == 1,
      "compacted read is a single-file scan, no anti-join branches")
  }

  test("partition overwrite composes with pending deletes") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapod").toString + "/tbl"
    Snapshots.commit(Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("k", "p"),
      lake, append = false, statsCols = Seq("p"), routeBy = Some("p"))
    Snapshots.commitDelete(Seq(1L).toDF("k"), lake)
    // restating p=20 must not disturb the delete pending against p=10
    Snapshots.overwritePartitions(Seq((9L, 20L)).toDF("k", "p"), lake, "p")
    assert(Snapshots.read(s, lake).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 9L), "k=1 stays masked, p=20 replaced, k=2 untouched")
    // restating the partition the deleted key lived in REMOVES its file:
    // the delete becomes inert against the new (higher-seq) rows
    Snapshots.overwritePartitions(Seq((1L, 10L)).toDF("k", "p"), lake, "p")
    assert(Snapshots.read(s, lake).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 9L), "restated k=1 postdates the delete and is visible")
  }

  test("snapshot schema evolution: mergeSchema surfaces later-added columns as null") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapse").toString + "/tbl"
    Snapshots.commit(Seq((1L, "a")).toDF("k", "v"), lake, append = false)
    Snapshots.commit(Seq((2L, "b", 7L)).toDF("k", "v", "w"), lake, append = true)
    val merged = Snapshots.read(s, lake, mergeSchema = true)
    assert(merged.columns.sorted.toSeq == Seq("k", "v", "w"))
    assert(merged.collect().map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sorted.toSeq == Seq((1L, -1L), (2L, 7L)),
      "old files surface null for the added column")
    // evolution composes with scoped deletes (anti-join on the key column)
    Snapshots.commitDelete(Seq(1L).toDF("k"), lake)
    assert(Snapshots.read(s, lake, mergeSchema = true).collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("snapshot bloom sidecar: point probes skip files; bloom-less kept; residual exact") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapb").toString + "/tbl"
    // two k-clustered files, per-file bloom on k (fpp tiny: deterministic test)
    Snapshots.commit((1L to 100L).toDF("k").repartitionByRange(2, col("k")),
      lake, append = false, bloomCols = Seq("k"), bloomFpp = 1e-6)
    val (kept1, total1) = Snapshots.pruneFilesPoint(s, lake, "k", Seq("5"))
    assert(total1 == 2 && kept1.size == 1, s"want 1/2 files, got ${kept1.size}/$total1")
    assert(Snapshots.readPoint(s, lake, "k", Seq("5", "55")).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(5L, 55L),
      "probe spanning both files reads both keys exactly")
    // an absent value prunes EVERY file; the read is provably empty
    val (kept2, _) = Snapshots.pruneFilesPoint(s, lake, "k", Seq("1000"))
    assert(kept2.isEmpty)
    assert(Snapshots.readPoint(s, lake, "k", Seq("1000")).count() == 0)
    // a bloom-less append cannot prune and is conservatively kept
    Snapshots.commit(Seq(500L).toDF("k"), lake, append = true)
    val (kept3, total3) = Snapshots.pruneFilesPoint(s, lake, "k", Seq("5"))
    assert(total3 == 3 && kept3.size == 2, "bloom-less file must be kept")
    assert(Snapshots.readPoint(s, lake, "k", Seq("5")).count() == 1,
      "residual filter drops the bloom-less file's non-matching rows")
    // sequence-scoped deletes still apply through the point-read path
    Snapshots.commitDelete(Seq(5L).toDF("k"), lake)
    assert(Snapshots.readPoint(s, lake, "k", Seq("5", "55")).collect()
      .map(_.getLong(0)).toSeq == Seq(55L))
  }

  test("incremental maintenance: deltas merge exactly; a zeroed group drops") {
    import s.implicits._
    import graft.sources.Snapshots
    val state = Seq(("A", 2L, 30L), ("B", 1L, 5L)).toDF("g", "n", "s")
    val ins   = Seq(("B", 1L, 7L), ("C", 2L, 9L)).toDF("g", "n", "s")
    val del   = Seq(("A", -2L, -30L)).toDF("g", "n", "s") // deletes ALL of A
    val out = Snapshots.mergeAggDeltas(state, Seq(ins, del), Seq("g"), "n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(out == Seq(("B", 2L, 12L), ("C", 2L, 9L)),
      "B merges, C appears, fully-deleted A must drop (not linger at n=0)")
  }

  test("snapshot ledger: commitIfAbsent makes replayed commits no-ops") {
    import s.implicits._
    import graft.sources.Snapshots
    val lake = Files.createTempDirectory("graft_snapl").toString + "/tbl"
    val b0 = Seq((1L, "a")).toDF("k", "v")
    val first = Snapshots.commitIfAbsent(b0, lake, append = true, "batchId", "0")
    val replay = Snapshots.commitIfAbsent(b0, lake, append = true, "batchId", "0")
    assert(first.contains(1L) && replay.isEmpty, s"($first, $replay)")
    val next = Snapshots.commitIfAbsent(Seq((2L, "b")).toDF("k", "v"),
      lake, append = true, "batchId", "1")
    assert(next.contains(2L))
    assert(Snapshots.read(s, lake).count() == 2)
    assert(Snapshots.manifestMeta(s, lake, 1L) == Map("batchId" -> "0"))
    assert(Snapshots.committedValues(s, lake, "batchId") == Set("0", "1"))
  }

  test("sketch store: refresh replaces only changed scopes; rollup reads blobs alone") {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_hll").toString
    val store = s"$base/store"
    // three scopes, known distinct counts: A={1..5}, B={10..13}, C={20..21}
    val fact = ((1 to 5).map(k => ("A", k.toLong)) ++
      (10 to 13).map(k => ("B", k.toLong)) ++
      (20 to 21).map(k => ("C", k.toLong))).toDF("scope", "k")
    graft.sources.SketchStore.build(fact, store, "scope", "k")
    def scopeState(v: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$store/scope=$v")
      d.listFiles().toSeq.map(f => (f.getName, f.length, f.lastModified))
        .sortBy(_._1)
    }
    val (a0, c0) = (scopeState("A"), scopeState("C"))
    // refresh scope B ONLY: the caller hands in just the changed slice
    // (in production: a read of exactly that lake partition)
    graft.sources.SketchStore.refresh(
      (10 to 16).map(k => ("B", k.toLong)).toDF("scope", "k"), store, "scope", "k")
    // unchanged scopes: same files, same bytes, same mtimes — untouched
    assert(scopeState("A") == a0, "scope A must not be rewritten")
    assert(scopeState("C") == c0, "scope C must not be rewritten")
    // rollup from blobs ALONE: the fact frame is literal (no files), and
    // the refreshed month's exact count reflects the new slice
    val roll = graft.sources.SketchStore.rollup(s, store)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(roll("A") == ((5L, 5L, true)))
    assert(roll("B") == ((7L, 7L, true)), s"refreshed scope must re-count: ${roll("B")}")
    assert(roll("C") == ((2L, 2L, true)))
    assert(roll("global") == ((7L, 14L, true)))
    // refresh is idempotent per scope: rerunning the same slice yields
    // identical content (crash-rerun safety, same contract as mergeUpsert)
    graft.sources.SketchStore.refresh(
      (10 to 16).map(k => ("B", k.toLong)).toDF("scope", "k"), store, "scope", "k")
    val roll2 = graft.sources.SketchStore.rollup(s, store)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(roll2 == roll)
    // crash windows of the scope swap (aside copy `.scope=B.old`) and of
    // the staged build (whole-store aside copy `.store_old`)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    def rolled() = graft.sources.SketchStore.rollup(s, store)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val b = new org.apache.hadoop.fs.Path(s"$store/scope=B")
    val bBak = new org.apache.hadoop.fs.Path(s"$store/.scope=B.old")
    val bSlice = (10 to 18).map(k => ("B", k.toLong)).toDF("scope", "k")
    // mid-swap: only the aside copy of B exists — the next refresh heals
    // it first and lands the update; A and C are untouched
    assert(fs.rename(b, bBak), "test setup: open the scope mid-swap window")
    graft.sources.SketchStore.refresh(bSlice, store, "scope", "k")
    val roll3 = rolled()
    assert(roll3("B") == ((9L, 9L, true)) && roll3("A") == roll("A") && roll3("C") == roll("C"))
    assert(scopeState("A") == a0 && scopeState("C") == c0, "unchanged scopes stay untouched")
    assert(!fs.exists(bBak), "the heal must consume the aside copy")
    // post-swap: a stale aside copy beside live B is dropped, live wins
    Seq(1L).toDF("k").write.parquet(bBak.toString)
    graft.sources.SketchStore.refresh(bSlice, store, "scope", "k")
    assert(rolled() == roll3 && !fs.exists(bBak), "post-swap: stale aside dropped, live wins")
    // the build stages and swaps the whole store. Mid-swap: only the
    // aside store exists — the stamp gate heals it and the old blobs serve
    val live = new org.apache.hadoop.fs.Path(store)
    val storeBak = new org.apache.hadoop.fs.Path(s"$base/.store_old")
    assert(fs.rename(live, storeBak), "test setup: open the build mid-swap window")
    assert(graft.sources.IndexStore.isCurrent(s, store, "manual"), "mid-swap: the old store heals")
    assert(rolled() == roll3 && !fs.exists(storeBak))
    // a rebuild lands whole and leaves no aside copy; a stale aside copy
    // beside it (post-swap) is dropped at the gate, live wins
    graft.sources.SketchStore.build(fact, store, "scope", "k", "v2")
    val roll4 = rolled()
    assert(roll4("B") == ((4L, 4L, true)) && roll4("global") == ((5L, 11L, true)))
    assert(!fs.exists(storeBak))
    Seq(1L).toDF("k").write.parquet(storeBak.toString)
    assert(graft.sources.IndexStore.isCurrent(s, store, "v2"), "post-swap: live wins")
    assert(rolled() == roll4 && !fs.exists(storeBak), "post-swap: stale aside dropped")
  }
}
