package graft.sources

import graft.Engine
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min, sum}
import org.apache.spark.sql.types._

/** Snapshot-manifest table layout over plain parquet — the minimal table
  * format an ingest pipeline needs once concurrent readers exist:
  *
  *   dir/data/seg_<tag>/part-*.parquet    immutable data segments
  *   dir/data/seg_<tag>/stats.tsv         per-file column min/max (optional)
  *   dir/manifests/v00001.txt             `F <seq> <path>` = data file,
  *                                        `D <seq> <path>` = equality-delete
  *                                        file; seq = version that added it
  *
  * A snapshot IS its manifest: readers resolve a version to a file list
  * and read exactly those files, so they see a committed snapshot in
  * full or not at all — never a half-written table. Commits stage their
  * segment first (invisible until referenced), then publish the next
  * manifest with an EXCLUSIVE create: two racing committers cannot both
  * create `v N+1`, the loser re-reads the new latest and retries on top
  * (optimistic concurrency, the Iceberg/Delta commit model on nothing
  * but a filesystem with create-if-absent). A crash between segment
  * write and manifest publish leaves an orphaned segment no reader can
  * see; [[expire]] collects it.
  *
  * Every manifest line carries the SEQUENCE NUMBER (the version) of the
  * commit that added it, and an equality-delete applies only to data
  * files with a strictly smaller sequence — the Iceberg-v2 scoping rule.
  * That makes delete semantics order-consistent: a re-inserted key is
  * visible the moment its append commits (no compaction needed first),
  * and compaction never changes what a reader sees, only the file
  * layout. It is also what makes [[upsert]] atomic: the delete and the
  * append land in ONE manifest at the SAME sequence, so the delete
  * masks every older copy of the keys but never the rows it ships with.
  *
  * Scale posture: a manifest lists files, not rows — O(files) bytes,
  * read once per query plan. Appends carry the prior file list forward
  * (no data rewrite, no read-modify-write of data); time travel is
  * "read an older manifest" and costs nothing until expiry. At 100 TB
  * the data plane is untouched parquet — all coordination happens on
  * kilobyte manifest files.
  *
  * Reference provenance: the reference overwrites its outputs in place
  * (/root/reference/data_pipeline.py:338-350) — no versioning, readers
  * can observe torn state; this is the LLM-pipeline extension surface.
  */
object Snapshots {

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String, v: Long): Path =
    new Path(new Path(dir, "manifests"), f"v$v%05d.txt")

  /** Highest committed version, 0 if the table has no snapshot yet. */
  def latestVersion(s: SparkSession, dir: String): Long = {
    val md = new Path(dir, "manifests")
    val fs = fsOf(s, md)
    if (!fs.exists(md)) 0L
    else fs.listStatus(md).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+\\.txt") => n.stripPrefix("v").stripSuffix(".txt").toLong }
      .foldLeft(0L)(math.max)
  }

  /** Commit terminator: a manifest is PUBLISHED only once its last line
    * is `#eof`. The exclusive create claims the version atomically, but a
    * concurrent reader could otherwise observe the file between create
    * and write — existing yet empty — and silently carry nothing forward
    * (a lost-update race the IngestSpec thread race caught). `#` makes it
    * invisible to every line consumer (data/delete parsers and meta both
    * skip or ignore it). */
  private val Eof = "#eof"

  private def manifestLines(s: SparkSession, dir: String, v: Long): Seq[String] = {
    val fs = fsOf(s, manifestPath(dir, v))
    def readOnce(): Seq[String] = {
      val in = fs.open(manifestPath(dir, v))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
      finally in.close()
    }
    var lines = readOnce()
    var spins = 0
    while (lines.lastOption.toSeq != Seq(Eof)) {
      // mid-publish: the winner created the file but hasn't finished
      // writing. The window is milliseconds — spin briefly, fail loudly
      // if it never completes (crashed publisher needs manual expiry).
      spins += 1
      require(spins <= 200, s"manifest v$v at $dir never completed (crashed publisher?)")
      Thread.sleep(10)
      lines = readOnce()
    }
    lines
  }

  /** Parse a manifest line into (kind, seq, path). */
  private def parseLine(l: String): (String, Long, String) = l.split(" ", 3) match {
    case Array(k @ ("F" | "D"), seq, path) => (k, seq.toLong, path)
    case _ => throw new IllegalStateException(s"malformed manifest line: $l")
  }

  /** (seq, path) of snapshot `v`'s data files, in manifest order. */
  private def dataEntries(s: SparkSession, dir: String, v: Long): Seq[(Long, String)] =
    manifestLines(s, dir, v).filterNot(_.startsWith("#"))
      .map(parseLine).collect { case ("F", seq, p) => (seq, p) }

  /** (seq, path) of snapshot `v`'s equality-delete files. */
  private def deleteEntries(s: SparkSession, dir: String, v: Long): Seq[(Long, String)] =
    manifestLines(s, dir, v).filterNot(_.startsWith("#"))
      .map(parseLine).collect { case ("D", seq, p) => (seq, p) }

  /** Data-file paths of snapshot `v` (excludes meta and delete lines). */
  private def readManifest(s: SparkSession, dir: String, v: Long): Seq[String] =
    dataEntries(s, dir, v).map(_._2)

  /** All carried-forward lines for an append commit: data AND delete files,
    * in manifest order, so a logical append preserves pending deletes. */
  private def carriedLines(s: SparkSession, dir: String, v: Long): Seq[String] =
    manifestLines(s, dir, v).filterNot(_.startsWith("#"))

  /** The `#key=value` metadata a commit attached to snapshot `v`. */
  def manifestMeta(s: SparkSession, dir: String, v: Long): Map[String, String] =
    manifestLines(s, dir, v).filter(_.startsWith("#"))
      .map(_.stripPrefix("#").split("=", 2)).collect { case Array(k, w) => k -> w }.toMap

  /** Every value committed under meta `key` across live manifests —
    * the replay ledger [[commitIfAbsent]] consults. O(versions)
    * kilobyte reads, driver-side. */
  def committedValues(s: SparkSession, dir: String, key: String): Set[String] =
    (1L to latestVersion(s, dir))
      .filter(v => fsOf(s, manifestPath(dir, v)).exists(manifestPath(dir, v)))
      .flatMap(v => manifestMeta(s, dir, v).get(key)).toSet

  /** Commit `df` as the next snapshot. `append=true` carries the current
    * snapshot's files forward (logical append, zero data rewrite);
    * `append=false` makes the new segment the whole table (logical
    * overwrite — old files stay on disk for time travel until expired).
    * Returns the committed version. Concurrency-safe: the manifest is
    * published with create-if-absent; on collision the commit retries on
    * top of the winner, so both snapshots land, linearized.
    *
    * `statsCols` names columns to collect per-file min/max for — written
    * once, next to the segment (`stats.tsv`), read driver-side by
    * [[pruneFiles]]/[[readPruned]] for data skipping. Cost is one re-read
    * of the NEW segment only (O(commit), never O(table)); stats files are
    * immutable like the data files they describe, so appends never touch
    * old stats.
    *
    * `routeBy` names a column to ALIGN files to: the segment is written
    * hive-partitioned on a duplicate of that column, so every data file
    * holds exactly one value of it (min == max in the stats — the
    * alignment [[overwritePartitions]] requires). The routing column
    * stays a normal data column; the duplicate `_route=` directories are
    * never surfaced because readers list leaf files explicitly. */
  def commit(df: DataFrame, dir: String, append: Boolean,
             meta: Map[String, String] = Map.empty,
             statsCols: Seq[String] = Seq.empty,
             routeBy: Option[String] = None,
             bloomCols: Seq[String] = Seq.empty,
             bloomFpp: Double = 0.01): Long = {
    val s = df.sparkSession
    require(meta.forall { case (k, v) =>
      !k.contains("=") && !k.contains("\n") && !v.contains("\n") },
      "manifest meta: no '=' in keys, no newlines anywhere")
    val files = stageData(df, dir, statsCols, routeBy, bloomCols, bloomFpp)
    commitFileList(s, dir, files, appendBase = append, meta = meta)
  }

  /** Stage `df` as an immutable segment under `data/<prefix>_<tag>`
    * (optionally value-routed, with file stats and/or bloom sidecars) and
    * return the part-file paths. Invisible until a manifest names them. */
  private def stageData(df: DataFrame, dir: String, statsCols: Seq[String],
                        routeBy: Option[String],
                        bloomCols: Seq[String] = Seq.empty,
                        bloomFpp: Double = 0.01, prefix: String = "seg"): Seq[String] = {
    val s = df.sparkSession
    val seg = new Path(dir, s"data/${prefix}_${IndexStore.stagingTag}")
    val fs = fsOf(s, seg)
    routeBy match {
      case Some(c) =>
        df.withColumn("_route", col(c)).write.partitionBy("_route")
          .parquet(seg.toString)
      case None => df.write.parquet(seg.toString)
    }
    var files = listPartFiles(fs, seg).sorted
    if (files.isEmpty) {
      // a partitionBy write of an empty frame emits NO files (flat writes
      // emit one schema-bearing empty part) — stage one so the snapshot
      // stays readable with its schema
      df.limit(0).coalesce(1).write.mode("append").parquet(seg.toString)
      files = listPartFiles(fs, seg).sorted
    }
    // the sidecars re-read the segment just written from df, so a flat
    // segment's schema is df's: seeded, the read-back starts no job (a
    // routed one also carries the inferred `_route` column)
    if (routeBy.isEmpty && (bloomCols.nonEmpty || statsCols.nonEmpty))
      Engine.seedParquet(s, Seq(seg.toString), df.schema)
    // blooms first: their segment-root read must see only part files,
    // while the later stats read skips `_blooms` (underscore = hidden)
    if (bloomCols.nonEmpty) writeSegmentBlooms(s, seg, bloomCols, bloomFpp)
    if (statsCols.nonEmpty) writeSegmentStats(s, seg, statsCols)
    files
  }

  /** All DATA `part-*` files under `root`: flat segment files plus those
    * one level down in `_route=` hive dirs. Sidecar dirs (`_blooms`) are
    * not descended into — their parquet blobs are metadata, not data. */
  private def listPartFiles(fs: FileSystem, root: Path): Seq[String] =
    fs.listStatus(root).toSeq.flatMap { st =>
      if (st.isFile) {
        if (st.getPath.getName.startsWith("part-")) Seq(st.getPath.toString) else Seq.empty
      } else if (st.getPath.getName.startsWith("_route=")) {
        fs.listStatus(st.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
          .map(_.getPath.toString)
      } else Seq.empty
    }

  /** Publish the next manifest with the exclusive-create optimistic lock.
    * `buildLines(v)` is re-evaluated per attempt with the version being
    * tried, so a loser of the race rebuilds on top of the winner. */
  private def publish(s: SparkSession, dir: String, meta: Map[String, String],
                      buildLines: Long => Seq[String]): Long = {
    val fs = fsOf(s, new Path(dir))
    var attempt = 0
    while (true) {
      val v = latestVersion(s, dir) + 1
      val mp = manifestPath(dir, v)
      fs.mkdirs(mp.getParent)
      val metaLines = meta.toSeq.sorted.map { case (k, w) => s"#$k=$w" }
      val body = metaLines ++ buildLines(v) :+ Eof // terminator = commit record
      try {
        val uri = mp.toUri
        if (uri.getScheme == null || uri.getScheme == "file") {
          // LOCAL fs: Hadoop's create(path, overwrite=false) is a
          // non-atomic exists-check-then-create — two racing committers
          // can both pass the check and both "win" the same version (the
          // second truncating the first). Claim the version with POSIX
          // O_CREAT|O_EXCL instead (atomic create-new), then write the
          // body into the claimed file; latestVersion counts manifests by
          // NAME, so a claimed-but-unwritten file already advances racers
          // to v+1, and the #eof terminator keeps readers off it until
          // the write lands (the crashed-publisher semantics, unchanged).
          val np = java.nio.file.Paths.get(uri.getPath)
          java.nio.file.Files.createFile(np) // atomic optimistic lock
          java.nio.file.Files.write(np, body.mkString("\n").getBytes("UTF-8"))
        } else {
          val out = fs.create(mp, false) // HDFS: exclusive create IS atomic
          try out.write(body.mkString("\n").getBytes("UTF-8"))
          finally out.close()
        }
        return v
      } catch {
        // FileAlreadyExistsException is an IOException: lost the race —
        // retry on top of the winner
        case _: java.io.IOException =>
          attempt += 1
          require(attempt < 100, s"snapshot commit: $attempt failed attempts at $dir")
      }
    }
    -1L // unreachable
  }

  /** Publish a manifest adding `files` (+ optional `deleteFiles`) at the new
    * version's sequence, carrying the current snapshot forward when
    * `appendBase`. `carriedFilter` lets a caller drop specific carried
    * lines (partition overwrite); it is re-applied per retry so it always
    * filters the actual winner's manifest. */
  private def commitFileList(s: SparkSession, dir: String, files: Seq[String],
                             appendBase: Boolean, meta: Map[String, String],
                             deleteFiles: Seq[String] = Seq.empty,
                             carriedFilter: String => Boolean = _ => true): Long =
    publish(s, dir, meta, v => {
      val base = v - 1
      val carried =
        if (appendBase && base > 0) carriedLines(s, dir, base).filter(carriedFilter)
        else Seq.empty
      carried ++ files.map(f => s"F $v $f") ++ deleteFiles.map(f => s"D $v $f")
    })

  /** Exactly-once commit for replayable producers (a streaming
    * foreachBatch, a retried job): the commit is tagged
    * `#<key>=<value>` in its manifest, and a later call with the same
    * tag is a NO-OP returning None — so a replayed micro-batch cannot
    * append its rows twice. This is the snapshot-table form of the
    * batchId-scoped admission log (q134): idempotence lives in the
    * table's own commit ledger, not in the producer. */
  def commitIfAbsent(df: DataFrame, dir: String, append: Boolean,
                     key: String, value: String): Option[Long] =
    if (committedValues(df.sparkSession, dir, key).contains(value)) None
    else Some(commit(df, dir, append, Map(key -> value)))

  /** Read a snapshot — `version < 0` means latest. Time travel is just
    * naming an older version; the plan reads exactly that manifest's
    * files, so concurrent later commits are invisible. Pending
    * equality-deletes (if any) are applied sequence-scoped as broadcast
    * hash anti-joins — the merge-on-read path. */
  def read(s: SparkSession, dir: String, version: Long = -1L,
           mergeSchema: Boolean = false): DataFrame = {
    val v = if (version < 0) latestVersion(s, dir) else version
    require(v > 0, s"no snapshot at $dir")
    scopedRead(s, dataEntries(s, dir, v), deleteEntries(s, dir, v), mergeSchema)
  }

  /** Merge-on-read with sequence scoping: a delete file at seq `sd` masks
    * rows only in data files with seq < `sd`. Data files are bucketed by
    * HOW MANY delete seqs exceed theirs — files in the same bucket share
    * the exact same applicable delete set, so the plan is one scan +
    * anti-join per bucket (≤ distinct-delete-seqs + 1 branches), unioned.
    * Delete-key files are kilobytes, so each anti-join is a broadcast
    * hash join — the data side never shuffles. Pending deletes are few by
    * construction ([[compact]] materializes them), so the branch count
    * stays small at any table size.
    *
    * `mergeSchema` unions the file footers' schemas (schema evolution:
    * columns added by later commits surface as null on older files) at
    * the cost of a footer read per file at plan time; off by default. */
  private def scopedRead(s: SparkSession, data: Seq[(Long, String)],
                         dels: Seq[(Long, String)],
                         mergeSchema: Boolean = false): DataFrame = {
    def rd(paths: Seq[String]): DataFrame =
      Engine.parquet(s, paths, Map("mergeSchema" -> mergeSchema.toString))
    if (dels.isEmpty) return rd(data.map(_._2))
    val delSeqs = dels.map(_._1).distinct.sorted
    data.groupBy { case (sf, _) => delSeqs.count(_ > sf) }.toSeq.sortBy(_._1)
      .map { case (k, entries) =>
        val df = rd(entries.map(_._2))
        if (k == 0) df
        else {
          val applicable = delSeqs.takeRight(k).toSet
          val keys = Engine.parquet(s, dels.filter(d => applicable(d._1)).map(_._2))
            .dropDuplicates()
          df.join(keys, keys.columns.toSeq, "left_anti")
        }
      }.reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
  }

  /** A plain flat segment: [[stageData]] without routing or sidecars. */
  private def stageSegment(df: DataFrame, dir: String, prefix: String): Seq[String] =
    stageData(df, dir, Nil, None, prefix = prefix)

  /** Commit an equality-delete: rows whose values on ALL of `keys`'
    * columns match any key row disappear from reads at the returned
    * version. Zero data rewrite — the keys land as a small parquet file
    * listed `D <seq> <path>` in the manifest, applied merge-on-read by
    * [[read]].
    *
    * Sequence-scoped (the Iceberg v2 rule): the delete masks matching
    * rows only in data files committed BEFORE it. A later append of the
    * same key is immediately visible — no compaction needed — and
    * [[compact]] changes layout, never visibility. Time travel is
    * unaffected: versions before this commit carry no `D` line and still
    * see the rows. */
  def commitDelete(keys: DataFrame, dir: String,
                   meta: Map[String, String] = Map.empty): Long = {
    requireKeySchemaMatch(keys.sparkSession, dir, keys.columns.toSeq)
    val files = stageSegment(keys.dropDuplicates(), dir, "del")
    commitFileList(keys.sparkSession, dir, Seq.empty, appendBase = true,
      meta = meta + ("delete" -> "true"), deleteFiles = files)
  }

  /** All pending delete files of a snapshot are read TOGETHER by the
    * merge-on-read anti-joins, so they must agree on key columns — a
    * second delete with different keys would silently mis-join. Refuse it
    * up front; a compaction materializes the pending deletes and frees
    * the table to switch key sets. */
  private def requireKeySchemaMatch(s: SparkSession, dir: String,
                                    keyCols: Seq[String]): Unit = {
    val latest = latestVersion(s, dir)
    if (latest > 0) {
      val dels = deleteEntries(s, dir, latest)
      if (dels.nonEmpty) {
        val existing = Engine.parquet(s, Seq(dels.head._2)).columns.sorted.toSeq
        require(existing == keyCols.sorted,
          s"equality-delete keys ${keyCols.sorted} differ from the table's pending " +
            s"delete schema $existing; compact to materialize pending deletes first")
      }
    }
  }

  /** Atomic MERGE (upsert): rows in `df` REPLACE any current rows sharing
    * their `keys` values, and rows with new keys are inserted — in ONE
    * commit. The manifest gains an equality-delete on `df`'s key values
    * and `df`'s data files at the same sequence; by the scoping rule the
    * delete masks every older copy of the keys but not the rows it ships
    * with. Readers see either the pre-merge or the post-merge snapshot,
    * never a half-applied one, and the data plane cost is O(|df|) — no
    * rewrite of matched files (merge-on-read, materialized by the next
    * [[compact]]). */
  def upsert(df: DataFrame, dir: String, keys: Seq[String],
             meta: Map[String, String] = Map.empty): Long = {
    require(keys.nonEmpty && keys.forall(df.columns.contains),
      s"upsert keys $keys must be columns of ${df.columns.toSeq}")
    val s = df.sparkSession
    requireKeySchemaMatch(s, dir, keys)
    val dataFiles = stageSegment(df, dir, "seg")
    // key values re-read from the staged segment, not df: df may be
    // nondeterministic, and the delete MUST match the rows that landed.
    // The files were just written from df, so df's schema is what
    // inference would find: seeded, the re-read starts no job.
    Engine.seedParquet(s, dataFiles, df.schema)
    // coalesce(1) packs the key set into one kilobyte-scale file — right
    // for merge-batch-sized upserts; a billion-row restatement would
    // shard the delete file by key range instead (several D lines).
    val delFiles = stageSegment(
      Engine.parquet(s, dataFiles).select(keys.map(col): _*).dropDuplicates()
        .coalesce(1), dir, "del")
    commitFileList(s, dir, dataFiles, appendBase = true,
      meta = meta + ("upsert" -> "true"), deleteFiles = delFiles)
  }

  /** Restore the table to the state of snapshot `toV` as a NEW commit:
    * the rollback manifest re-lists `toV`'s exact file and delete lines
    * (original sequences preserved), so reads at the new version equal
    * reads at `toV` while the rolled-back versions stay readable for
    * audit until [[expire]]d. Metadata-only — no data file is touched. */
  def rollback(s: SparkSession, dir: String, toV: Long): Long = {
    require(fsOf(s, manifestPath(dir, toV)).exists(manifestPath(dir, toV)),
      s"rollback: no manifest v$toV at $dir")
    val lines = carriedLines(s, dir, toV)
    publish(s, dir, Map("rollback" -> toV.toString), _ => lines)
  }

  /** Name snapshot `v` with an immutable tag (`manifests/tag_<name>.txt`).
    * Tags pin versions against [[expire]]-by-mistake semantics at the
    * naming layer: a reader asking for a tag always gets the same rows.
    * Published with exclusive create — re-tagging an existing name
    * refuses (tags are immutable; use a new name). */
  def tag(s: SparkSession, dir: String, name: String, version: Long = -1L): Long = {
    require(name.matches("[A-Za-z0-9._-]+"), s"tag name: [A-Za-z0-9._-]+, got $name")
    val v = if (version < 0) latestVersion(s, dir) else version
    require(fsOf(s, manifestPath(dir, v)).exists(manifestPath(dir, v)),
      s"tag: no manifest v$v at $dir")
    val tp = new Path(new Path(dir, "manifests"), s"tag_$name.txt")
    val fs = fsOf(s, tp)
    val out = try fs.create(tp, false) catch {
      case _: java.io.IOException =>
        throw new IllegalArgumentException(s"tag $name already exists at $dir")
    }
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  /** Resolve a tag to its version (fails loudly on an unknown tag). */
  def tagVersion(s: SparkSession, dir: String, name: String): Long = {
    val tp = new Path(new Path(dir, "manifests"), s"tag_$name.txt")
    val fs = fsOf(s, tp)
    require(fs.exists(tp), s"no tag $name at $dir")
    val in = fs.open(tp)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
    finally in.close()
  }

  /** Read the snapshot a tag names. */
  def readTag(s: SparkSession, dir: String, name: String,
              mergeSchema: Boolean = false): DataFrame =
    read(s, dir, tagVersion(s, dir, name), mergeSchema)

  /** Metadata table: one row per (version, kind, seq, path, bytes) of the
    * named snapshot's manifest — the observability surface for "which
    * files does this snapshot actually hold". Driver-built from the
    * manifest + file statuses (O(files) metadata, no data read). */
  def files(s: SparkSession, dir: String, version: Long = -1L): DataFrame = {
    val v = if (version < 0) latestVersion(s, dir) else version
    require(v > 0, s"no snapshot at $dir")
    val fs = fsOf(s, new Path(dir))
    import scala.jdk.CollectionConverters._
    val rows = (dataEntries(s, dir, v).map(e => ("data", e._1, e._2)) ++
      deleteEntries(s, dir, v).map(e => ("delete", e._1, e._2)))
      .map { case (kind, seq, p) =>
        org.apache.spark.sql.Row(v, kind, seq, p, fs.getFileStatus(new Path(p)).getLen)
      }
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, false), StructField("kind", StringType, false),
      StructField("seq", LongType, false), StructField("path", StringType, false),
      StructField("bytes", LongType, false))))
  }

  /** Metadata table: the commit history — one row per live version with
    * its meta key=values flattened to a map column. O(versions) kilobyte
    * manifest reads, driver-side. */
  def history(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val fs = fsOf(s, new Path(dir))
    val rows = (1L to latestVersion(s, dir))
      .filter(v => fs.exists(manifestPath(dir, v)))
      .map { v =>
        val m = manifestMeta(s, dir, v)
        org.apache.spark.sql.Row(v, dataEntries(s, dir, v).size.toLong,
          deleteEntries(s, dir, v).size.toLong, m)
      }
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, false),
      StructField("n_data_files", LongType, false),
      StructField("n_delete_files", LongType, false),
      StructField("meta", MapType(StringType, StringType), false))))
  }

  /** Dynamic partition overwrite: replace EXACTLY the `partCol` partitions
    * present in `df` and leave every other partition's files untouched.
    * Requires the table's carried files to be partition-aligned on
    * `partCol` (committed with `routeBy` + `statsCols`, so each file's
    * min == max); a straddling or stat-less carried file fails loudly
    * rather than silently dropping rows it shouldn't. The decision is
    * pure driver-side metadata — stats lookups, no data read — and the
    * data plane cost is O(df): the restated partitions' new files plus
    * nothing else. Partitions in `df` with no carried counterpart are
    * plain inserts. The replaced files stay on disk for time travel
    * until [[expire]]d. */
  def overwritePartitions(df: DataFrame, dir: String, partCol: String,
                          meta: Map[String, String] = Map.empty): Long = {
    val s = df.sparkSession
    val vals = df.select(col(partCol).cast("string")).distinct().collect()
      .map(_.getString(0)).toSeq // partition list: bounded, driver-side
    require(!vals.contains(null), s"overwritePartitions: null $partCol unsupported")
    val newVals = vals.toSet
    val files = stageData(df, dir, Seq(partCol), Some(partCol))
    val statsCache = scala.collection.mutable.Map
      .empty[String, Map[String, Map[String, (String, Option[String], Option[String])]]]
    def statsFor(p: String) = {
      val parent = new Path(p).getParent
      val segDir = (if (parent.getName.startsWith("_route=")) parent.getParent
                    else parent).toString
      statsCache.getOrElseUpdate(segDir, loadStats(s, Seq(p)))
        .getOrElse(p, Map.empty).get(partCol)
    }
    commitFileList(s, dir, files, appendBase = true,
      meta = meta + ("overwrite_partitions" -> partCol),
      carriedFilter = line => parseLine(line) match {
        case ("F", _, p) => statsFor(p) match {
          case Some((_, Some(mn), Some(mx))) =>
            require(mn == mx,
              s"overwritePartitions: carried file $p spans $partCol [$mn,$mx]; " +
                "table is not partition-aligned")
            !newVals.contains(mn)
          case _ => throw new IllegalArgumentException(
            s"overwritePartitions: carried file $p lacks $partCol stats " +
              s"(commit with routeBy=Some($partCol), statsCols=Seq($partCol))")
        }
        case _ => true // delete lines keep masking the surviving older files
      })
  }

  // ------------------------------------------------------------ statistics

  /** Normalize a file URI to the `Path.toString` form manifests use
    * (`input_file_name()` yields `file:///x`, `listStatus` `file:/x`). */
  private def normPath(u: String): String = new Path(new java.net.URI(u)).toString

  /** Collect per-file min/max for `cols` over the staged segment and write
    * them as `stats.tsv` beside its part files: one
    * `<file> TAB <col> TAB <type> TAB <b64 min> TAB <b64 max>` line per
    * (file, col). Values are stringified then base64'd (string stats may
    * contain tabs/newlines); `-` marks an all-null file/column. The type
    * tag picks the prune-time comparator: numerics compare numerically,
    * dates/strings/timestamps lexicographically (ISO renderings order
    * correctly). Stats are immutable, like the files they describe. */
  private def writeSegmentStats(s: SparkSession, seg: Path, cols: Seq[String]): Unit = {
    val back = Engine.parquet(s, Seq(seg.toString))
    val schema = back.schema
    def tag(c: String): String = schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => "long"
      case DoubleType | FloatType                        => "double"
      case _: DecimalType                                => "decimal"
      case DateType | StringType | TimestampType         => "lex"
      case dt => throw new IllegalArgumentException(s"file stats unsupported for $c: $dt")
    }
    cols.foreach(tag) // validate before any work
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("string").as(s"mn_$c"), max(col(c)).cast("string").as(s"mx_$c")))
    val rows = back.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*).collect() // O(files in THIS segment) rows
    val b64 = java.util.Base64.getEncoder
    def enc(v: Any): String =
      if (v == null) "-" else b64.encodeToString(v.toString.getBytes("UTF-8"))
    val lines = rows.flatMap { r =>
      val f = normPath(r.getString(0))
      cols.zipWithIndex.map { case (c, i) =>
        s"$f\t$c\t${tag(c)}\t${enc(r.get(1 + 2 * i))}\t${enc(r.get(2 + 2 * i))}"
      }
    }
    val out = fsOf(s, seg).create(new Path(seg, "stats.tsv"), false)
    try out.write(lines.sorted.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** file -> col -> (type, min, max); files whose segment has no stats are
    * absent. Driver-side kilobyte reads, one per distinct segment. */
  private def loadStats(s: SparkSession, files: Seq[String])
      : Map[String, Map[String, (String, Option[String], Option[String])]] = {
    val b64 = java.util.Base64.getDecoder
    def dec(v: String): Option[String] =
      if (v == "-") None else Some(new String(b64.decode(v), "UTF-8"))
    files.map { f =>
      val parent = new Path(f).getParent
      // routed files live one `_route=` level below their segment root
      if (parent.getName.startsWith("_route=")) parent.getParent else parent
    }.distinct.flatMap { segDir =>
      val sp = new Path(segDir, "stats.tsv")
      val fs = fsOf(s, sp)
      if (!fs.exists(sp)) Seq.empty[(String, String, (String, Option[String], Option[String]))]
      else {
        val in = fs.open(sp)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
                    finally in.close()
        lines.filter(_.nonEmpty).map { l =>
          val Array(f, c, t, mn, mx) = l.split("\t", 5)
          (f, c, (t, dec(mn), dec(mx)))
        }
      }
    }.groupBy(_._1).map { case (f, es) => f -> es.map(e => e._2 -> e._3).toMap }
  }

  // ------------------------------------------------------------ blooms

  /** Build a per-file Bloom filter on each of `cols` over the staged
    * segment and write the blobs as a parquet table at `<seg>/_blooms`
    * (underscore prefix: invisible to data scans of the segment). One
    * sized-by-count pass then one grouped pass over the NEW segment only
    * (O(commit), never O(table)); the blob table is written distributed —
    * blooms never gather on the driver at build time. */
  private def writeSegmentBlooms(s: SparkSession, seg: Path, cols: Seq[String],
                                 fpp: Double): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val back = Engine.parquet(s, Seq(seg.toString))
    // bloom sizing = per-file row count, which every parquet footer already
    // carries — read footers driver-side (O(files) kilobyte reads) instead
    // of paying a full count() pass over the new segment per commit
    val conf = s.sparkContext.hadoopConfiguration
    val counts = listPartFiles(fsOf(s, seg), seg).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try normPath(f) -> r.getRecordCount finally r.close()
    }.toMap
    val bc = s.sparkContext.broadcast(counts)
    import s.implicits._
    cols.zipWithIndex.foreach { case (c, i) =>
      val blobs = back
        .select(input_file_name().as("f"), col(c).cast("string").as("v"))
        .as[(String, String)]
        .groupByKey(_._1)
        .mapGroups { (f, it) =>
          val nf = normPath(f)
          val bf = BloomFilter.create(math.max(64L, bc.value.getOrElse(nf, 64L)), fpp)
          it.foreach { case (_, v) => if (v != null) bf.putString(v) }
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          (nf, c, bos.toByteArray)
        }.toDF("f", "c", "bloom")
      blobs.write.mode(if (i == 0) "overwrite" else "append")
        .parquet(new Path(seg, "_blooms").toString)
    }
  }

  /** file -> deserialized bloom on `colName`; files whose segment has no
    * bloom sidecar (or no blob for this column) are absent. Blob reads are
    * O(files named), per-segment — prune-time metadata, not data. */
  private def loadBlooms(s: SparkSession, files: Seq[String], colName: String)
      : Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    import org.apache.spark.util.sketch.BloomFilter
    val want = files.toSet
    files.map { f =>
      val parent = new Path(f).getParent
      if (parent.getName.startsWith("_route=")) parent.getParent else parent
    }.distinct.flatMap { segDir =>
      val bp = new Path(segDir, "_blooms")
      if (!fsOf(s, bp).exists(bp)) Seq.empty
      else Engine.parquet(s, Seq(bp.toString))
        .filter(col("c") === colName && col("f").isin(want.toSeq: _*))
        .collect()
        .map(r => r.getString(0) ->
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2))))
    }.toMap
  }

  /** Point-lookup data skipping: the snapshot's data files whose bloom on
    * `colName` might contain ANY of `values`, plus the total file count.
    * The range-stats dual of [[pruneFiles]] for equality probes on a
    * column the table is NOT clustered by: min/max can't prune a
    * scattered key, a per-file bloom can. Files without a bloom are
    * conservatively kept; a bloom false positive keeps an extra file —
    * never drops a matching one. */
  def pruneFilesPoint(s: SparkSession, dir: String, colName: String,
                      values: Seq[String], version: Long = -1L): (Seq[String], Int) = {
    val v = if (version < 0) latestVersion(s, dir) else version
    require(v > 0, s"no snapshot at $dir")
    val files = readManifest(s, dir, v)
    val blooms = loadBlooms(s, files, colName)
    val kept = files.filter { f =>
      blooms.get(f) match {
        case Some(bf) => values.exists(bf.mightContainString)
        case None     => true // no bloom: cannot prune
      }
    }
    (kept, files.size)
  }

  /** Read `colName IN (values)` of a snapshot through [[pruneFilesPoint]]:
    * the parquet relation lists only files whose bloom might hold one of
    * the probe values, the residual typed filter drops bloom false
    * positives, and pending deletes still apply sequence-scoped. With
    * per-file blooms a point lookup on an unclustered key touches
    * O(files actually holding the key), not O(table) — the payoff of
    * `commit(bloomCols=...)`. */
  def readPoint(s: SparkSession, dir: String, colName: String,
                values: Seq[String], version: Long = -1L): DataFrame = {
    val v = if (version < 0) latestVersion(s, dir) else version
    val (kept, _) = pruneFilesPoint(s, dir, colName, values, v)
    val keptSet = kept.toSet
    val base =
      if (kept.nonEmpty && values.nonEmpty)
        scopedRead(s, dataEntries(s, dir, v).filter(e => keptSet(e._2)),
          deleteEntries(s, dir, v))
      else Engine.parquet(s, readManifest(s, dir, v)).filter(lit(false))
    val dt = base.schema(colName).dataType
    if (values.isEmpty) base
    else base.filter(values.map(x => col(colName) === lit(x).cast(dt)).reduce(_ || _))
  }

  /** Data-skipping core: the snapshot's data files whose [min,max] on
    * `colName` can intersect [lo,hi], plus the total file count. Pure
    * driver-side metadata — no data file is opened, so planning cost is
    * O(manifest), independent of table size. Files with no recorded stats
    * are conservatively kept (pruning is an optimization, never a filter);
    * files recorded all-null on `colName` are dropped (no row can match a
    * range predicate). `lo`/`hi` are strings in the column's natural
    * rendering and are compared with the comparator the stats were typed
    * with at write time. */
  def pruneFiles(s: SparkSession, dir: String, colName: String,
                 lo: String, hi: String, version: Long = -1L): (Seq[String], Int) = {
    val v = if (version < 0) latestVersion(s, dir) else version
    require(v > 0, s"no snapshot at $dir")
    val files = readManifest(s, dir, v)
    val stats = loadStats(s, files)
    def le(t: String, a: String, b: String): Boolean = t match {
      case "long"    => a.toLong <= b.toLong
      case "double"  => a.toDouble <= b.toDouble
      case "decimal" => BigDecimal(a) <= BigDecimal(b)
      case _         => a <= b
    }
    val kept = files.filter { f =>
      stats.get(f).flatMap(_.get(colName)) match {
        case Some((t, Some(mn), Some(mx))) => le(t, lo, mx) && le(t, mn, hi)
        case Some((_, None, None))         => false // all-null: no row in [lo,hi]
        case _                             => true  // no stats: cannot prune
      }
    }
    (kept, files.size)
  }

  /** Read `colName BETWEEN lo AND hi` of a snapshot through [[pruneFiles]]:
    * the plan's parquet scan lists ONLY the surviving files, then the
    * residual typed filter runs over them (file stats prune whole files;
    * parquet row-group stats prune within the survivors; the filter
    * catches the rest). Pending deletes still apply. This is the read-side
    * payoff of `commit(statsCols=...)`: a narrow predicate on a
    * well-clustered table touches O(matching files), not O(table). */
  def readPruned(s: SparkSession, dir: String, colName: String,
                 lo: String, hi: String, version: Long = -1L): DataFrame = {
    val v = if (version < 0) latestVersion(s, dir) else version
    val (kept, _) = pruneFiles(s, dir, colName, lo, hi, v)
    val keptSet = kept.toSet
    val base =
      if (kept.nonEmpty)
        scopedRead(s, dataEntries(s, dir, v).filter(e => keptSet(e._2)),
          deleteEntries(s, dir, v))
      else Engine.parquet(s, readManifest(s, dir, v)).filter(lit(false))
    val dt = base.schema(colName).dataType
    base.filter(col(colName) >= lit(lo).cast(dt) &&
                col(colName) <= lit(hi).cast(dt))
  }

  // ------------------------------------------------------------ change feed

  /** Row-level change feed: everything an incremental consumer applies to
    * move its copy of the table from `fromV` to `toV`. Appends in the
    * window surface as `_change_type='insert'` rows read from EXACTLY the
    * data files added between the versions — cost O(changed data), never
    * O(table) — already masked by any window delete with a HIGHER
    * sequence than their file (a row inserted then deleted in-window was
    * never visible at `toV`; a key deleted then re-appended IS, and
    * surfaces as an insert). Deletes added in the window surface as
    * `_change_type='delete'` rows carrying the delete-key columns (other
    * columns null). The consumer applies the DELETES to its `fromV` copy
    * first — every row it holds predates the window, so all window
    * deletes apply to it — then adds the inserts, and lands exactly on
    * snapshot `toV`. Requires every commit in the window to be an append,
    * delete, or upsert: an overwrite/compaction rewrites files without
    * row identity, so no row-level diff exists and the call fails loudly
    * instead of guessing. */
  def changes(s: SparkSession, dir: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV >= 1 && toV > fromV, s"changes: need 1 <= fromV < toV, got $fromV..$toV")
    val oldData = readManifest(s, dir, fromV).toSet
    val newEntries = dataEntries(s, dir, toV)
    require(oldData.subsetOf(newEntries.map(_._2).toSet),
      s"changes($fromV,$toV): window contains an overwrite/compaction; no row-level diff exists")
    val added = newEntries.filterNot(e => oldData(e._2))
    val ins =
      if (added.nonEmpty) scopedRead(s, added, deleteEntries(s, dir, toV))
      else Engine.parquet(s, newEntries.map(_._2)).filter(lit(false))
    val dataSchema = ins.schema
    val insOut = ins.withColumn("_change_type", lit("insert"))
    val oldDel = deleteEntries(s, dir, fromV).map(_._2).toSet
    val newDel = deleteEntries(s, dir, toV).map(_._2).filterNot(oldDel)
    if (newDel.isEmpty) insOut
    else {
      val keys = Engine.parquet(s, newDel).dropDuplicates()
      val aligned = keys.select(dataSchema.fields.map { f =>
        (if (keys.columns.contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)
      }.toSeq: _*)
      insOut.unionByName(aligned.withColumn("_change_type", lit("delete")))
    }
  }

  /** Merge a stored additive-aggregate materialization with signed delta
    * frames (same schema: `groupCols` plus numeric aggregate columns).
    * Insert deltas carry positive contributions, delete deltas negative;
    * a group whose `countCol` reaches zero has no surviving rows and
    * drops from the result. This is the apply step of incremental view
    * maintenance over [[changes]]: cost O(|state| + |deltas|), never a
    * rescan of the base table. Only works for additive aggregates
    * (count/sum and anything derivable from them). */
  def mergeAggDeltas(state: DataFrame, deltas: Seq[DataFrame],
                     groupCols: Seq[String], countCol: String): DataFrame = {
    val aggCols = state.columns.filterNot(groupCols.contains).toSeq
    require(aggCols.contains(countCol), s"countCol $countCol not in ${state.columns.toSeq}")
    val merged = deltas.foldLeft(state)(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(aggCols.head).as(aggCols.head),
           aggCols.tail.map(c => sum(col(c)).as(c)): _*)
    merged.filter(col(countCol) > 0)
  }

  /** Rewrite the CURRENT snapshot into ~`targetBytes`-sized files and
    * commit the result as a new snapshot (logical overwrite) tagged
    * `#compaction=true` — the "rewrite data files" maintenance op an
    * append-forever table eventually needs. Older versions are
    * untouched: their manifests still name the old files, which
    * [[expire]] collects once they leave the retention window. Rows are
    * identical by construction (one reshape, no predicate), so readers
    * switching to the compacted snapshot see the same table in fewer,
    * right-sized files — and pending deletes MATERIALIZE (the rewrite
    * reads merge-on-read output and the new manifest carries no `D`
    * lines).
    *
    * Layout is preserved, not destroyed: `routeBy` keeps the table
    * partition-aligned (so [[overwritePartitions]] keeps working after
    * maintenance), `sortBy` range-clusters the rewrite (so q152-style
    * stats keep pruning), and `statsCols`/`bloomCols` regenerate the
    * sidecars for the new files — a compaction that silently dropped
    * them would un-prune every future scan. */
  def compact(s: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024,
              routeBy: Option[String] = None,
              sortBy: Seq[String] = Seq.empty,
              statsCols: Seq[String] = Seq.empty,
              bloomCols: Seq[String] = Seq.empty): Long = {
    val latest = latestVersion(s, dir)
    require(latest > 0, s"no snapshot to compact at $dir")
    val files = readManifest(s, dir, latest)
    val fs = fsOf(s, new Path(dir))
    val total = files.map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val base = read(s, dir, latest)
    val shaped = routeBy match {
      case Some(c) =>
        val r = base.repartition(col(c)) // partitionBy re-splits exactly per value
        if (sortBy.nonEmpty) r.sortWithinPartitions(sortBy.map(col): _*) else r
      case None if sortBy.nonEmpty =>
        base.repartitionByRange(n, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      case None => base.repartition(n)
    }
    commit(shaped, dir, append = false, Map("compaction" -> "true"),
      statsCols = statsCols, routeBy = routeBy, bloomCols = bloomCols)
  }

  /** Drop manifests older than `keepFrom` (the latest snapshot is always
    * kept) and delete every data file no kept manifest references —
    * including orphaned segments from crashed commits. Returns
    * (manifests dropped, data files deleted). The walk is metadata-only:
    * file listings, never file contents. */
  def expire(s: SparkSession, dir: String, keepFrom: Long): (Int, Int) = {
    val fs = fsOf(s, new Path(dir))
    // crash cleanup first: a manifest whose publisher died between create
    // and write never gains its #eof terminator — unreadable by anyone
    // (readers spin then fail loudly). Deleting it frees the version for
    // the next commit; nothing can have built on it, because carrying its
    // lines forward would have required reading it. The mtime grace keeps
    // this from racing a LIVE publisher inside its create-to-write window.
    val graceMs = 60000L
    def complete(v: Long): Boolean = {
      val in = fs.open(manifestPath(dir, v))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList.filter(_.nonEmpty) finally in.close()
      lines.lastOption.toSeq == Seq(Eof)
    }
    var latest = latestVersion(s, dir)
    (1L to latest).foreach { v =>
      val mp = manifestPath(dir, v)
      if (fs.exists(mp) && !complete(v) &&
          System.currentTimeMillis() - fs.getFileStatus(mp).getModificationTime > graceMs)
        fs.delete(mp, false): Unit
    }
    latest = latestVersion(s, dir)
    val keepStart = math.max(1L, math.min(keepFrom, latest))
    val dropped = (1L until keepStart).filter(v => fs.exists(manifestPath(dir, v)))
    // keep every file a retained manifest references — data AND delete
    // files (a dropped delete file would break merge-on-read for versions
    // still inside the retention window)
    // an incomplete manifest inside the grace window contributes nothing:
    // nobody can read it, so its staged segment is orphan debris anyway
    val keptFiles = (keepStart to latest)
      .filter(v => fs.exists(manifestPath(dir, v)) && complete(v))
      .flatMap(v => readManifest(s, dir, v) ++ deleteEntries(s, dir, v).map(_._2)).toSet
    dropped.foreach(v => fs.delete(manifestPath(dir, v), false))
    val dataDir = new Path(dir, "data")
    var deleted = 0
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { segSt =>
      val parts = listPartFiles(fs, segSt.getPath) // flat AND `_route=` routed
      val (kept, dead) = parts.partition(keptFiles.contains)
      dead.foreach { p => if (fs.delete(new Path(p), false)) deleted += 1 }
      if (kept.isEmpty) fs.delete(segSt.getPath, true) // now-empty or orphaned segment
    }
    (dropped.size, deleted)
  }
}
