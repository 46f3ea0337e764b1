package graft.sources

import graft.Engine
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable on-disk store for frozen screening indexes (the dedup signature
  * index behind q131/q134 and the vector sign-LSH index behind q140):
  * named parquet tables under one directory, validated by a source stamp.
  *
  * Why this exists: a session-cached index survives queries, not process
  * restarts — and at 100 TB a restart that rescans the corpus to rebuild
  * signatures costs more than every screening batch it will ever serve.
  * Persisting the index makes "corpus never rescanned" true across
  * process lifetimes: a new job validates the stamp (filesystem metadata
  * only — no data read) and probes the stored tables directly.
  *
  * Consistency model: an index is DERIVED data, always rebuildable from
  * its source, so the floor is "rebuild on miss" — but every replace in
  * the store ([[write]], [[replaceTable]], [[copy]], segment compaction)
  * is staged and swapped in by the one rename-aside [[Storage.swap]], so
  * no crash window loses the old copy either. [[write]] stages
  * everything, stamp included; [[isCurrent]]/[[readStamp]] and the table
  * readers heal a crash at entry ([[Storage.heal]]: aside copy restored
  * when live is missing, stale aside dropped otherwise), so the store
  * self-heals on its universal entry points.
  * Any crash therefore leaves the old valid index (possibly under the
  * aside name, healed on next touch), a complete new index, or a
  * stampless partial that fails [[isCurrent]] and rebuilds. The brief
  * window between the two renames can still strand a concurrent READER
  * of the old index (two metadata ops wide), which is why the fixture
  * rigs serialize build-vs-load under a JVM lock; a multi-writer
  * production deployment would version the directory name instead
  * (write `path.v{n+1}`, flip a pointer file).
  *
  * Reference provenance: the reference persists nothing between runs —
  * its idempotency state IS a database table it re-queries per file
  * (/root/reference/data_pipeline.py:138-142). This store is that idea
  * applied to the derived signature tables of the LLM-pipeline extension
  * surface.
  */
object IndexStore {

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    FileSystem.get(p.toUri, s.sparkContext.hadoopConfiguration)

  /** Cheap source fingerprint: per input path, total file bytes + max
    * modification time (filesystem metadata only — never a data scan).
    * A regenerated fixture or a rewritten lake partition changes the
    * stamp, so a stale index can never silently serve wrong screens.
    */
  def sourceStamp(s: SparkSession, paths: Seq[String]): String =
    paths.map { p =>
      val path = new Path(p)
      val fs = fsOf(s, path)
      val files =
        if (!fs.exists(path)) Seq.empty
        else if (fs.getFileStatus(path).isFile) Seq(fs.getFileStatus(path))
        else fs.listStatus(path).filter(_.isFile).toSeq
      val len = files.map(_.getLen).sum
      val mt = if (files.isEmpty) 0L else files.map(_.getModificationTime).max
      s"$p:$len:$mt"
    }.mkString(";")

  private def stampFile(path: String) = new Path(path, "_STAMP")

  private def readStampLines(s: SparkSession, path: String): Seq[String] = {
    val sf = stampFile(path)
    val fs = fsOf(s, sf)
    if (!fs.exists(sf)) Seq.empty
    else {
      val in = fs.open(sf)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
  }

  /** The whole-store swap's names, beside the store: the aside copy
    * `.<name>_old`, and the tag-unique staging dirs of [[write]]
    * (`_building_`, as [[replaceTable]] stages a table inside the store)
    * and [[copy]] (`_copying_`). A FRESH staging dir marks
    * a writer in flight, so the heal leaves the aside copy alone until it
    * ages past [[SwapInFlightMs]] (ADVICE r16): the bounded-staleness
    * trade of recognizing liveness from the filesystem alone. Beyond it
    * the store keeps one writer per path across processes (the fixture
    * rigs serialize under a JVM lock; a multi-writer deployment versions
    * the directory name). */
  private[graft] val SwapInFlightMs = 10 * 60 * 1000L
  private val Building = "_building_"
  private val Copying = "_copying_"
  private def storeBak(live: Path): Path = new Path(live.getParent, s".${live.getName}_old")
  private def staging(live: Path, kind: String): Path =
    new Path(live.getParent, s".${live.getName}$kind$stagingTag")
  private def healStore(s: SparkSession, path: String): Unit = {
    val live = new Path(path)
    Storage.heal(fsOf(s, live), live, storeBak(live),
      Seq(Building, Copying).map(k => s".${live.getName}$k"))
  }

  /** True iff the index at `path` exists and was built from sources
    * matching `stamp`. The stamp is written as part of the atomic swap,
    * so a half-built index never validates; a crash between [[write]]'s
    * two renames is healed here (the build-if-stale gate every consumer
    * goes through), restoring the aside copy before the check. */
  def isCurrent(s: SparkSession, path: String, stamp: String): Boolean = {
    healStore(s, path)
    readStampLines(s, path).headOption.contains(stamp)
  }

  /** The build-if-stale gate every stamped store goes through: under a
    * JVM lock for `path` alone ([[withPathLock]]), heal and check the
    * stamp through [[isCurrent]] and run `build` only when it is stale.
    * Two callers of one path build once; builds of different stores
    * never wait on each other. `build` writes its own stamp, as the
    * store's crash model requires: a one-step shared store inside
    * [[write]]'s staged swap (a second JVM racing on the same directory
    * then never sees a complete store without its stamp, or a stamp
    * without its store); a multi-step store last, via [[writeStamp]],
    * after a first step staged under a building stamp. A build that
    * throws leaves the stamp stale, so the next call rebuilds. */
  def stamped(s: SparkSession, path: String, stamp: String)(build: => Unit): Unit =
    withPathLock(path) {
      if (!isCurrent(s, path, stamp)) build
    }

  /** This JVM's sanitized process tag: what makes a [[workPath]], and
    * every staging directory name, unique per process. */
  private lazy val processTag: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9]", "")

  /** A staging-name tag unique per process and attempt — every staged
    * store, table and snapshot segment is named with one, so two JVMs
    * writing the same target stage apart. */
  private[sources] def stagingTag: String = s"${processTag}_${System.nanoTime()}"

  /** A process-unique working path, `<base>_<processTag>`, registered for
    * removal at JVM exit — for every store one process mutates or rebuilds
    * per run (branches, feed-synced and streaming stores, per-run lakes).
    * Two JVMs sharing target/ (Verify beside Bench) therefore never
    * interleave writes into one directory, and no run leaves its copies
    * behind. Callers pass `target/tmp/<kind>_<dirTag(dir)>`, or a shared
    * store's path plus a suffix for a branch of it. */
  def workPath(base: String): String = {
    val path = s"${base}_$processTag"
    cleanupAtExit(path)
    path
  }

  /** `dir` as one path-safe name component (the fixture-dir part of every
    * store path). */
  def dirTag(dir: String): String = dir.replaceAll("[^A-Za-z0-9.]+", "_")

  /** Delete the store at `path`, if there is one — for a work store
    * rebuilt from scratch on every call. */
  def remove(s: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(s, p)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }

  /** Register a directory for removal at JVM exit. A shutdown hook, not an
    * eager delete: a work store must outlive the query that built it (the
    * probe reads it lazily), and a FOREIGN process's live directory is
    * never touched (two JVMs legitimately share target/). */
  private[graft] val cleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      cleanupDirs.forEach(d => scala.util.Try(rm(new java.io.File(d))): Unit)
    }, "graft-workdir-cleanup"))
  private[graft] def cleanupAtExit(path: String): Unit = {
    cleanupHook
    cleanupDirs.add(path): Unit
  }

  /** The stored stamp, if any — compaction re-persists under the SAME
    * stamp (the source corpus it fingerprints is unchanged by a layout
    * rewrite). Heals a mid-swap crash like [[isCurrent]]. */
  def readStamp(s: SparkSession, path: String): Option[String] = {
    healStore(s, path)
    readStampLines(s, path).headOption
  }

  /** Key=value metadata recorded at [[write]] time (e.g. the LSH bit
    * width — an index property that probes must reuse verbatim). */
  def readMeta(s: SparkSession, path: String): Map[String, String] =
    readStampLines(s, path).drop(1).flatMap { line =>
      line.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _           => None
      }
    }.toMap

  /** Write the stamp (+meta) file into `path`. For stores that manage
    * their own directory layout (e.g. [[SketchStore]]'s hive-partitioned
    * blobs): write the data first, stamp LAST, so a crashed build never
    * validates. The underscore name keeps parquet readers from treating
    * it as data (same convention as _SUCCESS). */
  def writeStamp(s: SparkSession, path: String, stamp: String,
                 meta: Map[String, String] = Map.empty): Unit = {
    require(!stamp.contains("\n"), "stamp must be a single line")
    val txt = (stamp +: meta.toSeq.sorted.map { case (k, v) => s"$k=$v" })
      .mkString("\n")
    val fs = fsOf(s, new Path(path))
    val out = fs.create(stampFile(path), true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  /** Run independent Spark write jobs concurrently. The multi-table index
    * rigs (build, branch-refresh, compact) are dominated by MANY SMALL
    * JOBS, each paying fixed scheduling + file-commit overhead — writing
    * the tables from one thread serializes that overhead for no reason
    * (the tables are independent by construction: localCheckpointed
    * increments or disjoint outputs). Submitting them from a small pool
    * overlaps the fixed costs; Spark's scheduler interleaves the jobs.
    * Returns the results in task order; rethrows the first failure after
    * all tasks settle. */
  private lazy val ioPool = java.util.concurrent.Executors.newFixedThreadPool(4,
    (r: Runnable) => {
      val t = new Thread(r, "graft-index-io")
      t.setDaemon(true)
      t
    })
  def inParallel[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.sizeIs <= 1) tasks.map(_.apply())
    else {
      val futs = tasks.map { t =>
        ioPool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() })
      }
      val got = futs.map(f => scala.util.Try(f.get()))
      got.flatMap(_.failed.toOption).foreach(e => throw e)
      got.map(_.get)
    }

  /** Build-or-replace the index: every table, and the stamp/meta file,
    * are staged into a tag-unique sibling, healed first and swapped over
    * `path` through [[Storage.swap]] (see the object scaladoc for the
    * consistency model). */
  def write(s: SparkSession, path: String, stamp: String,
            tables: Seq[(String, DataFrame)],
            meta: Map[String, String] = Map.empty): Unit =
    writeStaged(s, path, stamp, meta) { tmp =>
      inParallel(tables.map { case (name, df) =>
        () => df.write.mode("overwrite").parquet(new Path(tmp, name).toString)
      }): Unit
    }

  /** [[write]] for a store that lays out its own directory: `stage`
    * fills the staging dir, the stamp lands in it last, and the whole
    * store swaps in. A race lost to a concurrent writer is benign iff
    * what landed validates against OUR stamp (same sources). */
  def writeStaged(s: SparkSession, path: String, stamp: String,
                  meta: Map[String, String] = Map.empty)(stage: Path => Unit): Unit = {
    val live = new Path(path)
    val fs = fsOf(s, live)
    healStore(s, path)
    val tmp = staging(live, Building)
    stage(tmp)
    writeStamp(s, tmp.toString, stamp, meta)
    try Storage.swap(fs, live, tmp, storeBak(live), fs.exists(live))
    catch { case e: java.io.IOException => if (!isCurrent(s, path, stamp)) throw e }
  }

  /** Rewrite `tables` of the store at `path` through one [[write]] under
    * its stored stamp and meta (a layout rewrite leaves the sources it
    * fingerprints unchanged). Every other stored table rides along,
    * pinned first: the write replaces the very files it reads. */
  def rewrite(s: SparkSession, path: String, tables: Seq[(String, DataFrame)]): Unit = {
    val names = tables.map(_._1).toSet
    val others = tableNames(s, path).filterNot(names)
      .map(t => t -> read(s, path, t).localCheckpoint())
    write(s, path, readStamp(s, path).getOrElse("manual"), tables ++ others, readMeta(s, path))
  }

  /** Copy a stored index wholesale — "branch" it before mutating with
    * [[append]], leaving the source frozen. Pure file copy, STAGED and
    * swapped in like [[write]]: the destination is absent, the old
    * complete copy or the new one, never a torn copy whose `_STAMP`
    * (listed before the tables) validates over missing tables. A
    * complete copy another brancher swapped in first is accepted. */
  def copy(s: SparkSession, from: String, to: String): Unit = {
    val src = new Path(from)
    val dst = new Path(to)
    val fs = fsOf(s, src)
    healStore(s, to)
    val tmp = staging(dst, Copying)
    if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, tmp, false,
        s.sparkContext.hadoopConfiguration)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(s"index copy: $from -> $to failed")
    }
    try Storage.swap(fs, dst, tmp, storeBak(dst), fs.exists(dst))
    catch { case _: Storage.SwapRaced => }
  }

  /** Read one named table of a stored index. If the table directory is
    * missing, first heal it ([[healTable]]) — a [[replaceTable]] crash
    * between its two renames leaves the only copy under the `.old` bak
    * name, and the reader must serve it (old data, never nothing). The
    * exists probe is one metadata call and runs only on construction of
    * the frame, not per row. */
  def read(s: SparkSession, path: String, table: String): DataFrame = {
    val t = new Path(new Path(path), table)
    if (!fsOf(s, t).exists(t)) healTable(s, path, table)
    Engine.parquet(s, Seq(t.toString))
  }

  /** The stored table names: every non-hidden subdirectory (underscore/dot
    * entries are the stamp and staging dirs). Lets a whole-store rewrite
    * (e.g. segment compaction) enumerate what it must carry through
    * instead of assuming a single-table layout. */
  def tableNames(s: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
  }

  /** Append rows to one named table of a stored index — the refresh path:
    * an ingest loop appends the signatures of the docs it just ACCEPTED,
    * so the next batch screens against corpus + accepted without anything
    * being rebuilt. Leaves the stamp untouched (the stamp fingerprints
    * the BASE corpus; refreshed rows are additions beyond it). */
  def append(s: SparkSession, path: String, table: String, df: DataFrame): Unit =
    df.write.mode("append").parquet(new Path(new Path(path), table).toString)

  /** EXACTLY-ONCE tagged-segment append — the streaming refresh's commit
    * unit (q215). The segment lands as its own hive partition directory
    * (`table/partCol=partVal`), so the directory IS the commit-ledger
    * entry: committed iff its `_COMMITTED` marker exists. Semantics per
    * call:
    *  - marker present  -> pure metadata check, NOTHING read or written,
    *    returns false (the replay a recovering stream performs after a
    *    crash between sink write and checkpoint advance is a no-op);
    *  - marker absent   -> (re)write the whole segment dir with mode
    *    overwrite — a crash mid-write left no marker, so the retry
    *    replaces the partial files instead of duplicating beside them —
    *    then create the marker; returns true.
    * Readers get the partition value back as a column (Spark partition
    * discovery), and a horizon probe's `partCol <= h` predicate becomes
    * PARTITION PRUNING — whole segment directories skipped, stronger
    * than the row-group min/max pruning the single-dir layout gets.
    * Like [[append]], the stamp is untouched. Single-writer-per-segment
    * by construction (a micro-batch owns its batchId); two SAME-PROCESS
    * writers racing one segment linearize on a per-segment JVM lock
    * (first writes, second sees the marker — CrashRecoverySpec pins it);
    * two writers in DIFFERENT processes remain excluded by convention
    * and would need distinct partVal spaces, same as two writers of any
    * log. */
  // per-path JVM locks: two same-process callers on one path LINEARIZE
  // (the [[stamped]] gate builds a store once; two writers racing one
  // segment: the first writes and commits, the second observes the
  // marker and no-ops). REFERENCE-COUNTED per exact path (ADVICE r15: the
  // 64-stripe table could serialize two UNRELATED tables' commits on a
  // hash collision — a full parquet write held the monitor): each key's
  // entry exists only while a caller holds or waits on it, so the table
  // is bounded by CONCURRENT holders, not by how many paths a long-lived
  // process ever touched, and distinct paths never contend. Cross-process
  // writers remain excluded by convention (a micro-batch owns its
  // batchId; a process-unique [[workPath]] owns its directory).
  private final class PathLock { var refs = 0 }
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, PathLock]()
  private[graft] def withPathLock[T](key: String)(body: => T): T = {
    val l = pathLocks.compute(key, (_, v) => {
      val x = if (v == null) new PathLock else v
      x.refs += 1
      x
    })
    try l.synchronized(body)
    finally pathLocks.compute(key, (_, v) => {
      v.refs -= 1
      if (v.refs == 0) null else v
    }): Unit
  }

  def appendSegmentIfAbsent(s: SparkSession, path: String, table: String,
      partCol: String, partVal: Long, df: DataFrame): Boolean = {
    val seg = new Path(new Path(new Path(path), table), s"$partCol=$partVal")
    withPathLock(seg.toString) {
      val fs = fsOf(s, seg)
      val marker = new Path(seg, "_COMMITTED")
      if (fs.exists(marker)) false
      else {
        df.write.mode("overwrite").parquet(seg.toString)
        fs.create(marker, true).close()
        true
      }
    }
  }

  /** Commit segment `segId` across the `tables` of a multi-table
    * tagged-segment store: each `frames` entry lands through
    * [[appendSegmentIfAbsent]], the writes overlapped as independent
    * jobs. Returns how many tables THIS call wrote. When every table
    * already carries the segment's marker, `frames` is never built: a
    * replay is marker stats alone, never a Spark job (the metadata no-op
    * the exactly-once contract promises recovering streams). */
  def commitSegment(s: SparkSession, path: String, tables: Seq[String],
      partCol: String, segId: Long, frames: => Seq[(String, DataFrame)]): Int =
    if (tables.forall(t => segmentCommitted(s, path, t, partCol, segId))) 0
    else inParallel(frames.map { case (t, df) =>
      () => appendSegmentIfAbsent(s, path, t, partCol, segId, df)
    }).count(identity)

  /** One segment's ledger entry: metadata-only (a single marker stat).
    * Lets a replaying writer skip building the segment's frames entirely
    * when every table already answers "committed". */
  def segmentCommitted(s: SparkSession, path: String, table: String,
      partCol: String, partVal: Long): Boolean = {
    val seg = new Path(new Path(new Path(path), table), s"$partCol=$partVal")
    fsOf(s, seg).exists(new Path(seg, "_COMMITTED"))
  }

  /** The COMMITTED partition values of a tagged-segment table: every
    * `partCol=N` directory whose `_COMMITTED` marker exists. Metadata
    * only (one directory listing + one marker stat per segment). A
    * directory without the marker is a crash leftover awaiting its
    * replay — readers must not see it. */
  def committedSegments(s: SparkSession, path: String, table: String,
      partCol: String): Seq[Long] = {
    val tbl = new Path(new Path(path), table)
    val fs = fsOf(s, tbl)
    if (!fs.exists(tbl)) Seq.empty
    else fs.listStatus(tbl).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .filter(st => fs.exists(new Path(st.getPath, "_COMMITTED")))
      .map(_.getPath.getName.stripPrefix(s"$partCol=").toLong).sorted
  }

  /** Read an EXPLICIT committed-segment set of a tagged-segment table —
    * the only correct reader for a table fed by [[appendSegmentIfAbsent]]
    * (ADVICE r13). Loads the named partition directories by explicit
    * path (basePath keeps `partCol` as a column), so an uncommitted
    * partial segment's files are never opened — not even for schema
    * inference, which matters because a crash mid-write can leave a torn
    * parquet footer that would fail ANY open — and a segment left out of
    * `segs` (an as-of horizon) is never listed into the scan's file index.
    * The set is explicit for multi-table stores whose visibility rule is
    * not a plain prefix (e.g. "a segment is visible iff committed in
    * EVERY table of the store" — the cross-table atomicity a multi-table
    * streaming index needs when a crash can land between two tables'
    * commits). Every requested segment must carry its marker. */
  def readSegments(s: SparkSession, path: String, table: String,
      partCol: String, segs: Seq[Long]): DataFrame = {
    val tbl = new Path(new Path(path), table).toString
    require(segs.nonEmpty, s"readSegments: empty segment set for $tbl")
    val committed = committedSegments(s, path, table, partCol).toSet
    val bad = segs.filterNot(committed)
    require(bad.isEmpty, s"readSegments: uncommitted segments $bad under $tbl")
    Engine.parquet(s, segs.map(v => s"$tbl/$partCol=$v"), Map("basePath" -> tbl))
  }

  /** The CROSS-TABLE visible segment set of a multi-table tagged-segment
    * store: segments committed in every one of `tables`. A crash between
    * two tables' commits of the same segment leaves it invisible
    * everywhere (no torn multi-table view); the recovering stream's
    * replay completes the missing tables and the segment appears
    * atomically. */
  def commonCommittedSegments(s: SparkSession, path: String,
      tables: Seq[String], partCol: String): Seq[Long] = {
    require(tables.nonEmpty, "commonCommittedSegments: no tables")
    tables.map(t => committedSegments(s, path, t, partCol).toSet)
      .reduce(_ intersect _).toSeq.sorted
  }

  /** Commit-ledger-aware compaction for a tagged-segment (partition-dir)
    * table — the rewrite [[graft.operators.Similarity.compactSeqSegments]]'s
    * refusal names as missing: collapse the COMPACTED segments' rows
    * into fresh range-sorted files under the set's SMALLEST segment id
    * (a genuinely committed id — writing them under a fixed `0` would
    * FORGE a ledger entry for an id never committed, silently no-op'ing
    * a later writer's first commit of that id) while PRESERVING the
    * ledger, so the exactly-once replay contract a recovering stream
    * depends on survives the rewrite. Concretely, the staged replacement
    * table carries:
    *  - `partCol=min(compacted)`: the compacted rows (their original
    *    `partCol` value is provenance, collapsed like the flat compaction
    *    collapses seg), range-partitioned on `rangeCols` and sorted on
    *    `sortCols` — the many-small-files erosion appends cause is
    *    undone in one pass;
    *  - a TOMBSTONE `partCol=v` directory (marker, no data) for every
    *    other compacted segment: the `_COMMITTED` marker IS the ledger
    *    entry [[appendSegmentIfAbsent]] checks, so a stream replaying a
    *    pre-compaction batch after a crash still sees "committed" and
    *    touches nothing;
    *  - every committed segment OUTSIDE the compacted set carried
    *    through unchanged (rows re-staged under their own `partCol=v` +
    *    marker). Uncommitted partial dirs are dropped by the swap —
    *    their replay legitimately rewrites.
    * `onlySegs` scopes the compacted set. For a MULTI-TABLE store pass
    * the JOINT visible set ([[commonCommittedSegments]]): a segment
    * committed in this table but torn in another must NOT be folded into
    * a visible segment — that would smuggle a torn segment's rows into
    * the cross-table view (postings without their dictionary deltas);
    * carried through as its own segment it stays invisible until the
    * recovering replay heals the other tables. Default (None) compacts
    * this table's whole committed set — correct for single-table stores.
    * The swap is [[Storage.swap]] under FIXED tmp/bak names, with
    * [[Storage.heal]] at entry healing a previous crash (mid-stage: tmp
    * dropped, live untouched; mid-swap: bak restored).
    * Only the one table directory moves — stamp, meta, and every other
    * table of the store are untouched by construction. New segments
    * commit normally after compaction (the ledger keeps growing); as-of
    * horizons below the compaction point are forfeited, the same trade
    * as the flat [[graft.operators.Similarity.compactSeqSegments]].
    *
    * `foldInto` (optional) REPLACES the compacted set's rows with the
    * caller's frame — the hook a MASKED store uses to apply its segment-
    * scoped mask sidecars during compaction (fold-on-compact), so the
    * base segment holds exactly the visible rows and the mask tables can
    * compact to empty. The caller asserts the frame is the semantic
    * equivalent of the compacted rows AND that it is pinned (checkpointed
    * or otherwise independent of the table's current files) — it stages
    * as-is, with no defensive re-checkpoint and no read of the rows it
    * replaces. `intoSeg` (optional, must be a member of the compacted
    * set — any other id would FORGE a ledger entry) overrides which
    * committed id receives the folded rows. A masked store MUST pass the
    * set's MAX: its masks scope `row.partCol < mask.partCol`, so folded
    * rows parked under the set's min would be re-hidden by the very
    * masks already folded into them (a restated row and the stale mask
    * that superseded its predecessor land in the same segment; fold
    * collapses that distinction, and only the max id keeps every already-
    * applied mask strictly-not-newer than every folded row). Unmasked
    * stores keep the default min — the historical q217/q220 layout. */
  def compactSegmentLedger(s: SparkSession, path: String, table: String,
      partCol: String, sortCols: Seq[String], rangeCols: Seq[String],
      onlySegs: Option[Seq[Long]] = None,
      foldInto: Option[DataFrame] = None,
      intoSeg: Option[Long] = None): Unit = {
    import org.apache.spark.sql.functions.col
    val tbl = new Path(new Path(path), table)
    val fs = fsOf(s, tbl)
    val tmp = new Path(new Path(path), s".$table.compacting")
    val bak = new Path(new Path(path), s".$table.precompact")
    // recovery BEFORE the layout check: a compactor that died between its
    // swap's two renames left no live table at all (bak holds the only
    // copy) — probing layout first would reject the store it must heal
    Storage.heal(fs, tbl, bak, leftover = Some(tmp))
    require(isPartitionedTable(s, path, table),
      s"compactSegmentLedger: table '$table' at $path is not partition-dir " +
        "layout; use the flat compaction for seg-as-data-column stores")
    val committed = committedSegments(s, path, table, partCol)
    require(committed.nonEmpty, s"compactSegmentLedger: no committed segments at $tbl")
    val segs = onlySegs.fold(committed) { want =>
      val missing = want.filterNot(committed.contains)
      require(missing.isEmpty,
        s"compactSegmentLedger: segments $missing not committed at $tbl")
      want.sorted
    }
    require(segs.nonEmpty, s"compactSegmentLedger: empty compaction set for $tbl")
    val into = intoSeg.getOrElse(segs.min)
    require(segs.contains(into),
      s"compactSegmentLedger: intoSeg $into not in the compacted set $segs — " +
        "staging under it would forge a ledger entry for an uncommitted id")
    def stage(rows: org.apache.spark.sql.DataFrame, v: Long): Unit = {
      rows.repartitionByRange(rangeCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
        .write.mode("overwrite").parquet(new Path(tmp, s"$partCol=$v").toString)
      fs.create(new Path(new Path(tmp, s"$partCol=$v"), "_COMMITTED"), true).close()
    }
    // the rewrite reads the very files the swap replaces — pin the rows
    // (a foldInto frame is pinned by the caller's contract, so staging
    // it through a second checkpoint would just duplicate its blocks)
    stage(foldInto.getOrElse(
      readSegments(s, path, table, partCol, segs).drop(partCol).localCheckpoint()),
      into)
    segs.filter(_ != into).foreach { v =>
      val d = new Path(tmp, s"$partCol=$v")
      if (!fs.mkdirs(d))
        throw new java.io.IOException(s"compactSegmentLedger: cannot create tombstone $d")
      fs.create(new Path(d, "_COMMITTED"), true).close()
    }
    // committed segments OUTSIDE the compacted set: carried through as
    // their own segments (rows + marker), so a cross-table-torn segment
    // stays ITS OWN invisible segment instead of leaking into the view
    committed.filterNot(segs.contains).foreach { v =>
      stage(readSegments(s, path, table, partCol, Seq(v))
        .drop(partCol).localCheckpoint(), v)
    }
    Storage.swap(fs, tbl, tmp, bak, present = true)
  }

  /** True iff the stored table is laid out as hive partition directories
    * (the [[appendSegmentIfAbsent]] layout) rather than a flat file set.
    * The two layouts must never mix under one table root — Spark
    * partition discovery rejects the mixture — so layout-assuming
    * rewrites (segment compaction) gate on this. */
  def isPartitionedTable(s: SparkSession, path: String, table: String): Boolean = {
    val tbl = new Path(new Path(path), table)
    val fs = fsOf(s, tbl)
    fs.exists(tbl) && fs.listStatus(tbl).exists(st =>
      st.isDirectory && st.getPath.getName.contains("="))
  }

  private def bloomRow(s: SparkSession, bf: org.apache.spark.util.sketch.BloomFilter,
                       cap: Long, fpp: Double): DataFrame = {
    import s.implicits._
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    Seq((bos.toByteArray, cap, fpp)).toDF("blob", "cap_items", "fpp")
  }

  /** Build-or-replace the `bloom` sidecar table from `keys` (its FIRST
    * column is the key; one distributed pass, partial filters merged).
    * The blob row records the create-params so refresh blobs share
    * geometry and OR-merge at load. `headroom` over-provisions capacity
    * for [[appendBloom]] increments. ~1.2 MB per million keys at
    * fpp=0.01. Returns the provisioned capacity. */
  def writeBloom(s: SparkSession, path: String, keys: DataFrame,
                 fpp: Double = 0.01, headroom: Long = 4L): Long = {
    val cap = math.max(1024L, keys.count() * headroom)
    val bf = keys.stat.bloomFilter(keys.columns.head, cap, fpp)
    replaceTable(s, path, "bloom", bloomRow(s, bf, cap, fpp))
    cap
  }

  /** Append one blob covering `keys`, created with the stored blob's
    * exact (cap, fpp) so all blobs stay mergeable. */
  def appendBloom(s: SparkSession, path: String, keys: DataFrame): Unit = {
    val rows = read(s, path, "bloom").select("cap_items", "fpp").limit(1).collect()
    require(rows.nonEmpty,
      s"appendBloom: no base bloom blob at $path to take (cap, fpp) geometry from")
    val m = rows(0)
    val bf = keys.stat.bloomFilter(keys.columns.head, m.getLong(0), m.getDouble(1))
    append(s, path, "bloom", bloomRow(s, bf, m.getLong(0), m.getDouble(1)))
  }

  /** Load the sidecar: every blob (base + refresh increments) OR-merged —
    * kilobytes to megabytes, never a data scan. */
  def loadBloom(s: SparkSession, path: String): org.apache.spark.util.sketch.BloomFilter =
    read(s, path, "bloom").select("blob").collect()
      .map(r => org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0))))
      .reduceLeft { (a, b) => a.mergeInPlace(b); a }

  /** Sequence-scoped delete-mask sidecar — the lake's own merge-on-read
    * equality-delete pattern ([[Snapshots.commitDelete]], q151) ported to
    * index stores. Routine feed deletes land as a KILOBYTE row-set
    * `(key, seq)` in the `deletes` table instead of an O(index) physical
    * rewrite: the write is delta-sized, probes apply the mask as a
    * broadcast anti-join scoped `row.segment <= mask.seq` (so a later
    * re-insertion of a masked key under a NEW segment is immediately
    * visible — the Iceberg-v2 scoping rule, no compaction needed), and
    * compaction FOLDS the mask into the physical layout and drops it.
    * Takedown keeps the physical-rewrite path: erasure must remove
    * bytes; a mask only hides them. */
  val DeleteMaskTable = "deletes"

  /** Append `(key, seq)` mask rows — O(delta) bytes, no table touched. */
  def appendDeleteMask(s: SparkSession, path: String, keysWithSeq: DataFrame): Unit =
    append(s, path, DeleteMaskTable, keysWithSeq)

  /** The stored mask, if any — kilobytes, broadcast by every prober. */
  def readDeleteMask(s: SparkSession, path: String): Option[DataFrame] = {
    val t = new Path(new Path(path), DeleteMaskTable)
    if (fsOf(s, t).exists(t)) Some(read(s, path, DeleteMaskTable)) else None
  }

  /** The stored mask, or an EMPTY `(keyCol BIGINT, seq BIGINT)` frame if
    * the store has none. A stamped store without a mask is a legal state
    * — the mask was folded into the physical layout (manually or by the
    * [[maskFoldThreshold]] policy) and dropped — so masked probes must
    * degrade to a no-op anti-join, not hard-fail (ADVICE r15 item 2).
    * All four families' masks share the (long key, long seq) shape. */
  def readDeleteMaskOrEmpty(s: SparkSession, path: String, keyCol: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    readTableOrEmpty(s, path, DeleteMaskTable,
      StructType(Seq(StructField(keyCol, LongType), StructField("seq", LongType))))
  }

  /** Read one named table, or an empty frame of `schema` if the store has
    * no such table — for OPTIONAL sidecars (masks) whose absence is a
    * legal post-fold state, not a broken store. Heals a mid-swap crash
    * like [[read]] before concluding the table is absent. */
  def readTableOrEmpty(s: SparkSession, path: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val t = new Path(new Path(path), table)
    val fs = fsOf(s, t)
    if (!fs.exists(t)) healTable(s, path, table)
    if (fs.exists(t)) Engine.parquet(s, Seq(t.toString))
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The delete-mask auto-fold threshold: fold once masked keys exceed
    * this fraction of the key table's physical rows. A mask is the right
    * price for ROUTINE deletes (O(delta) writes, probes pay one broadcast
    * anti-join) but the documented Lucene-style stats drift and the
    * per-probe mask work both grow with mask size — past a point the
    * one-time fold rewrite is cheaper than carrying the mask forever.
    * 0.1 default (Lucene's own reclaim-deletes ballpark); a deployment
    * tunes `spark.graft.mask.maxDeletedFraction`. */
  def maskFoldThreshold(s: SparkSession): Double =
    s.conf.getOption("spark.graft.mask.maxDeletedFraction")
      .map(_.toDouble).getOrElse(0.1)

  /** Masked-key fraction of a store: distinct mask keys over the
    * DISTINCT physical keys of `keyTable` (distinct on both sides, so a
    * per-key-multi-row table like PQ's `(vec_id, j)` codes reads the
    * same fraction as a one-row-per-key table). Two partial-agg counts,
    * kilobyte shuffles. 0.0 when no mask is stored. */
  def maskedFraction(s: SparkSession, path: String, keyTable: String,
      keyCol: String): Double =
    readDeleteMask(s, path) match {
      case None => 0.0
      case Some(m) =>
        val masked = m.select(keyCol).distinct().count().toDouble
        val physical = read(s, path, keyTable).select(keyCol).distinct().count().toDouble
        if (physical == 0.0) 0.0 else masked / physical
    }

  /** The auto-fold policy (VERDICT r15 item 2), checked at feed-apply
    * time by every masked sync path: when the store's [[maskedFraction]]
    * crosses the threshold, run the family's `fold` (which rewrites the
    * tables and drops the sidecar) and return true. Below threshold the
    * mask stays — the delete leg remains O(delta). The fold a threshold
    * fires is the SAME function a manual compaction calls, so
    * fold-at-threshold ≡ manual fold by construction (MaskFoldSpec pins
    * it anyway, against a copied store). `threshold` defaults to the
    * session knob ([[maskFoldThreshold]]); a caller with a store-local
    * policy (q237's deployment-tightened build) passes it EXPLICITLY
    * instead of mutating the session conf — a session-global mutation
    * would be observed by any concurrently-building masked store in the
    * same SparkSession and spuriously fold ITS mask (ADVICE r16). */
  def autoFoldIfNeeded(s: SparkSession, path: String, keyTable: String,
      keyCol: String, threshold: Option[Double] = None)(fold: => Unit): Boolean = {
    val t = threshold.getOrElse(maskFoldThreshold(s))
    val fire = maskedFraction(s, path, keyTable, keyCol) > t
    if (fire) fold
    fire
  }

  /** The seq-scoped masked read — the ONE delete-mask rule every masked
    * family serves, folds and reads as-of through. A row of `df` hides
    * iff a `mask` row matches its `key` on `maskKey` and the row's
    * `segCol` is at or below the mask row's `seq`, so a key re-inserted
    * under a NEWER segment stays visible (the Iceberg-v2 scoping rule,
    * q151). A `horizon` bounds both sides: rows of later segments and
    * masks drained after it are invisible, so a delete drained after the
    * horizon never reaches back into it (as-of × mask, VERDICT r15 item
    * 4). Both bounds are pushed filters: the segment one prunes files,
    * the seq one trims the kilobyte broadcast before the anti-join.
    *
    * Key equality is null-safe (`<=>`) for every family — the form the
    * mix-admission family already needed (its digest key `dh` =
    * md5(text) is null for a null text). Against a mask with no null
    * keys it hides exactly the rows `===` hides, so one form serves
    * every family.
    *
    * A `df` without `segCol` is a seg-less physical layout: it passes
    * through only under an EMPTY mask — a non-empty mask has no seq to
    * scope to there, and passing the rows through would silently leak
    * deleted rows (ADVICE r16). The check is one limit-1 probe on a
    * kilobyte frame, paid only on that path. */
  def maskedRead(df: DataFrame, mask: DataFrame, key: String, maskKey: String,
      segCol: String, horizon: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val m = horizon.fold(mask)(h => mask.filter(col("seq") <= h))
    if (!df.columns.contains(segCol)) {
      require(m.isEmpty,
        s"maskedRead: non-empty $maskKey mask against a seg-less layout " +
          s"would silently leak deleted rows; fold the mask or keep $segCol")
      df
    } else {
      val rows = horizon.fold(df)(h => df.filter(col(segCol) <= h))
      rows.join(broadcast(m),
        rows(key) <=> m(maskKey) && rows(segCol) <= m("seq"), "left_anti")
    }
  }

  /** A masked family's fold: the mask tables it drops, and the masked
    * live frame of every table it rewrites (each family derives its
    * own — the search dict rebuild, the kNN stale-list mask, the dedup
    * and mix-admission views). */
  final case class MaskFold(masks: Seq[String],
      live: (SparkSession, String) => Seq[(String, DataFrame)])

  /** Fold a masked store's masks into its physical layout and drop them
    * — the compaction step that ends a mask's life, shared by every
    * masked family. No-op when none of the mask tables exists (an
    * already-folded store). The live frames swap in through
    * [[replaceTables]] and the masks drop LAST. Crash model: a folded
    * table keeps its segment column, and re-masking a live frame with
    * the still-present masks hides nothing, so a fold killed between
    * swaps serves the identical masked view and the next fold completes
    * it (CrashRecoverySpec pins this for every family). */
  def foldMasks(s: SparkSession, path: String, fold: MaskFold): Unit = {
    val present = tableNames(s, path).toSet
    if (fold.masks.exists(present)) {
      replaceTables(s, path, fold.live(s, path))
      fold.masks.foreach(dropTable(s, path, _))
    }
  }

  /** Replace several tables of the store at `path` together: every frame
    * is pinned BEFORE any swap (the frames may read the very tables the
    * swaps replace), then the swaps run as one parallel block of
    * rename-aside [[replaceTable]]s. */
  def replaceTables(s: SparkSession, path: String,
      tables: Seq[(String, DataFrame)]): Unit = {
    val pinned = inParallel(tables.map { case (t, df) =>
      () => t -> df.localCheckpoint()
    })
    inParallel(pinned.map { case (t, df) => () => replaceTable(s, path, t, df) })
  }

  /** One table of a [[Ledger]] and the file discipline its compaction
    * re-lays it in: rows range-partitioned on `rangeCols`, sorted within
    * files on `sortCols`. */
  final case class LedgerTable(name: String, sortCols: Seq[String], rangeCols: Seq[String])
  object LedgerTable {
    def apply(name: String, cols: String*): LedgerTable = LedgerTable(name, cols, cols)
  }

  /** The meta key [[Ledger.compact]] records its compaction point under. */
  private val CompactedThrough = "compacted_through"

  /** A STREAMED tagged-segment store, described once: its partition
    * column, its ledgered tables ([[appendSegmentIfAbsent]] layout), and
    * its mask rules — each `(mask table, target table, key, mask key)`.
    * A mask row in segment N hides the target rows of STRICTLY older
    * segments whose `key` matches its `maskKey`: the partition value is
    * the mask's seq, applied through [[maskedRead]] as `seq = N - 1`, so
    * `row < N` is the one masked-read rule every store serves (a batch's
    * own appends are never hidden by its own masks). `fold` overrides the
    * folded frame of a data table at compaction (the mix-admission count
    * ledger folds to its per-source sum). Every streamed serving store —
    * IVF (q215), search (q219), the kNN graph (q246), mix-admission
    * (q266) — is one such value; visibility, the masked view, the
    * exactly-once commit, the fold-on-compact and the as-of guard are
    * written here once. */
  final case class Ledger(partCol: String, tables: Seq[LedgerTable],
      masks: Seq[(String, String, String, String)] = Nil,
      fold: Map[String, DataFrame => DataFrame] = Map.empty) {
    val names: Seq[String] = tables.map(_.name)
    private val maskTables = masks.map(_._1).distinct
    val dataTables: Seq[String] = names.filterNot(maskTables.contains)

    /** The cross-table committed set: a segment is visible iff committed
      * in EVERY table, so a crash between two tables' commits leaves it
      * invisible everywhere until the replay completes it. */
    def visible(s: SparkSession, path: String): Seq[Long] =
      commonCommittedSegments(s, path, names, partCol)

    /** One table over an explicit segment set, `partCol` kept. */
    def read(s: SparkSession, path: String, table: String, vis: Seq[Long]): DataFrame =
      readSegments(s, path, table, partCol, vis)

    /** Every data table over `vis`, masks applied, `partCol` dropped. The
      * mask tables are pinned once (kilobytes, broadcast to each target). */
    def view(s: SparkSession, path: String, vis: Seq[Long]): Map[String, DataFrame] = {
      import org.apache.spark.sql.functions.col
      val pinned = maskTables.map(m => m ->
        read(s, path, m, vis).withColumn("seq", col(partCol) - 1).localCheckpoint()).toMap
      dataTables.map { t =>
        t -> masks.filter(_._2 == t).foldLeft(read(s, path, t, vis)) {
          case (df, (m, _, key, maskKey)) => maskedRead(df, pinned(m), key, maskKey, partCol)
        }.drop(partCol)
      }.toMap
    }

    /** Fresh-seed the store at `path`: remove whatever is there and
      * commit `frames` as segment 0 of every table. */
    def seed(s: SparkSession, path: String)(frames: => Seq[(String, DataFrame)]): Unit = {
      remove(s, path)
      require(commitSegment(s, path, names, partCol, 0L, frames) == names.size,
        s"fresh ledgered store at $path had segments")
    }

    /** Commit segment `segId` through [[commitSegment]], then DELIBERATELY
      * replay it (the retry a recovering stream performs after a crash
      * between sink write and checkpoint advance). `build` returns the
      * segment's frames and its audit counts; it runs only when some table
      * still lacks the segment, so a replay is marker stats alone — no
      * Spark job — and reports no counts. Returns the written-table counts
      * of the two passes ((tables, 0) for a fresh segment, (0, 0) for a
      * committed one) and the counts. */
    def commit(s: SparkSession, path: String, segId: Long)(
        build: => (Seq[(String, DataFrame)], Map[String, Long])): ((Int, Int), Map[String, Long]) = {
      var counts = Map.empty[String, Long]
      lazy val frames = { val (f, c) = build; counts = c; f }
      def once(): Int = commitSegment(s, path, names, partCol, segId, frames)
      val first = once()
      ((first, once()), counts)
    }

    /** Compact every table over the visible set through
      * [[compactSegmentLedger]], FOLDING the masks into the data tables:
      * each data table's view (or its `fold` override) is pinned, then the
      * data tables swap in one parallel block, then the mask tables fold to
      * empty. The target id is the set's max when the store has masks
      * (folded rows must never be re-hidden by a strictly-older raw mask)
      * and its min otherwise (the unmasked layout). With this order every
      * window between the single-table swaps serves the identical view;
      * `masksToo = false` stops at the worst one (data folded, masks raw).
      * The compaction point — the set's max — is recorded in the store's
      * meta BEFORE the first swap, so [[asOf]] refuses folded history from
      * the moment it can exist. Returns the point. */
    def compact(s: SparkSession, path: String, masksToo: Boolean = true): Long = {
      val vis = visible(s, path)
      val into = if (masks.isEmpty) vis.min else vis.max
      val v = view(s, path, vis)
      val folded = inParallel(dataTables.map { t => () =>
        t -> fold.get(t).fold(v(t))(_(v(t))).localCheckpoint()
      }).toMap
      val stamp = readStamp(s, path)
      require(stamp.isDefined, s"compact: unstamped ledgered store at $path")
      writeStamp(s, path, stamp.get,
        readMeta(s, path) + (CompactedThrough -> vis.max.toString))
      def compactInto(t: String, rows: DataFrame): Unit = {
        val lt = tables.find(_.name == t).get
        compactSegmentLedger(s, path, t, partCol, lt.sortCols, lt.rangeCols,
          onlySegs = Some(vis), foldInto = Some(rows), intoSeg = Some(into))
      }
      inParallel(dataTables.map(t => () => compactInto(t, folded(t))))
      if (masksToo) inParallel(maskTables.map { t => () =>
        compactInto(t, read(s, path, t, vis).drop(partCol).limit(0).localCheckpoint())
      })
      vis.max
    }

    /** The visible set as of horizon `h`. A compacted store forfeits the
      * horizons below its compaction point (fold-on-compact rewrote that
      * history into the base), so those are refused rather than answered
      * with post-fold rows. */
    def asOf(s: SparkSession, path: String, h: Long): Seq[Long] = {
      val through = readMeta(s, path).get(CompactedThrough).map(_.toLong)
        .getOrElse(Long.MinValue)
      require(h >= through,
        s"as-of horizon $h is below the store's compaction point $through " +
          s"at $path — folded history is not servable")
      visible(s, path).filter(_ <= h)
    }

    /** The committed segments of `table` that hold data files (a
      * compaction leaves tombstones: marker, no data). */
    def dataSegments(s: SparkSession, path: String, table: String): Seq[Long] = {
      val tbl = new Path(new Path(path), table)
      val fs = fsOf(s, tbl)
      committedSegments(s, path, table, partCol).filter(v =>
        fs.listStatus(new Path(tbl, s"$partCol=$v")).exists(_.getPath.getName.endsWith(".parquet")))
    }
  }

  /** Remove one named table of a stored index (e.g. a folded-in delete
    * mask). Stamp and other tables untouched. */
  def dropTable(s: SparkSession, path: String, table: String): Unit = {
    val t = new Path(new Path(path), table)
    val fs = fsOf(s, t)
    if (fs.exists(t) && !fs.delete(t, true))
      throw new java.io.IOException(s"cannot drop index table $t")
  }

  /** Heal a [[replaceTable]] crash ([[Storage.heal]]); its aside copy is
    * the FIXED, dot-prefixed `.<table>.old`, found without a glob. */
  private def healTable(s: SparkSession, path: String, table: String): Unit = {
    val live = new Path(new Path(path), table)
    Storage.heal(fsOf(s, live), live, tableBak(live))
  }
  private def tableBak(live: Path): Path = new Path(live.getParent, s".${live.getName}.old")

  /** Replace (or create) ONE named table of a stored index, leaving the
    * other tables and the stamp untouched — the sidecar path and the
    * fold/compact rewrite unit. Staged and swapped in ([[Storage.swap]]),
    * so every crash window heals at the next read or replace. A create
    * accepts a table another writer created first. */
  def replaceTable(s: SparkSession, path: String, table: String, df: DataFrame): Unit = {
    val live = new Path(new Path(path), table)
    val fs = fsOf(s, live)
    healTable(s, path, table)
    val tmp = staging(live, Building)
    df.write.mode("overwrite").parquet(tmp.toString)
    val present = fs.exists(live)
    try Storage.swap(fs, live, tmp, tableBak(live), present)
    catch { case _: Storage.SwapRaced if !present => }
  }
}

/** Persisted, re-aggregatable per-scope HLL sketch store — q133's pattern
  * made DURABLE. One Datasketches HLL blob + exact distinct count per
  * scope (e.g. per month), hive-partitioned on the scope:
  *
  *   dir/scope=1992-01/part-*.parquet   (sk BINARY, n_exact BIGINT)
  *
  * The incremental contract this buys at 100 TB:
  *  - [[build]] scans the fact table ONCE; every later rollup —
  *    [[rollup]], any ad-hoc window or region merge — reads kilobyte
  *    blobs, never the fact table.
  *  - [[refresh]] takes ONLY the changed scopes' rows (the caller reads
  *    just those lake partitions) and atomically replaces those scopes'
  *    blob directories through [[Storage.swap]]; unchanged scopes' files
  *    are untouched — byte-for-byte, mtime and all (proven in IngestSpec).
  *
  * This is what `approx_count_distinct` cannot do (its per-group state is
  * not exposed), and what q133 proved mergeable but rebuilt per run.
  */
object SketchStore {

  import org.apache.spark.sql.functions._

  private def sketchRows(slice: DataFrame, scopeCol: String, keyCol: String): DataFrame =
    slice.groupBy(col(scopeCol).as("scope"))
      .agg(hll_sketch_agg(col(keyCol)).as("sk"),
           countDistinct(col(keyCol)).as("n_exact"))

  /** Full build: one fact scan, one blob row per scope, staged with its
    * stamp and swapped in whole ([[IndexStore.writeStaged]]), so a crash
    * leaves the old store or the new one, healed at the stamp gate. */
  def build(slice: DataFrame, dir: String, scopeCol: String, keyCol: String,
            stamp: String = "manual"): Unit =
    IndexStore.writeStaged(slice.sparkSession, dir, stamp) { tmp =>
      sketchRows(slice, scopeCol, keyCol).write.partitionBy("scope").parquet(tmp.toString)
    }

  /** Rebuild ONLY the scopes present in `slice` (the caller passes just
    * the changed lake partitions' rows). Each affected scope directory is
    * replaced through a temp dir + [[Storage.swap]]; every other scope's
    * files are never opened, written, or touched. The scope list crosses
    * the driver — bounded by #changed scopes, which is the unit of work
    * by design (same shape as [[Lake.mergeUpsert]]). */
  def refresh(slice: DataFrame, dir: String, scopeCol: String, keyCol: String): Unit = {
    val s = slice.sparkSession
    val rows = sketchRows(slice, scopeCol, keyCol).persist()
    try {
      val base = new Path(dir)
      val fs = FileSystem.get(base.toUri, s.sparkContext.hadoopConfiguration)
      val scopes = rows.select(col("scope")).distinct().collect()
        .map(_.get(0).toString).sorted
      require(scopes.forall(p => !p.exists("/\\:*?\"<>|%".contains(_))),
        s"scope values must be path-safe, got: ${scopes.mkString(",")}")
      scopes.foreach { v =>
        val live = new Path(base, s"scope=$v")
        val tmp = new Path(base, s".scope=$v.refreshing")
        val bak = new Path(base, s".scope=$v.old")
        Storage.heal(fs, live, bak, leftover = Some(tmp))
        rows.filter(col("scope") === v).drop("scope")
          .write.mode("overwrite").parquet(tmp.toString)
        // no race is benign: another writer's scope would lose this refresh
        Storage.swap(fs, live, tmp, bak, fs.exists(live))
      }
    } finally { rows.unpersist(): Unit }
  }

  /** Answer the rollup from blobs ALONE (the fact table can be gone):
    * per-scope rows carry the exact count twice (as both bounds) plus the
    * 20% estimate contract; the global row brackets the true distinct
    * with [max over scopes, sum over scopes] — exact integers any engine
    * reproduces — and checks the MERGED estimate against that bracket
    * with 20% slack (HLL lgK=12 rse ~1.6%, so the bound is a stable data
    * property, not a flaky statistical test). */
  def rollup(s: SparkSession, dir: String): DataFrame = {
    val m = Engine.parquet(s, Seq(dir))
    val months = m.select(col("scope"),
      col("n_exact").as("n_lo"), col("n_exact").as("n_hi"),
      (abs(hll_sketch_estimate(col("sk")) - col("n_exact")) <= col("n_exact") * 0.20)
        .as("bound_ok"))
    val g = m.agg(max(col("n_exact")).as("n_lo"), sum(col("n_exact")).as("n_hi"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("em"))
      .select(lit("global").as("scope"), col("n_lo"), col("n_hi"),
        (col("em") >= col("n_lo") * 0.8 && col("em") <= col("n_hi") * 1.2)
          .as("bound_ok"))
    months.unionByName(g)
  }
}
