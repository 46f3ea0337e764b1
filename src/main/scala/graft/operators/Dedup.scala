package graft.operators

import graft.Engine._
import graft.{GQuery, QueryModule}
import graft.sources.{IndexStore, RoundTrip}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** A frozen LSH screening index: the corpus digest set, one rep row per
  * unique corpus item, the rep band rows, and the stamp meta every probe
  * must reuse. [[DedupIndex]] and [[VecIndex]] are its two forms. */
trait LshIndex {
  def digests: DataFrame
  def reps: DataFrame
  def bands: DataFrame
  def meta: Map[String, String]
}

/** A frozen near-dup screening index: the unique-text digest set
  * (`tkey`), rep-level MinHash signatures (`doc_id`, `m0..m15`), and
  * capped LSH band rows (`doc_id`, `band`, `bk`). Build with
  * [[Dedup.buildIndex]], screen batches with [[Dedup.incrementalScreen]],
  * persist/load via [[Dedup.persistIndex]] / [[Dedup.loadIndex]], and
  * refresh/compact via [[Dedup.TextScreen]].
  */
final case class DedupIndex(digests: DataFrame, sigs: DataFrame, bands: DataFrame)
    extends LshIndex {
  def reps: DataFrame = sigs
  def meta: Map[String, String] = Map.empty
}

/** One LSH screening family, described as data: the MinHash text screen
  * ([[Dedup.TextScreen]]) and the sign-LSH vector screen
  * ([[Similarity.VecScreen]]). A screen classifies each arriving item
  * against a frozen index as `exact` (its digest is indexed), `near` (an
  * LSH band collision with an indexed rep that passes `near`) or
  * `accept`. The screen, build, persist, load, refresh, compact, the
  * bloom sidecar, the stamped fixture index, the bloom-vs-plain audit and
  * the screen-accept-refresh loop are each written once below.
  *
  *  - `id`: the item id column.
  *  - `keys`: the digest key columns of an item; `groups`: its
  *    exact-duplicate groups (`gid`, member `ids`, the payload and the
  *    `keys` columns); `bloomKey`: the keys' one-string sidecar form.
  *  - `repTable` / `reps`: the stored rep table, derived from groups.
  *  - `bands`: band rows (`id` plus `bandCols`) of rep rows under the
  *    index meta; `cap`: the per-bucket cap on the indexed side.
  *  - `near`: the verify predicate over the arriving rep's `a_*` and the
  *    indexed rep's `b_*` columns.
  *  - `meta`: the stamp meta a build derives from its corpus; `index`:
  *    the typed index over (digests, reps, bands, meta).
  *  - The fixture store under `target/graft_index/<store><dir>`: its
  *    `source` file, `stampTag`, `corpus` and `extra` tables. The loop
  *    branch: `loopStore`, `loopTag`, and whether its reload is held as
  *    cached frames (`cachedLoop`).
  */
final case class LshScreen[I <: LshIndex](
    id: String,
    groups: DataFrame => DataFrame,
    keys: Seq[(String, Column)],
    bloomKey: Column,
    repTable: String,
    reps: DataFrame => DataFrame,
    bands: (DataFrame, Map[String, String]) => DataFrame,
    bandCols: Seq[String],
    cap: Option[Int],
    near: Column,
    meta: DataFrame => Map[String, String],
    index: (DataFrame, DataFrame, DataFrame, Map[String, String]) => I,
    store: String,
    source: String,
    stampTag: String,
    corpus: (SparkSession, String) => DataFrame,
    extra: DataFrame => Seq[(String, DataFrame)],
    loopStore: String,
    loopTag: String,
    cachedLoop: Boolean) {

  private def keyCols: Seq[Column] = keys.map { case (n, c) => c.as(n) }
  private def capped(rows: DataFrame): DataFrame =
    cap.fold(rows)(Dedup.capBuckets(rows, bandCols, _))

  /** Classify each batch item against a frozen index: `exact`, `near` or
    * `accept`. Every decision is computed once per unique item (the
    * exact-dup top-off) and expanded to members; the index probes are
    * equi-joins (digest -> digest set, band bucket -> band index), so AQE
    * broadcasts whichever side is small and the corpus is never
    * re-bucketed. Decision sets are DISTINCT'd, so the duplicate rows an
    * idempotence-tolerant refresh may leave cannot double-count members.
    * With `bloom`, the exact tier takes the sidecar's negative fast path. */
  def screen(idx: LshIndex, batch: DataFrame,
      bloom: Option[Broadcast[BloomFilter]] = None): DataFrame = {
    // spread the arriving batch BEFORE grouping (guide §2, the q214
    // re-slice): a staged micro-batch file is one scan task, and the
    // group subtree is evaluated once per tier below, so the per-item
    // hash/group map side would run serially each time. Decisions are
    // per-item and partitioning-independent (the screen oracles pin it).
    val g = groups(spread(batch))
    val keyed = g.select(col("gid") +: keys.map(k => col(k._1)): _*)
    // bloom negative fast path: a digest the sidecar has never seen cannot
    // be in the digest table (blooms have no false negatives), so it skips
    // the exact-probe join entirely; false positives just ride the join
    // and fall out, leaving decisions EXACTLY equal to the plain probe
    val probed = bloom.fold(keyed) { bc =>
      val hit = udf((k: String) => k != null && bc.value.mightContainString(k))
      keyed.filter(hit(bloomKey))
    }
    val exactG = probed.join(idx.digests, keys.map(_._1))
      .select(col("gid")).distinct().withColumn("ex", lit(1))
    val r = reps(g)
    val cand = bands(r, idx.meta).select(col(id).as("nid") +: bandCols.map(col): _*)
      .join(idx.bands.select(col(id).as("cid") +: bandCols.map(col): _*), bandCols)
      .select(col("nid"), col("cid")).distinct()
    def side(df: DataFrame, key: String, p: String): DataFrame =
      df.select(df.columns.toSeq.map(c => col(c).as(if (c == id) key else s"${p}_$c")): _*)
    val nearG = cand.join(side(r, "nid", "a"), "nid").join(side(idx.reps, "cid", "b"), "cid")
      .filter(near)
      .select(col("nid").as("gid")).distinct().withColumn("nr", lit(1))
    g.select(col("gid"), explode(col("ids")).as(id))
      .join(exactG, Seq("gid"), "left")
      .join(nearG, Seq("gid"), "left")
      .select(col(id),
        when(col("ex") === 1, "exact").when(col("nr") === 1, "near")
          .otherwise("accept").as("decision"))
  }

  /** Screen one arriving batch against the persisted fixture index — the
    * per-micro-batch entry point of the streaming screens (q134/q144);
    * q131/q140 are its one-shot batch form. An item's decision depends
    * only on itself vs the index, so ANY partitioning of the ingest into
    * batches yields identical decisions (the intra-batch top-off
    * grouping is purely a compute optimization). */
  def screenFixture(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    tune(s)
    screen(fixture(s, dir), batch)
  }

  /** [[screen]] with the bloom sidecar's negative fast path on the exact
    * tier: decision-identical to the plain screen (q147/q149 pin this),
    * only the exact join's input shrinks. */
  def screenBloom(idx: LshIndex, bloom: BloomFilter, batch: DataFrame): DataFrame =
    screen(idx, batch, Some(batch.sparkSession.sparkContext.broadcast(bloom)))

  /** Build the frozen index from an ARBITRARY corpus frame in one corpus
    * pass: the digest set, exact-dup rep grouping, rep rows and bands,
    * with the build meta derived from the corpus and RECORDED on the
    * index (probes reuse it). */
  def build(corpus: DataFrame): I = {
    val m = meta(corpus)
    val r = reps(groups(corpus))
    index(corpus.select(keyCols: _*).distinct(), r, capped(bands(r, m)), m)
  }

  /** The index's stored tables, by name. */
  def tables(idx: LshIndex): Seq[(String, DataFrame)] =
    Seq("digests" -> idx.digests, repTable -> idx.reps, "bands" -> idx.bands)

  /** Persist an index at `path` via [[IndexStore]], its meta in the stamp
    * file; `stamp` fingerprints the source corpus so loaders can validate
    * freshness with filesystem metadata alone. */
  def persist(idx: LshIndex, path: String, stamp: String = "manual",
      more: Seq[(String, DataFrame)] = Nil): Unit =
    IndexStore.write(idx.digests.sparkSession, path, stamp, tables(idx) ++ more, idx.meta)

  /** Load a persisted index: three parquet opens plus the stored meta.
    * The corpus is never touched (it can even have been deleted). */
  def load(s: SparkSession, path: String): I = open(s, path, None)

  private def open(s: SparkSession, path: String, cacheKey: Option[String]): I = {
    def rd(t: String): DataFrame = {
      def read = IndexStore.read(s, path, t)
      cacheKey.fold(read)(k => graft.SessionCache.cached(s, s"$k:$t")(read))
    }
    index(rd("digests"), rd(repTable), rd("bands"), IndexStore.readMeta(s, path))
  }

  /** The index rows of `accepted` under the meta `m`, checkpointed once:
    * the appends would otherwise each re-execute the accepted batch's
    * upstream plan (and bands derive from reps). Digests and bands stay
    * lazy plans, cheap projections over the checkpointed frames. */
  def increment(accepted: DataFrame, m: Map[String, String]): I = {
    val acc = accepted.localCheckpoint()
    val r = reps(groups(acc)).localCheckpoint()
    index(acc.select(keyCols: _*).distinct(), r, capped(bands(r, m)), m)
  }

  /** Refresh a persisted index with the items an ingest loop just
    * ACCEPTED: their digests, reps and band rows are APPENDED under the
    * STORED meta (never re-derived from the increment: probing with
    * another bit width would silently miss every stored bucket), so the
    * next batch screens against corpus + accepted with nothing rebuilt.
    * Appended bands are capped within the increment only; the cap is a
    * flood bound, which a periodic [[compact]] restores. The probes
    * tolerate the duplicate rows a double-refresh leaves, so refresh is
    * idempotence-tolerant, not idempotent. Returns the increment: a loop
    * that just refreshed can compose (cached base) ∪ (increment) instead
    * of re-opening the store. */
  def refresh(s: SparkSession, path: String, accepted: DataFrame): I = {
    val add = increment(accepted, IndexStore.readMeta(s, path))
    IndexStore.inParallel(tables(add).map { case (t, df) =>
      () => IndexStore.append(s, path, t, df)
    })
    add
  }

  /** Compact a persisted index in place, restoring EXACTLY a fresh
    * build's invariants from the stored tables alone: duplicate digest
    * and rep rows collapse, bands are recomputed from the unique reps with
    * the global cap re-applied, and each table lands in fresh files
    * (many small refresh appends -> O(data/target) files). Through
    * [[IndexStore.rewrite]]: stamp and meta are preserved, every other
    * stored table (the `keys` of a takedown-ready store, the bloom
    * sidecar, whose digest set is unchanged) rides along, and readers
    * see old or new, never a mix. */
  def compact(s: SparkSession, path: String): Unit = {
    val idx = load(s, path)
    // localCheckpoint: the rewrite READS the very files it will replace
    val digests = idx.digests.distinct().localCheckpoint()
    val r = idx.reps.dropDuplicates(id).localCheckpoint()
    IndexStore.rewrite(s, path, tables(index(digests, r, capped(bands(r, idx.meta)), idx.meta)))
  }

  /** Build the bloom-filter SIDECAR over a persisted index's digest table
    * (the exact tier's negative fast path; see [[IndexStore.writeBloom]]
    * for sizing). A full [[IndexStore.write]] rebuild drops the sidecar
    * with the directory, so a stale bloom cannot outlive its digests. */
  def persistBloom(s: SparkSession, path: String, fpp: Double = 0.01,
                   headroom: Long = 4L): Long =
    IndexStore.writeBloom(s, path,
      IndexStore.read(s, path, "digests").select(bloomKey), fpp, headroom)

  /** Refresh the sidecar alongside [[refresh]]: one blob covering the
    * accepted items' digests is APPENDED. */
  def refreshBloom(s: SparkSession, path: String, accepted: DataFrame): Unit =
    IndexStore.appendBloom(s, path, accepted.select(keyCols: _*).distinct().select(bloomKey))

  /** The fixture index's location, under target/ so it survives JVM
    * restarts (the durability the session cache alone cannot give). */
  def fixturePath(dir: String): String =
    "target/graft_index/" + store + IndexStore.dirTag(dir)

  /** The registered rigs' frozen fixture index, PERSISTED: built once
    * from `corpus` (with the `extra` tables) into [[fixturePath]],
    * validated by a metadata-only source stamp, and loaded from parquet
    * thereafter — across queries via [[graft.SessionCache]], across
    * process restarts via the store. Only a regenerated fixture (stamp
    * mismatch) triggers a rebuild; [[IndexStore.stamped]] serializes
    * build-vs-load per path. */
  def fixture(s: SparkSession, dir: String): I = {
    val path = fixturePath(dir)
    val stamp = stampTag + IndexStore.sourceStamp(s, Seq(s"$dir/$source"))
    IndexStore.stamped(s, path, stamp) {
      val c = corpus(s, dir)
      persist(build(c), path, stamp, extra(c))
    }
    open(s, path, Some(s"lsh:$store$dir"))
  }

  /** q147/q149: `batch` screened against the fixture index with the
    * bloom sidecar's fast path (the sidecar built once, then loaded as
    * blobs), audited per item against the plain probe in the same frame.
    * The output is `summary` of the bloom-side decisions plus
    * `bloom_equals_plain` — the no-false-negatives contract,
    * machine-checked. */
  def bloomAudit(s: SparkSession, dir: String, batch: DataFrame)(
      summary: DataFrame => DataFrame): DataFrame = {
    val idx = fixture(s, dir)
    val path = fixturePath(dir)
    IndexStore.withPathLock(path) {
      if (!IndexStore.tableNames(s, path).contains("bloom")) persistBloom(s, path)
    }
    val fast = screenBloom(idx, IndexStore.loadBloom(s, path), batch)
    val dis = fast.join(screen(idx, batch).withColumnRenamed("decision", "d2"), id)
      .agg(coalesce(sum(when(col("decision") =!= col("d2"), 1).otherwise(0)), lit(0))
        .as("n_disagree"))
    summary(fast).crossJoin(dis)
      .withColumn("bloom_equals_plain", col("n_disagree") === 0)
      .drop("n_disagree")
  }

  /** q143/q145: the ingest LOOP. Batch 1 is screened against the fixture
    * index; the loop branch ([[loopBranch]]) holds the index refreshed
    * with what batch 1 accepted; batch 2 is screened against that branch,
    * reloaded from its stored tables. `summary(decisions, batch)` rolls
    * each stage up under a `batch` column. Batch 1's decisions recompute
    * per call, localCheckpointed so the admission set is frozen before
    * any join re-plan. */
  def loop(s: SparkSession, dir: String, b1: DataFrame, b2: DataFrame)(
      summary: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val path = loopBranch(s, dir, b1)
    val d1 = screen(fixture(s, dir), b1).localCheckpoint()
    val d2 = screen(
      if (cachedLoop) open(s, path, Some(s"lsh:loop$store$dir")) else load(s, path), b2)
    val out = summary(d1, b1).withColumn("batch", lit("b1"))
      .unionByName(summary(d2, b2).withColumn("batch", lit("b2")))
    out.select("batch", out.columns.toSeq.filterNot(_ == "batch"): _*)
  }

  /** Build-if-stale the loop's refreshed branch: batch 1 screened, the
    * fixture index branched (a pure file copy, [[IndexStore.copy]]), the
    * accepted items appended ([[refresh]]), and the stamp written LAST
    * with the branch's meta, so a crash mid-refresh rebuilds. Decisions
    * are frozen before the branch mutates: an appended index file would
    * otherwise reach back into batch 1's plan and re-classify accepted
    * items as duplicates of themselves. */
  def loopBranch(s: SparkSession, dir: String, b1: DataFrame): String = {
    val idx = fixture(s, dir)
    val path = IndexStore.workPath("target/tmp/" + loopStore + IndexStore.dirTag(dir))
    val stamp = loopTag + IndexStore.sourceStamp(s, Seq(s"$dir/$source"))
    IndexStore.stamped(s, path, stamp) {
      val d1 = screen(idx, b1).localCheckpoint()
      IndexStore.copy(s, fixturePath(dir), path)
      val accepted = b1.join(d1.filter(col("decision") === "accept").select(col(id)), id)
      IndexStore.writeStamp(s, path, stamp, refresh(s, path, accepted).meta)
    }
    path
  }
}

object LshScreen {

  /** The one decision tally of the screens' rollups: the item count and
    * the exact / near / accept counts, under the family's column names. */
  def tally(g: RelationalGroupedDataset, n: String, exact: String, near: String,
      accept: String): DataFrame =
    g.agg(count(lit(1)).as(n), Seq("exact" -> exact, "near" -> near, "accept" -> accept)
      .map { case (d, name) => sum(when(col("decision") === d, 1).otherwise(0)).as(name) }: _*)
}

/** Document deduplication for LLM training-data pipelines: exact dedup,
  * MinHash+LSH near-dup candidates (Broder 1997, "On the resemblance and
  * containment of documents"; banding per Leskovec/Rajaraman/Ullman, Mining
  * of Massive Datasets ch.3), SimHash fingerprints (Charikar 2002,
  * "Similarity estimation techniques from rounding algorithms"), and exact
  * n-gram Jaccard verification of candidates.
  *
  * Scale posture (the part that matters at 100 TB):
  *  - NO all-pairs crossJoin anywhere. Candidate pairs come from an LSH
  *    band-bucket equi-join: docs only meet if a 4-minhash band collides, so
  *    the shuffle key is the band signature and the join is linear in the
  *    number of colliding docs, not quadratic in the corpus.
  *  - MinHash signatures are 16 permutations of ONE md5 hash per shingle
  *    (cheap modular arithmetic), computed in a single groupBy with 16 min()
  *    partial aggregates — map-side combine collapses each doc to one row
  *    before the shuffle.
  *  - Exact Jaccard runs ONLY on the LSH candidates (semi-join pruned).
  *
  * The md5-based hash (Engine.md5Long) is engine-portable, so every stage is
  * verified bit-for-bit against the DuckDB oracle.
  *
  * Reference provenance: the reference has no dedup beyond its per-file
  * idempotency probe (/root/reference/data_pipeline.py:138-142); this module
  * is the LLM-pipeline extension surface (BASELINE.json north star).
  */
object Dedup extends QueryModule {

  private val P = 2147483647L // 2^31 - 1 (Mersenne prime)
  private val A = Seq(2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L, 41L, 43L, 47L, 53L)
  private def B(j: Int): Long = 7919L * j + 13L

  /** Corpus with injected near-duplicates (prefix-truncated) and exact
    * duplicates, so dedup operators have real work at any SF. Both engines
    * build the identical frame.
    */
  def augmentedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
    val near = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), expr("substr(text, 11)").as("text"), col("lang"))
    val exact = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"), col("lang"))
    // one spread AFTER the union: everything downstream is a 50-300x CPU
    // expansion (shingling, char n-grams) over a compact input — spread it
    // by rows, not input bytes, with a single small shuffle
    spread(d.unionByName(near).unionByName(exact))
  }

  private[graft] val augmentedDocsSql =
    """docs AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, substr(text, 11), lang FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text, lang FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Word 2-gram shingles, one row per (doc, shingle). */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    docs.withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws)-1), i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1)))")).as("sh"))

  /** Exact-duplicate top-off — the skew defense that makes the LSH family
    * survive an identical-document flood (10^6 copies of the same license
    * header is the canonical 100 TB failure mode). All per-text CPU
    * (shingling, MinHash, SimHash) and every LSH band bucket operate on ONE
    * REPRESENTATIVE per unique text; identical docs therefore collapse
    * BEFORE any bucket exists, so no band bucket can go quadratic from
    * exact copies. Member-level pairs are reconstructed afterwards: pairs
    * inside a duplicate group are emitted directly (their similarity is 1.0
    * by definition), and rep-level pairs expand to member pairs carrying
    * the rep-level metric (identical texts have identical signatures, so
    * the expansion is exact, not an approximation — the final output is
    * bit-identical to running LSH over every doc, which is what the DuckDB
    * oracles still compute).
    *
    * The grouping SHUFFLE is keyed on md5(text) — 128 bits, collision odds
    * ~n^2/2^128 (immaterial at any corpus size) — so the exchange moves a
    * 32-byte key per row, never the document itself as the sort/hash key.
    * One representative text per unique key still crosses the wire (as the
    * `first` partial aggregate), which is intrinsic: downstream shingling
    * needs exactly one copy of each unique text.
    */
  private[graft] def dupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("tkey"))
      .agg(min(col("doc_id")).as("gid"), collect_list(col("doc_id")).as("ids"),
           first(col("text")).as("text"))
      .drop("tkey")

  /** One row per unique text, keyed like a doc so the shingle/sig/fp
    * pipeline runs unchanged over representatives. */
  private[graft] def repsOf(groups: DataFrame): DataFrame =
    groups.select(col("gid").as("doc_id"), col("text"))

  /** (doc_id, gid) membership. */
  private[graft] def membersOf(groups: DataFrame): DataFrame =
    groups.select(col("gid"), explode(col("ids")).as("doc_id"))

  /** All intra-group member pairs (da < db), DISTRIBUTED. Output volume is
    * intrinsic (these pairs ARE duplicates), but no single task may own a
    * mega-group's g(g-1)/2 pairs: the earlier double-explode form generated
    * g^2 rows from ONE input row in ONE task — exactly the single-task
    * blowup the exact-dup top-off exists to prevent (a 10^5-copy group is
    * ~5e9 pairs). Instead, pair members through a salted self-join:
    * side B lands in bucket pmod(id, nb); side A replicates to every bucket
    * and is REPARTITIONED on (gid, bucket), so each pair meets exactly once
    * and a group's pair emission spreads over nb tasks regardless of the
    * join strategy AQE picks (a broadcast of B keeps A's partitioning).
    *
    * The bucket count SCALES with group size: one bucket emits
    * g*ceil(g/nb) pairs, so nb = min(g, max([[SelfPairSalts]],
    * ceil(g^2/T))) bounds per-bucket pair volume at ~T =
    * [[selfPairTarget]] rows for ANY g (a fixed salt count would leave a
    * 10^6-copy flood routing ~g^2/32 pairs through each task). The
    * partition count likewise scales to ~2x the largest group's bucket
    * fan-out — with fewer partitions than buckets, pigeonholing would
    * re-concentrate nb/np buckets per task and void the bound. Sizing that
    * count costs one tiny driver-side max() over the (session-cached)
    * groups frame; the replication overhead is g*nb = g^3/T side-A rows,
    * vanishing next to the g^2/2 output. Beyond [[SelfPairNpCap]]
    * partitions the per-task bound degrades gracefully to g^2/cap — at
    * that point the OUTPUT itself (>10^13 rows) is infeasible to
    * materialize anywhere, so the cap is never the binding constraint.
    *
    * Singleton groups replicate 1x — the common case pays one narrow
    * shuffle of the member list, nothing more. Non-group columns pass
    * through on side A (callers attach per-group metrics first); the
    * internal working columns are __sp_-prefixed and the outputs are
    * da/db, all reserved (enforced) so a caller metric can never be
    * silently overwritten or mis-joined.
    */
  private[graft] val SelfPairSalts = 32
  private[graft] val SelfPairNpCap = 1 << 20
  /** Target pair rows per task; configurable so the spec can exercise the
    * scaling law at fixture scale. */
  private[graft] def selfPairTarget(s: SparkSession): Long =
    s.conf.get("spark.graft.selfPairs.targetPairsPerTask", "200000000").toLong
  private[graft] def selfPairs(groups: DataFrame): DataFrame = {
    val reserved = Set("__sp_nb", "__sp_id", "__sp_bkt", "da", "db")
    require(!groups.columns.exists(reserved.contains),
      s"selfPairs reserves columns ${reserved.mkString(", ")}; rename the passthrough column")
    val metric = groups.columns.filterNot(Set("ids", "text", "gid").contains)
    val s = groups.sparkSession
    val target = selfPairTarget(s)
    def nBuckets(g: Long): Long =
      math.min(g, math.max(SelfPairSalts.toLong, math.ceil(g.toDouble * g / target).toLong))
    val gCol = size(col("ids")).cast("long")
    val m = groups.drop("text")
      .withColumn("__sp_nb",
        least(gCol, greatest(lit(SelfPairSalts.toLong),
          ceil(gCol * gCol / lit(target.toDouble)).cast("long"))).cast("int"))
      .withColumn("__sp_id", explode(col("ids")))
      .drop("ids")
    // explicit partition COUNT (not just keys): AQE sizes coalescing from
    // the map output of this tiny exchange and cannot see the g^2 join
    // expansion behind it — a keys-only repartition gets coalesced back to
    // one or two tasks, recreating the single-task blowup.
    val maxG = groups.agg(max(size(col("ids")))).head().get(0) match {
      case null   => 0L
      case i: Int => i.toLong
    }
    val np = math.max(s.sparkContext.defaultParallelism.toLong,
      math.min(2L * nBuckets(maxG), SelfPairNpCap.toLong)).toInt
    val a = m.select(Seq(col("gid"), col("__sp_id").as("da"),
        explode(expr("sequence(0, __sp_nb - 1)")).as("__sp_bkt")) ++ metric.map(col): _*)
      .repartition(np, col("gid"), col("__sp_bkt"))
    val b = m.select(col("gid"), pmod(col("__sp_id"), col("__sp_nb")).cast("int").as("__sp_bkt"),
      col("__sp_id").as("db"))
    a.join(b, Seq("gid", "__sp_bkt"))
      .filter(col("da") < col("db"))
      .drop("gid", "__sp_bkt")
  }

  /** Expand rep-level pair rows (ga, gb, metric...) to member-level
    * (da, db, metric...): every member of ga pairs with every member of
    * gb, ordered. Metrics pass through unchanged — identical texts have
    * identical signatures, so the rep-level metric IS the member metric.
    */
  private[graft] def expandPairs(repPairs: DataFrame, members: DataFrame): DataFrame = {
    val ma = members.select(col("gid").as("ga"), col("doc_id").as("a"))
    val mb = members.select(col("gid").as("gb"), col("doc_id").as("b"))
    repPairs.join(ma, "ga").join(mb, "gb")
      .withColumn("da", least(col("a"), col("b")))
      .withColumn("db", greatest(col("a"), col("b")))
      .drop("a", "b", "ga", "gb")
  }

  /** Deterministic hot-bucket cap: within each LSH bucket keep only the
    * `cap` smallest ids for pairing. The top-off already collapses exact
    * copies, so a bucket this large means a flood of NEAR-identical texts;
    * the cap bounds that bucket's pair volume at cap^2 (the capped docs
    * can still pair through their other bands). Inert at fixture scale
    * (default 1024 >> any real bucket), so oracle parity is unaffected;
    * the mechanics are pinned by DedupSpec on adversarial frames.
    */
  private[graft] val BandCap = 1024
  private[graft] def capBuckets(rows: DataFrame, bucketCols: Seq[String], cap: Int): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*).orderBy(col("doc_id"))
    rows.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= cap).drop("__rk")
  }

  /** The duplicate groups, rep shingle index, MinHash signatures, and LSH
    * candidate pairs are the shared substrate of the whole dedup family —
    * build them once per session+dir and reuse, exactly as a production
    * pipeline materializes its signature tables once and runs every dedup
    * stage against them.
    *
    * Lifecycle is [[graft.SessionCache]]: bounded LRU over sessions with
    * explicit unpersist on eviction (a weak-keyed map cannot collect here —
    * a Dataset strongly references its own SparkSession).
    */
  private def sessionCached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    graft.SessionCache.cached(s, s"dedup:$key")(build)
  private def grpF(s: SparkSession, dir: String): DataFrame =
    sessionCached(s, s"grp:$dir")(dupGroups(augmentedDocs(s, dir)))
  private def shF(s: SparkSession, dir: String): DataFrame =
    sessionCached(s, s"sh:$dir")(shingles(repsOf(grpF(s, dir))))
  private def shdF(s: SparkSession, dir: String): DataFrame =
    sessionCached(s, s"shd:$dir")(shF(s, dir).distinct())
  private def sigsF(s: SparkSession, dir: String): DataFrame =
    sessionCached(s, s"sigs:$dir")(sigsFrom(shF(s, dir)))
  private def candF(s: SparkSession, dir: String): DataFrame =
    sessionCached(s, s"cand:$dir")(candFrom(sigsF(s, dir)))
  private def cachedFps(s: SparkSession, dir: String): DataFrame =
    sessionCached(s, s"fps:$dir")(simhashFrom(repsOf(grpF(s, dir))))
  /** Rep-level shingle-set sizes and candidate-pair intersections — shared
    * by every exact-verification metric (jaccard q63, containment q120).
    */
  private def sizesF(s: SparkSession, dir: String): DataFrame =
    sessionCached(s, s"sizes:$dir")(
      shdF(s, dir).groupBy(col("doc_id")).agg(count(lit(1)).as("nsh")))
  private def interF(s: SparkSession, dir: String): DataFrame =
    sessionCached(s, s"inter:$dir") {
      val shd = shdF(s, dir)
      candF(s, dir)
        .join(shd.select(col("doc_id").as("ga"), col("sh")), "ga")
        .join(shd.select(col("doc_id").as("gb"), col("sh")), Seq("gb", "sh"))
        .groupBy(col("ga"), col("gb"))
        .agg(count(lit(1)).as("n_inter"))
    }

  private val shinglesSql =
    """sh AS (
      |  SELECT doc_id, s[i] || ' ' || s[i+1] AS sh
      |  FROM (SELECT doc_id, s, unnest(range(1, len(s))) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM docs)
      |        WHERE len(s) >= 2))""".stripMargin

  /** Exact dedup (hash-groupBy keep-first): group identical texts, keep the
    * min doc_id, summarize per language. One shuffle keyed on (lang,
    * md5(text)) — nothing downstream needs the text, so the exchange moves
    * 32-byte digests, not documents (the map-side partial agg collapses
    * local copies before the shuffle either way; the hash key keeps the
    * sort/compare cost per row constant too).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    augmentedDocs(s, dir)
      .groupBy(col("lang"), md5(col("text")).as("tkey"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_unique"),
           sum(col("copies")).as("n_docs"),
           sum(col("copies") - 1).as("n_dup_docs"),
           min(col("keep_id")).as("first_keep"))
  }

  private val dedupExactSql =
    s"""WITH $augmentedDocsSql
       |SELECT lang, COUNT(*) AS n_unique,
       |CAST(SUM(copies) AS BIGINT) AS n_docs,
       |CAST(SUM(copies - 1) AS BIGINT) AS n_dup_docs,
       |MIN(keep_id) AS first_keep
       |FROM (SELECT lang, text, MIN(doc_id) AS keep_id, COUNT(*) AS copies
       |      FROM docs GROUP BY lang, text)
       |GROUP BY lang""".stripMargin

  /** 16-permutation MinHash signatures, one row per doc. */
  private[graft] def sigsFrom(sh: DataFrame): DataFrame = {
    val hm = sh.withColumn("hm", md5Long(col("sh")) % P)
    val aggs = (0 until 16).map(j => min((lit(A(j)) * col("hm") + lit(B(j))) % P).as(s"m$j"))
    hm.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  private val minhashSigsSql = {
    val mins = (0 until 16)
      .map(j => s"MIN((${A(j)}*hm + ${B(j)}) % $P) AS m$j").mkString(", ")
    s"""hs AS (SELECT doc_id, ${MD5L("sh")} % $P AS hm FROM sh),
       |sigs AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id)""".stripMargin
  }

  /** LSH bands: 4 bands x 4 rows; docs collide iff one whole band matches. */
  private[graft] def bandRows(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until 4).map { b =>
      val ms = (0 until 4).map(i => s"m${4 * b + i}").mkString(", ")
      s"struct($b AS band, concat_ws('_', $ms) AS bk)"
    }
    sigs.select(col("doc_id"), explode(expr(s"array(${bandStructs.mkString(", ")})")).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bk").as("bk"))
  }

  private val bandRowsSql = {
    val selects = (0 until 4).map { b =>
      val ms = (0 until 4).map(i => s"CAST(m${4 * b + i} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $ms AS bk FROM sigs"
    }
    s"""bands AS (${selects.mkString(" UNION ALL ")})"""
  }

  private val candSql =
    """cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin

  /** Band-bucket equi-join over capped buckets: distinct colliding
    * REP-level pairs (ga < gb). */
  private[graft] def candFrom(sigs: DataFrame, cap: Int = BandCap): DataFrame = {
    val bands = capBuckets(bandRows(sigs), Seq("band", "bk"), cap)
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ga"), col("b.doc_id").as("gb"))
      .distinct()
  }

  /** Rep-level candidates + intra-group pairs, expanded to member level —
    * the full q61 pipeline over any docs frame (test hook for adversarial
    * corpora; the registered query wires the session-cached substrate).
    */
  private[graft] def minhashAssemble(groups: DataFrame, sigs: DataFrame,
                                     cand: DataFrame): DataFrame = {
    val members = membersOf(groups)
    val sa = sigs.columns.foldLeft(sigs)((df, c) => df.withColumnRenamed(c, if (c == "doc_id") "ga" else s"a_$c"))
    val sb = sigs.columns.foldLeft(sigs)((df, c) => df.withColumnRenamed(c, if (c == "doc_id") "gb" else s"b_$c"))
    val simExpr = (0 until 16)
      .map(j => when(col(s"a_m$j") === col(s"b_m$j"), 1).otherwise(0))
      .reduce(_ + _) / lit(16.0)
    val cross = expandPairs(
      cand.join(sa, "ga").join(sb, "gb").select(col("ga"), col("gb"), simExpr.as("sig_sim")),
      members).select(col("da"), col("db"), col("sig_sim"))
    // identical texts have identical shingle sets, hence identical
    // signatures: intra-group similarity is exactly 16/16. Restricted to
    // groups that HAVE a signature (a <2-word text has no shingles and
    // never entered the LSH pipeline — same as the per-doc formulation).
    val self = selfPairs(groups.join(sigs.select(col("doc_id").as("gid")), "gid"))
      .select(col("da"), col("db"), lit(1.0).as("sig_sim"))
    cross.unionByName(self)
  }

  /** MinHash near-dup candidates: band-bucket join + signature similarity. */
  def minhashCandidates(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    sessionCached(s, s"mhc:$dir") {
      minhashAssemble(grpF(s, dir), sigsF(s, dir), candF(s, dir))
    }
  }

  private val minhashCandidatesSql = {
    val sim = (0 until 16)
      .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $augmentedDocsSql,
       |$shinglesSql,
       |$minhashSigsSql,
       |$bandRowsSql,
       |$candSql
       |SELECT da, db, ($sim) / 16.0 AS sig_sim
       |FROM cand JOIN sigs a ON a.doc_id = da JOIN sigs b ON b.doc_id = db""".stripMargin
  }

  /** Exact 2-gram Jaccard verification, computed ONLY for LSH candidates.
    * The shingle frame is computed once and reused for both the signatures
    * and the exact set intersection.
    */
  def jaccardVerify(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val groups = grpF(s, dir)
    // set arithmetic at REP level only: identical texts have identical
    // shingle sets, so member-level jaccard is the rep-level jaccard;
    // sizes + intersections are session-cached (shared with q120)
    val sizes = sizesF(s, dir)
    val inter = interF(s, dir)
    val repMetrics = inter
      .join(sizes.select(col("doc_id").as("ga"), col("nsh").as("na")), "ga")
      .join(sizes.select(col("doc_id").as("gb"), col("nsh").as("nb")), "gb")
      .select(col("ga"), col("gb"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"),
        (col("n_inter") / (col("na") + col("nb") - col("n_inter"))).as("jacc"),
        (col("n_inter") / (col("na") + col("nb") - col("n_inter")) >= 0.6).as("is_dup"))
    val cross = expandPairs(repMetrics, membersOf(groups))
      .select(col("da"), col("db"), col("n_inter"), col("n_union"), col("jacc"), col("is_dup"))
    // intra-group pairs: identical sets, n_inter = n_union = |set|, jacc 1
    val self = selfPairs(groups.join(
        sizes.select(col("doc_id").as("gid"), col("nsh")), "gid"))
      .select(col("da"), col("db"), col("nsh").as("n_inter"), col("nsh").as("n_union"),
        lit(1.0).as("jacc"), lit(true).as("is_dup"))
    cross.unionByName(self)
  }

  private val jaccardVerifySql = {
    s"""WITH $augmentedDocsSql,
       |$shinglesSql,
       |$minhashSigsSql,
       |$bandRowsSql,
       |$candSql,
       |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM shd GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, COUNT(*) AS n_inter
       |          FROM cand c
       |          JOIN shd x ON x.doc_id = c.da
       |          JOIN shd y ON y.doc_id = c.db AND y.sh = x.sh
       |          GROUP BY c.da, c.db)
       |SELECT i.da, i.db, i.n_inter,
       |  sa.nsh + sb.nsh - i.n_inter AS n_union,
       |  i.n_inter / (sa.nsh + sb.nsh - i.n_inter) AS jacc,
       |  i.n_inter / (sa.nsh + sb.nsh - i.n_inter) >= 0.6 AS is_dup
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.da
       |JOIN sizes sb ON sb.doc_id = i.db""".stripMargin
  }

  /** Broder containment on LSH candidates: c(A in B) = |A ∩ B| / |A| — the
    * ONE-SIDED resemblance that catches "A is a truncation/quote/excerpt of
    * B", which symmetric Jaccard under-scores (a 10-shingle doc fully inside
    * a 1000-shingle doc has jacc ~= 0.01 but containment 1.0). Same pruned
    * substrate as q63: set arithmetic at rep level only, candidates from the
    * LSH band join, never all-pairs. (Broder 1997 defines both resemblance
    * and containment; the dedup literature uses containment for
    * quote/boilerplate subsumption.)
    */
  def containment(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val groups = grpF(s, dir)
    val sizes = sizesF(s, dir)
    val inter = interF(s, dir)
    val repMetrics = inter
      .join(sizes.select(col("doc_id").as("ga"), col("nsh").as("na")), "ga")
      .join(sizes.select(col("doc_id").as("gb"), col("nsh").as("nb")), "gb")
      .select(col("ga"), col("gb"), col("n_inter"),
        (col("n_inter") / col("na")).as("cont_a_in_b"),
        (col("n_inter") / col("nb")).as("cont_b_in_a"),
        (col("n_inter") === col("na") || col("n_inter") === col("nb")).as("is_subset"))
    // expandPairs normalizes to da < db, which SWAPS some pairs — fine for
    // symmetric metrics (q63), but containment is one-sided, so the two
    // directional metrics must swap with the pair orientation
    val ma = membersOf(groups).select(col("gid").as("ga"), col("doc_id").as("a"))
    val mb = membersOf(groups).select(col("gid").as("gb"), col("doc_id").as("b"))
    val cross = repMetrics.join(ma, "ga").join(mb, "gb")
      .select(
        least(col("a"), col("b")).as("da"),
        greatest(col("a"), col("b")).as("db"),
        col("n_inter"),
        when(col("a") <= col("b"), col("cont_a_in_b")).otherwise(col("cont_b_in_a")).as("cont_a_in_b"),
        when(col("a") <= col("b"), col("cont_b_in_a")).otherwise(col("cont_a_in_b")).as("cont_b_in_a"),
        col("is_subset"))
    // intra-group pairs: identical shingle sets — containment 1 both ways
    val self = selfPairs(groups.join(
        sizes.select(col("doc_id").as("gid"), col("nsh")), "gid"))
      .select(col("da"), col("db"), col("nsh").as("n_inter"),
        lit(1.0).as("cont_a_in_b"), lit(1.0).as("cont_b_in_a"), lit(true).as("is_subset"))
    cross.unionByName(self)
  }

  private val containmentSql = {
    s"""WITH $augmentedDocsSql,
       |$shinglesSql,
       |$minhashSigsSql,
       |$bandRowsSql,
       |$candSql,
       |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM shd GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, COUNT(*) AS n_inter
       |          FROM cand c
       |          JOIN shd x ON x.doc_id = c.da
       |          JOIN shd y ON y.doc_id = c.db AND y.sh = x.sh
       |          GROUP BY c.da, c.db)
       |SELECT i.da, i.db, i.n_inter,
       |  i.n_inter / sa.nsh AS cont_a_in_b,
       |  i.n_inter / sb.nsh AS cont_b_in_a,
       |  (i.n_inter = sa.nsh OR i.n_inter = sb.nsh) AS is_subset
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.da
       |JOIN sizes sb ON sb.doc_id = i.db""".stripMargin
  }

  /** 32-bit SimHash fingerprints from word-level hashes: per-bit majority
    * vote folded into one integer. 32 partial-agg sums, single shuffle.
    */
  private[graft] def simhashFrom(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", md5Long(col("w")))
    val votes = (0 until 32).map(j =>
      sum(expr(s"(shiftright(h, $j) & 1) * 2 - 1")).as(s"sb$j"))
    val fp = (0 until 32)
      .map(j => when(col(s"sb$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("fp"))
  }

  /** Per-doc fingerprints: computed once per unique text, joined back to
    * members (identical texts have identical token multisets, hence
    * identical fingerprints). */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    membersOf(grpF(s, dir))
      .join(cachedFps(s, dir).select(col("doc_id").as("gid"), col("fp")), "gid")
      .select(col("doc_id"), col("fp"))
  }

  // toks/votes/fps CTEs alone (over an existing `docs` CTE), so oracles
  // combining the simhash and minhash families don't redefine `docs`
  private val simhashCoreCtes = {
    val votes = (0 until 32)
      .map(j => s"SUM(((h >> $j) & 1) * 2 - 1) AS sb$j").mkString(", ")
    val fp = (0 until 32)
      .map(j => s"(CASE WHEN sb$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""toks AS (SELECT doc_id, ${MD5L("w")} AS h
       |         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs)),
       |votes AS (SELECT doc_id, $votes FROM toks GROUP BY doc_id),
       |fps AS (SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM votes)""".stripMargin
  }

  private val simhashCtes = s"$augmentedDocsSql,\n$simhashCoreCtes"

  private val simhashSql =
    s"WITH $simhashCtes\nSELECT doc_id, fp FROM fps"

  /** SimHash near-dup pairs: byte-band blocking (docs within hamming
    * distance d of each other must agree on at least one of the 4 bytes
    * when d < 4 per the pigeonhole principle) then exact hamming distance
    * via bit_count(xor). Equi-join on (band, byte) — never all-pairs.
    */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    sessionCached(s, s"shp:$dir") {
      simhashPairsAssemble(grpF(s, dir), cachedFps(s, dir))
    }
  }

  /** Full q89 pipeline over any (groups, rep fingerprints): byte-band
    * blocking with capped buckets at REP level, exact hamming on rep
    * collisions, then member expansion + intra-group pairs (hamming 0 by
    * construction — identical token multisets give identical fps).
    */
  private[graft] def simhashPairsAssemble(groups: DataFrame, fps: DataFrame,
                                          cap: Int = BandCap): DataFrame = {
    val bandStructs = (0 until 4)
      .map(j => s"struct($j AS band, shiftright(fp, ${8 * j}) & 255 AS bkey)")
    val bands = capBuckets(
      fps.select(col("doc_id"), col("fp"),
        explode(expr(s"array(${bandStructs.mkString(", ")})")).as("bs"))
        .select(col("doc_id"), col("fp"), col("bs.band").as("band"), col("bs.bkey").as("bkey")),
      Seq("band", "bkey"), cap)
    val repPairs = bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ga"), col("b.doc_id").as("gb"),
        expr("bit_count(a.fp ^ b.fp)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    val cross = expandPairs(repPairs, membersOf(groups))
      .select(col("da"), col("db"), col("hamming"))
    val self = selfPairs(groups.join(fps.select(col("doc_id").as("gid")), "gid"))
      .select(col("da"), col("db"), lit(0).as("hamming"))
    cross.unionByName(self)
  }

  private val simhashPairsSql = {
    val bandSelects = (0 until 4)
      .map(j => s"SELECT doc_id, fp, $j AS band, (fp >> ${8 * j}) & 255 AS bkey FROM fps")
      .mkString(" UNION ALL ")
    s"""WITH $simhashCtes,
       |bands AS ($bandSelects)
       |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
       |FROM bands a JOIN bands b
       |ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin
  }

  /** Connected components over an undirected pair list `(da, db)`:
    * returns one row per node with its component label (the minimum
    * reachable node id). Reusable across any near-dup pair source
    * (SimHash, MinHash, embedding LSH).
    *
    * THREE-tier strategy, gated on MEASURED sizes (edge count, then star
    * count), config `spark.graft.cc.localMaxEdges` (default 20M):
    *  - SMALL graphs (edges <= gate): exact union-find over the whole
    *    edge list in ONE executor partition via mapPartitions — a single
    *    job, data never touches the driver. Near-dup pair graphs are
    *    collision survivors, typically orders of magnitude smaller than
    *    the corpus, so this is the common case even at 100 TB.
    *  - MID tier (round 8): per-partition union-find CONTRACTION
    *    ([[contractStars]]) runs in parallel over the big edge list, then
    *    IF the measured star count fits the gate, the single-partition
    *    tier finishes over the stars. This is the dense-graph fast path —
    *    average degree above the partition count (a boilerplate flood's
    *    clique-ish families) collapses E edges to ~V x P stars.
    *  - LARGE sparse graphs (stars don't fit either): iterative
    *    min-label propagation with pointer jumping, the standard
    *    distributed CC shape (GraphX/Pregel run the same supersteps),
    *    fed whichever frame is smaller (stars or raw edges); the driver
    *    only ever sees per-round convergence counts.
    *
    * All numbers MEASURED (local[32], min-of-2 unless noted; round 8 —
    * PLANS.md "CC crossover — MEASURED"). Chains (E ~ V, the sparse adversary — contraction
    * cannot shrink them): union-find / iterative / two-level seconds were
    * 60/59/65 at 20M, 125/254/129 at 40M (1 run), 227/651/285 at 80M
    * (1 run). Dense ring components (512 nodes x degree 128, E = 128V —
    * the flood shape): 50/133/6.0 at 64M edges — the mid tier is 8x
    * faster than the best alternative, which is why it is wired in,
    * star-gated so sparse graphs never pay for it beyond the one
    * parallel contraction pass. The 20M single-task gate itself still
    * bounds (a) the one task's heap — the open-addressed parent map is
    * ~1 GB at 20M entries — and (b) straggler latency; on a real cluster
    * the iterative tier's throughput scales with total cores while any
    * single-task finish is one core, so the sparse crossover only moves
    * DOWN with cluster size.
    * All paths produce the identical labeling (component label = minimum
    * member id), pinned by the AnalyticsSpec random-graph property test
    * across forced gates.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    val Seq(a, b) = pairs.columns.toSeq.take(2)
    // localCheckpoint: materialize the (possibly expensive) pair source once;
    // both the count gate and the chosen CC path reuse the cached blocks.
    val raw = pairs.select(col(a).cast("long").as("n"), col(b).cast("long").as("m"))
      .localCheckpoint()
    val edgeRows = raw.count()
    val localMax = s.conf.getOption("spark.graft.cc.localMaxEdges")
      .map(_.toLong).getOrElse(20000000L)
    if (edgeRows <= localMax) ccSinglePartition(raw)
    else {
      // mid tier (round 8, MEASURED — see scaladoc table): contract each
      // partition's subgraph in parallel, then gate on the star count the
      // contraction actually produced. Dense graphs (degree >> partition
      // count — the boilerplate-flood shape) collapse to ~nodes x
      // partitions rows and finish in the single-partition tier at a
      // fraction of the full-edge scan; sparse graphs (stars ~ 2E) fall
      // through to the iterative tier, which then runs on whichever
      // frame is smaller. The contraction pass is one parallel
      // mapPartitions over data already materialized — noise next to
      // either big-graph path it precedes.
      val stars = contractStars(raw).localCheckpoint()
      val starRows = stars.count()
      if (starRows <= localMax) ccSinglePartition(stars)
      else if (starRows < edgeRows) ccIterative(stars, starRows)
      else ccIterative(raw, edgeRows)
    }
  }

  /** Exact union-find (path compression, union-by-min so each root IS its
    * component's minimum id) over the full edge list in one executor
    * partition. One Spark job; no driver-side collect.
    */
  private def ccSinglePartition(raw: DataFrame): DataFrame = {
    val s = raw.sparkSession
    import s.implicits._
    raw.as[(Long, Long)].repartition(1).mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) x = parent(x)
        var y = x0 // path compression: point the whole chain at the root
        while (parent.getOrElse(y, y) != y) { val p = parent(y); parent(y) = x; y = p }
        x
      }
      it.foreach { case (n, m) =>
        parent.getOrElseUpdate(n, n); parent.getOrElseUpdate(m, m)
        val rn = find(n); val rm = find(m)
        if (rn != rm) { if (rn < rm) parent(rm) = rn else parent(rn) = rm }
      }
      // snapshot keys before the final finds: path compression mutates values
      val nodes = parent.keys.toArray
      nodes.iterator.map(k => (k, find(k)))
    }.toDF("n", "lab")
  }

  /** Per-partition union-find CONTRACTION — the mid tier's parallel pass.
    * Each input partition resolves its own subgraph exactly and emits one
    * (node -> local root) star edge per node it saw; the union of all
    * partitions' stars preserves global connectivity (any path in the
    * original graph is a concatenation of within-partition segments, each
    * contracted to its local star), so any CC algorithm over the stars
    * yields the identical min-label components.
    *
    * What it buys: the downstream edge volume drops from E to at most one
    * row per (node, partition) — a real reduction exactly when average
    * degree exceeds the partition count (dense near-dup families, the
    * boilerplate-flood shape). On sparse graphs (chains: E ~ V) stars are
    * ~2E, which is why the caller gates on the MEASURED star count rather
    * than assuming a win. The final task's heap is keyed by distinct
    * nodes either way; star count >= node count, so the star gate is at
    * least as strict as the edge gate it extends.
    */
  private[graft] def contractStars(raw: DataFrame): DataFrame = {
    val s = raw.sparkSession
    import s.implicits._
    raw.as[(Long, Long)].mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) x = parent(x)
        var y = x0
        while (parent.getOrElse(y, y) != y) { val p = parent(y); parent(y) = x; y = p }
        x
      }
      it.foreach { case (n, m) =>
        parent.getOrElseUpdate(n, n); parent.getOrElseUpdate(m, m)
        val rn = find(n); val rm = find(m)
        if (rn != rm) { if (rn < rm) parent(rm) = rn else parent(rn) = rm }
      }
      val nodes = parent.keys.toArray
      nodes.iterator.map(k => (k, find(k)))
    }.toDF("n", "m")
  }

  /** Contraction + single-partition finish as one unit — the two-level
    * tier PLANS.md "CC crossover — MEASURED" times against the others. */
  private[graft] def ccTwoLevel(raw: DataFrame): DataFrame =
    ccSinglePartition(contractStars(raw))

  /** Distributed iterative path for graphs too large for one partition. */
  private def ccIterative(raw: DataFrame, edgeRows0: Long): DataFrame = {
    val s = raw.sparkSession
    // localCheckpoint (not cache): iterative plans must CUT lineage each
    // round — a cache only short-circuits execution, the analyzed plan
    // still nests the full history and grows exponentially with rounds.
    val edges = raw
      .unionByName(raw.select(col("m").as("n"), col("n").as("m")))
      .localCheckpoint()
    var labels = edges.select(col("n")).distinct()
      .withColumn("lab", col("n")).localCheckpoint()
    // The label frame is tiny relative to the corpus (only docs that hit a
    // near-dup pair); per-round shuffles at full width would be pure
    // scheduling overhead — size the loop's parallelism to the frame:
    // ~500k edge rows per partition, floor 8.
    val edgeRows = edgeRows0 * 2 // both directions
    val loopParts = math.max(8L, edgeRows / 500000L).min(100000L).toString
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", loopParts)
    try {
      var iter = 0
      var changed = 1L
      val maxIter = 20
      while (changed > 0 && iter < maxIter) {
        // the self rows carry the previous label through the aggregate
        // (max(old) — only self rows are non-null), so no extra join is
        // needed to detect convergence
        val neighborMin = edges
          .join(labels.select(col("n").as("m"), col("lab")), "m")
          .select(col("n"), col("lab"), lit(null).cast("long").as("old"))
          .unionByName(labels.select(col("n"), col("lab"), col("lab").as("old")))
          .groupBy(col("n")).agg(min(col("lab")).as("lab"), max(col("old")).as("old"))
          .cache() // shallow plan (labels is checkpointed); used twice below
        // pointer jumping: replace each label by its label's label
        // (label(x) <= x), collapsing chains in O(log diameter) rounds
        // instead of one hop per round; convergence is then a filter over
        // the checkpointed frame — one materializing job per round.
        val next = neighborMin
          .join(neighborMin.select(col("n").as("lab"), col("lab").as("lab2")), Seq("lab"))
          .select(col("n"), col("lab2").as("lab"), col("old"))
          .localCheckpoint()
        changed = next.filter(col("lab") =!= col("old")).count()
        neighborMin.unpersist()
        labels = next.select(col("n"), col("lab"))
        iter += 1
      }
      // With pointer jumping, rounds ~ log2(component diameter): 20 rounds
      // covers diameters up to ~2^20. Hitting the cap unconverged would
      // silently return WRONG labels — that must be fatal, not a log line.
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds ($changed labels still moving)")
      System.err.println(s"[graft] connectedComponents converged in $iter rounds")
      labels
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** Near-dup graph degree histogram: how many documents have k near-dup
    * neighbors — the diagnostic every dedup rollout reads first (a heavy
    * tail means boilerplate families; a spike at high k means the LSH
    * threshold is too loose). One groupBy over the existing SimHash pair
    * list (both directions), then a count-of-counts — no new substrate,
    * no new shuffle shape.
    */
  def degreeHistogram(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val pairs = simhashPairs(s, dir).select(col("da"), col("db"))
    val deg = pairs.select(col("da").as("d"))
      .unionByName(pairs.select(col("db").as("d")))
      .groupBy(col("d")).agg(count(lit(1)).as("k"))
    deg.groupBy(col("k"))
      .agg(count(lit(1)).as("n_docs"), min(col("d")).as("min_doc"))
  }

  private val degreeHistogramSql = {
    s"""WITH $simhashCtes,
       |bands AS (${(0 until 4)
        .map(j => s"SELECT doc_id, fp, $j AS band, (fp >> ${8 * j}) & 255 AS bkey FROM fps")
        .mkString(" UNION ALL ")}),
       |prs AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |deg AS (
       |  SELECT d, COUNT(*) AS k FROM (
       |    SELECT da AS d FROM prs UNION ALL SELECT db FROM prs)
       |  GROUP BY d)
       |SELECT k, COUNT(*) AS n_docs, MIN(d) AS min_doc
       |FROM deg GROUP BY k""".stripMargin
  }

  /** Near-dup cluster formation: connected components over the SimHash
    * pair graph (hamming <= 3), then per-cluster canonical selection
    * (min doc_id) — the step that turns pairwise near-dup hits into "keep
    * one per family" for corpus curation.
    *
    * Algorithm: iterative min-label propagation to fixpoint — each round,
    * every node takes the min label among itself and its neighbors; rounds
    * needed = component diameter (near-dup families are shallow). This is
    * the standard distributed CC shape (GraphX/Pregel run the same
    * supersteps); data never leaves the executors — the driver only sees
    * the per-round convergence count. The oracle computes the same
    * components with a recursive CTE.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val labels = connectedComponents(simhashPairs(s, dir).select(col("da"), col("db")))
    val out = labels.groupBy(col("lab").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
           min(col("n")).as("min_doc"),
           max(col("n")).as("max_doc"))
    out
  }

  private val dedupClustersSql = {
    val bandSelects = (0 until 4)
      .map(j => s"SELECT doc_id, fp, $j AS band, (fp >> ${8 * j}) & 255 AS bkey FROM fps")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $simhashCtes,
       |bands AS ($bandSelects),
       |prs AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |edges AS (SELECT da AS n, db AS m FROM prs UNION SELECT db, da FROM prs),
       |reach(n, lab) AS (
       |  SELECT n, n FROM (SELECT DISTINCT n FROM edges)
       |  UNION
       |  SELECT e.n, r.lab FROM edges e JOIN reach r ON r.n = e.m),
       |labels AS (SELECT n, MIN(lab) AS lab FROM reach GROUP BY n)
       |SELECT lab AS cluster_id, COUNT(*) AS n_members,
       |MIN(n) AS min_doc, MAX(n) AS max_doc
       |FROM labels GROUP BY lab""".stripMargin
  }

  /** Soft dedup: instead of DROPPING near-duplicates, DOWNWEIGHT them —
    * every document in a near-dup cluster of size k contributes weight
    * 1/k to the training mixture, so each duplicated "idea" counts once
    * no matter how many copies exist. The soft alternative to hard
    * removal: no document is discarded (rare-but-duplicated content
    * keeps its best copy available), yet boilerplate floods stop
    * dominating the mixture. Weights are exact integer ppm
    * (1e6 div k — floor division agrees across engines) so the per-lang
    * effective sizes verify bit-for-bit; docs outside any near-dup
    * cluster weigh exactly 1.0. Rides the same SimHash pair graph and
    * CC labeling as q90 — zero new substrate.
    */
  def softDedupWeights(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val labels = connectedComponents(simhashPairs(s, dir).select(col("da"), col("db")))
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("k"))
    val kOf = labels.join(sizes, "lab").select(col("n").as("doc_id"), col("k"))
    augmentedDocs(s, dir)
      .join(kOf, Seq("doc_id"), "left")
      .withColumn("w_ppm", expr("1000000 div coalesce(k, 1)"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w_ppm")).as("effective_ppm"))
  }

  private val softDedupWeightsSql = {
    val bandSelects = (0 until 4)
      .map(j => s"SELECT doc_id, fp, $j AS band, (fp >> ${8 * j}) & 255 AS bkey FROM fps")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $simhashCtes,
       |bands AS ($bandSelects),
       |prs AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |edges AS (SELECT da AS n, db AS m FROM prs UNION SELECT db, da FROM prs),
       |reach(n, lab) AS (
       |  SELECT n, n FROM (SELECT DISTINCT n FROM edges)
       |  UNION
       |  SELECT e.n, r.lab FROM edges e JOIN reach r ON r.n = e.m),
       |labels AS (SELECT n, MIN(lab) AS lab FROM reach GROUP BY n),
       |ksz AS (SELECT lab, COUNT(*) AS k FROM labels GROUP BY lab),
       |kof AS (SELECT labels.n AS doc_id, k FROM labels JOIN ksz ON labels.lab = ksz.lab)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |CAST(SUM(1000000 // COALESCE(k, 1)) AS BIGINT) AS effective_ppm
       |FROM docs d LEFT JOIN kof ON d.doc_id = kof.doc_id
       |GROUP BY d.lang""".stripMargin
  }

  /** Multi-signal dedup clustering: union the MinHash-LSH candidate pairs
    * (signature similarity >= 0.75) with the SimHash pairs (hamming <= 3),
    * form connected components over the combined evidence, and report the
    * cluster-size histogram — the "one family per near-dup group across
    * ALL detectors" rollup a curation pipeline actually dedupes against.
    * Both pair sources come from the session-cached substrate, so the
    * marginal cost is the union + the component loop.
    */
  def multiSignalClusters(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val mh = minhashCandidates(s, dir)
      .filter(col("sig_sim") >= 0.75)
      .select(col("da"), col("db"))
    val sh = simhashPairs(s, dir).select(col("da"), col("db"))
    val labels = connectedComponents(mh.unionByName(sh).distinct())
    labels.groupBy(col("lab")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
  }

  private val multiSignalClustersSql = {
    val sim = (0 until 16)
      .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    val sbandSelects = (0 until 4)
      .map(j => s"SELECT doc_id, fp, $j AS band, (fp >> ${8 * j}) & 255 AS bkey FROM fps")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $augmentedDocsSql,
       |$shinglesSql,
       |$minhashSigsSql,
       |$bandRowsSql,
       |$candSql,
       |$simhashCoreCtes,
       |sbands AS ($sbandSelects),
       |mh AS (SELECT da, db FROM (
       |  SELECT da, db, ($sim) / 16.0 AS sig_sim
       |  FROM cand JOIN sigs a ON a.doc_id = da JOIN sigs b ON b.doc_id = db)
       |  WHERE sig_sim >= 0.75),
       |sp AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |       FROM sbands a JOIN sbands b
       |       ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |allp AS (SELECT da, db FROM mh UNION SELECT da, db FROM sp),
       |edges AS (SELECT da AS n, db AS m FROM allp UNION SELECT db, da FROM allp),
       |reach(n, lab) AS (
       |  SELECT n, n FROM (SELECT DISTINCT n FROM edges)
       |  UNION
       |  SELECT e.n, r.lab FROM edges e JOIN reach r ON r.n = e.m),
       |labels AS (SELECT n, MIN(lab) AS lab FROM reach GROUP BY n)
       |SELECT sz AS cluster_size, COUNT(*) AS n_clusters
       |FROM (SELECT lab, COUNT(*) AS sz FROM labels GROUP BY lab)
       |GROUP BY sz""".stripMargin
  }

  /** Incremental near-dup screening: classify each NEW document against a
    * FROZEN corpus as an exact duplicate (its digest is already present),
    * a near-duplicate (LSH band collision with a corpus doc, verified at
    * signature similarity >= [[IncNearThreshold]]), or accepted. This is
    * THE incremental operation of a production dedup pipeline: a corpus
    * is deduped once (q61's batch pass), its signature index is
    * materialized, and every subsequent ingest batch is screened against
    * that index — the corpus is never rescanned, let alone re-paired
    * against itself. The screen itself is [[LshScreen.screen]] over
    * [[TextScreen]].
    *
    * Cap asymmetry (same convention as q61's [[capBuckets]]): the corpus
    * band index is capped at [[BandCap]] ids per (band, bk) bucket, while
    * the DuckDB oracle probes uncapped bands. Inert at fixture scale
    * (no bucket approaches 1024), but at production scale a >1024-doc hot
    * bucket would drop near-dup detections only on the Spark side — the
    * deliberate approximation boundary that keeps a boilerplate flood
    * from going quadratic, made explicit here rather than discovered.
    *
    * Reference provenance: the reference's per-file idempotency probe
    * (/root/reference/data_pipeline.py:138-142) is the exact-match rim of
    * this operator; the near-dup tier is the LLM-pipeline extension.
    */
  private[graft] val IncNearThreshold = 0.5
  private[graft] def incrementalScreen(corpusDigests: DataFrame, corpusSigs: DataFrame,
                                       corpusBands: DataFrame, newB: DataFrame,
      bloom: Option[Broadcast[BloomFilter]] = None): DataFrame =
    TextScreen.screen(DedupIndex(corpusDigests, corpusSigs, corpusBands), newB, bloom)

  /** The MinHash text screen as an [[LshScreen]]: the md5 text digest
    * (`tkey`), rep signatures (`sigs`) and their 4x4 band rows capped at
    * [[BandCap]], near = signature agreement >= [[IncNearThreshold]]. Its
    * fixture store is the documents corpus (doc_id < 100000) under stamp
    * `v3|`, which adds the `keys` sidecar — the (tkey, doc_id)
    * content-key -> HOLDER mapping, one row per corpus doc. The sigs/bands
    * are keyed by the group REP's doc_id, while erasure requests arrive as
    * content digests (takedown, q223) or holder ids (the change feed,
    * q228), and id-level deletes need the full holder set to decide GROUP
    * SURVIVAL: a text is forgotten only when its last holder goes. Pre-v3
    * stores fail the stamp and rebuild. */
  val TextScreen: LshScreen[DedupIndex] = LshScreen(
    id = "doc_id",
    groups = docs => dupGroups(docs).withColumn("tkey", md5(col("text"))),
    keys = Seq("tkey" -> md5(col("text"))),
    bloomKey = col("tkey"),
    repTable = "sigs",
    reps = g => sigsFrom(shingles(repsOf(g))),
    bands = (sigs, _) => bandRows(sigs),
    bandCols = Seq("band", "bk"),
    cap = Some(BandCap),
    near = (0 until 16)
      .map(j => when(col(s"a_m$j") === col(s"b_m$j"), 1).otherwise(0))
      .reduce(_ + _) / lit(16.0) >= IncNearThreshold,
    meta = _ => Map.empty,
    index = (d, r, b, _) => DedupIndex(d, r, b),
    store = "dedup_",
    source = "documents.parquet",
    stampTag = "v3|",
    corpus = (s, dir) => augmentedDocs(s, dir).filter(col("doc_id") < 100000L),
    extra = c => Seq("keys" -> c.select(md5(col("text")).as("tkey"), col("doc_id"))),
    loopStore = "idx_loop_",
    loopTag = "screenloop1|",
    cachedLoop = true)

  /** Build the frozen screening index from an ARBITRARY corpus frame
    * (columns `doc_id`, `text`; anything else is ignored). Public API:
    * any library user can index their own corpus and screen arbitrary
    * batches through [[incrementalScreen]]; the registered q131/q134 rig
    * is one fixture-specific instantiation of exactly this pair. */
  def buildIndex(corpus: DataFrame): DedupIndex = TextScreen.build(corpus)

  /** Persist a frozen index as parquet tables (`digests`/`sigs`/`bands`)
    * at `path` via [[IndexStore]]. `stamp` fingerprints the
    * source corpus so [[loadIndex]] callers can validate freshness with
    * filesystem metadata alone. */
  def persistIndex(index: DedupIndex, path: String, stamp: String = "manual"): Unit =
    TextScreen.persist(index, path, stamp)

  /** Load a persisted index. Reads ONLY the stored signature tables —
    * a process restart costs three parquet opens, not a corpus rescan. */
  def loadIndex(s: SparkSession, path: String): DedupIndex = TextScreen.load(s, path)

  /** Build-if-stale the fixture screening store and return its path —
    * the cross-family manifest (q236) enumerates its tables without
    * needing the loaded frames. */
  private[graft] def ensureCorpusIndex(s: SparkSession, dir: String): String = {
    TextScreen.fixture(s, dir)
    TextScreen.fixturePath(dir)
  }

  /** Per-lang admission rollup of screening decisions (shared by q131 and
    * the streaming q134, which MUST agree with it row-for-row). */
  private[graft] def screenSummary(decisions: DataFrame, newB: DataFrame): DataFrame =
    LshScreen.tally(decisions.join(newB.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang")), "n_new", "n_rej_exact", "n_rej_near", "n_accept")

  /** q131: per-lang admission summary of the new batch (augmented docs
    * >= 100000: the injected near- and exact-duplicates) screened against
    * the frozen base corpus (< 100000). */
  def incrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val newB = augmentedDocs(s, dir).filter(col("doc_id") >= 100000L)
    screenSummary(TextScreen.screenFixture(s, dir, newB), newB)
  }

  /** Per-side shingle/signature/band CTEs over `rep_<side>` (one row per
    * unique text) — the oracle's analog of the frozen index + batch
    * signature build. */
  private[graft] def sideSigsSql(side: String): String = {
    val mins = (0 until 16).map(j => s"MIN((${A(j)}*hm + ${B(j)}) % $P) AS m$j").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val ms = (0 until 4).map(i => s"CAST(m${4 * b + i} AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $ms AS bk FROM sigs_$side"
    }.mkString(" UNION ALL ")
    s"""sh_$side AS (
       |  SELECT doc_id, s[i] || ' ' || s[i+1] AS sh
       |  FROM (SELECT doc_id, s, unnest(range(1, len(s))) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM rep_$side)
       |        WHERE len(s) >= 2)),
       |hs_$side AS (SELECT doc_id, ${MD5L("sh")} % $P AS hm FROM sh_$side),
       |sigs_$side AS (SELECT doc_id, $mins FROM hs_$side GROUP BY doc_id),
       |bands_$side AS ($bandSelects)""".stripMargin
  }

  private[graft] val incrementalNearDupSql = {
    val sim = (0 until 16).map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $augmentedDocsSql,
       |corpus AS (SELECT * FROM docs WHERE doc_id < 100000),
       |newb AS (SELECT * FROM docs WHERE doc_id >= 100000),
       |rep_cor AS (SELECT MIN(doc_id) AS doc_id, text FROM corpus GROUP BY text),
       |rep_new AS (SELECT MIN(doc_id) AS doc_id, text FROM newb GROUP BY text),
       |${sideSigsSql("cor")},
       |${sideSigsSql("new")},
       |cand_i AS (
       |  SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
       |  FROM bands_new n JOIN bands_cor c ON n.band = c.band AND n.bk = c.bk),
       |near_g AS (
       |  SELECT DISTINCT nid FROM cand_i
       |  JOIN sigs_new a ON a.doc_id = nid
       |  JOIN sigs_cor b ON b.doc_id = cid
       |  WHERE ($sim) / 16.0 >= 0.5),
       |exact_g AS (SELECT doc_id AS nid FROM rep_new WHERE text IN (SELECT text FROM corpus))
       |SELECT n.lang, COUNT(*) AS n_new,
       |CAST(SUM(CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_exact,
       |CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_near,
       |CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
       |FROM newb n
       |JOIN rep_new g ON g.text = n.text
       |LEFT JOIN exact_g e ON e.nid = g.doc_id
       |LEFT JOIN near_g nr ON nr.nid = g.doc_id
       |GROUP BY n.lang""".stripMargin
  }

  // ---- q223: takedown (right-to-be-forgotten) over the screening index ----

  /** Build-if-stale the post-takedown BRANCH of the persisted screening
    * index. The takedown request arrives as CONTENT (the md5 text keys of
    * the works to forget — a copyright takedown identifies the work, not
    * a doc id), and the erasure is O(index + |request|): one broadcast
    * anti-join per table, the corpus never re-read.
    *  - digests: drop the request's tkeys (every holder of the work goes
    *    with them — digests are per unique text);
    *  - sigs/bands: keyed by the group REP's doc_id, so the `keys`
    *    sidecar maps request tkeys -> holder ids first (reps are among
    *    them); dropping those ids erases exactly the works' near-dup
    *    presence (groups are exact-text groups, so no retained text
    *    loses its rep);
    *  - keys: drops the mapping rows themselves;
    *  - bloom sidecar: REBUILT over the retained digests. Correctness is
    *    indifferent (a stale bloom's extra "maybe" rows ride the exact
    *    probe and fall out — blooms only promise no false NEGATIVES),
    *    but the erased works would otherwise keep paying the probe join
    *    forever; deletion-incapable sketches rebuild, they don't filter.
    * The result provably equals the index built from the filtered
    * corpus, which is what q223's oracle recomputes from raw text. The
    * branch is process-unique, so the store lands under a staging stamp
    * and the real stamp goes last, after the bloom: a kill anywhere in
    * between leaves a branch that fails its stamp and rebuilds, never a
    * stamp-current branch without its sidecar. */
  private[graft] def takedownDedupBranch(s: SparkSession, dir: String): String = {
    TextScreen.fixture(s, dir)
    val src = TextScreen.fixturePath(dir)
    val path = IndexStore.workPath(src + "_takedown")
    val stamp = "takedown1|v3|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/documents.parquet"))
    IndexStore.stamped(s, path, stamp) {
      def rd(t: String) = IndexStore.read(s, src, t)
      val wk = augmentedDocs(s, dir)
        .filter(col("doc_id") < 100000L && col("doc_id") % 97 === 13)
        .select(md5(col("text")).as("tkey")).distinct().localCheckpoint()
      val erased = rd("keys").join(broadcast(wk), "tkey")
        .select(col("doc_id")).distinct().localCheckpoint()
      IndexStore.write(s, path, "takedown-building", Seq(
        "digests" -> rd("digests").join(broadcast(wk), Seq("tkey"), "left_anti"),
        "sigs" -> rd("sigs").join(broadcast(erased), Seq("doc_id"), "left_anti"),
        "bands" -> rd("bands").join(broadcast(erased), Seq("doc_id"), "left_anti"),
        "keys" -> rd("keys").join(broadcast(wk), Seq("tkey"), "left_anti")))
      TextScreen.persistBloom(s, path): Unit
      IndexStore.writeStamp(s, path, stamp)
    }
    path
  }

  /** q223: the dedup memory FORGETS — after the works with
    * doc_id % 97 = 13 are erased from the screening index, a probe batch
    * made of (a) those works RE-SUBMITTED under fresh ids and (b) the
    * standard q131 arrival batch is screened against the erased index
    * (bloom fast path, freshly rebuilt). The re-submissions must be
    * admitted again unless they are near-dups of RETAINED corpus — the
    * oracle recomputes every decision from the corpus with the works'
    * texts filtered out, so an index row that survived erasure (or a rep
    * lost that shouldn't have been) flips a decision and hash-mismatches.
    * Per-(cohort, lang) admission rollup. */
  def dedupTakedown(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = takedownDedupBranch(s, dir)
    def rd(t: String) =
      sessionCached(s, s"tkd$t:$dir")(IndexStore.read(s, path, t))
    val idx = DedupIndex(rd("digests"), rd("sigs"), rd("bands"))
    val all = augmentedDocs(s, dir)
    val resub = all.filter(col("doc_id") < 100000L && col("doc_id") % 97 === 13)
      .select((col("doc_id") + 300000L).as("doc_id"), col("text"), col("lang"))
    val batch = resub.unionByName(all.filter(col("doc_id") >= 100000L))
    TextScreen.screenBloom(idx, IndexStore.loadBloom(s, path), batch)
      .join(batch.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("cohort",
        when(col("doc_id") >= 300000L, "resub").otherwise("arrival"))
      .groupBy(col("cohort"), col("lang"))
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("decision") === "exact", 1).otherwise(0)).as("n_rej_exact"),
        sum(when(col("decision") === "near", 1).otherwise(0)).as("n_rej_near"),
        sum(when(col("decision") === "accept", 1).otherwise(0)).as("n_accept"))
  }

  /** q223's oracle: the q131 decision chain recomputed over the FILTERED
    * corpus (every doc whose text matches an erased work removed), with
    * the probe batch = re-submissions + the standard arrival batch. */
  private[graft] val dedupTakedownSql = {
    val sim = (0 until 16).map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $augmentedDocsSql,
       |wtexts AS (SELECT DISTINCT text FROM docs WHERE doc_id < 100000 AND doc_id % 97 = 13),
       |corpus AS (SELECT * FROM docs WHERE doc_id < 100000
       |           AND text NOT IN (SELECT text FROM wtexts)),
       |newb AS (SELECT doc_id + 300000 AS doc_id, text, lang FROM docs
       |         WHERE doc_id < 100000 AND doc_id % 97 = 13
       |         UNION ALL SELECT * FROM docs WHERE doc_id >= 100000),
       |rep_cor AS (SELECT MIN(doc_id) AS doc_id, text FROM corpus GROUP BY text),
       |rep_new AS (SELECT MIN(doc_id) AS doc_id, text FROM newb GROUP BY text),
       |${sideSigsSql("cor")},
       |${sideSigsSql("new")},
       |cand_i AS (
       |  SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
       |  FROM bands_new n JOIN bands_cor c ON n.band = c.band AND n.bk = c.bk),
       |near_g AS (
       |  SELECT DISTINCT nid FROM cand_i
       |  JOIN sigs_new a ON a.doc_id = nid
       |  JOIN sigs_cor b ON b.doc_id = cid
       |  WHERE ($sim) / 16.0 >= 0.5),
       |exact_g AS (SELECT doc_id AS nid FROM rep_new WHERE text IN (SELECT text FROM corpus))
       |SELECT CASE WHEN n.doc_id >= 300000 THEN 'resub' ELSE 'arrival' END AS cohort,
       |n.lang, COUNT(*) AS n_new,
       |CAST(SUM(CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_exact,
       |CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_near,
       |CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
       |FROM newb n
       |JOIN rep_new g ON g.text = n.text
       |LEFT JOIN exact_g e ON e.nid = g.doc_id
       |LEFT JOIN near_g nr ON nr.nid = g.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  // ---- q228: feed-driven sync of the screening index ----

  /** q228: the q227 composition for the DEDUP family, which has the
    * semantics the search index doesn't — the index is keyed by TEXT
    * (one digest/signature per unique text) while the lake's change feed
    * deletes by DOC ID, so the apply must decide GROUP SURVIVAL: a text
    * is forgotten only when its LAST holder is deleted; a text with
    * surviving holders keeps its digest and signature even though some
    * of its holders (possibly its rep) are gone. The v3 member-level
    * `keys` sidecar makes that decision O(delta + keys): affected texts
    * = keys ⋈ deleted ids, fully-gone texts = affected minus any
    * surviving holder — no corpus rescan. The loop:
    *  1. v1 commits the corpus; the index builds FROM THE LAKE;
    *  2. v2 deletes the takedown works (doc_id % 97 = 13), v3 appends
    *     new arrivals (the % 31 = 2 texts under fresh ids — exact
    *     re-ingestions, which the text-keyed index tolerates by design:
    *     duplicate digest rows are the documented append tolerance);
    *  3. the v1->v3 feed is drained once and applied: fully-gone texts'
    *     digests/sigs/bands erased (sigs/bands via the original rep ids),
    *     surviving groups untouched, inserts appended via the q143
    *     refresh shape, holder rows updated.
    * The probe is the q131 arrival batch screened against the SYNCED
    * index; the oracle recomputes every decision from the lake's current
    * logical state, plus `n_unique_texts` — the synced index's distinct
    * digest count must equal the synced corpus's distinct text count, a
    * structural equality that catches an over-erased (partial-group) or
    * under-erased (fully-gone text survived) apply even when no decision
    * happens to flip. */
  def feedSyncedScreen(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val idxPath = dedupSyncStore(s, dir)
    val meta = IndexStore.readMeta(s, idxPath)
    def rd(t: String) = IndexStore.read(s, idxPath, t)
    // PROBE: the q131 arrival batch against the synced index
    val synced = DedupIndex(rd("digests"), rd("sigs"), rd("bands"))
    val newB = augmentedDocs(s, dir).filter(col("doc_id") >= 100000L)
    val audit = rd("digests")
      .agg(countDistinct(col("tkey")).as("n_unique_texts"))
      .transform(RoundTrip.withFeedCounts(meta))
    screenSummary(TextScreen.screen(synced, newB), newB).crossJoin(broadcast(audit))
  }

  /** The dedup corpus lake's feed cycle
    * ([[RoundTrip.feedCycle]]) behind the q228/q234 sync
    * stores: v1 is the < 100000 augmented slice; v2 deletes the takedown
    * works (doc_id % 97 = 13); the arrivals are exact re-ingestions the
    * text-keyed index tolerates by design. Inserts as `(doc_id, text)`,
    * the delete ids pinned for broadcast. */
  private def corpusFeedFixture(s: SparkSession, dir: String,
      name: String): RoundTrip.Feed = {
    val f = RoundTrip.feedCycle(s, name, dir,
      augmentedDocs(s, dir).filter(col("doc_id") < 100000L), "doc_id",
      col("doc_id") % 97 === 13, col("text"), col("lang"))
    f.copy(inserts = f.inserts.select(col("doc_id"), col("text")),
      deletes = broadcast(f.deletes.localCheckpoint()))
  }

  /** A sync store's four dedup tables over `docs`: the signature index
    * plus the member-level keys `(tkey, doc_id)` group survival reads,
    * each through `tag` (the masked store's segment column). */
  private def syncTables(docs: DataFrame,
      tag: DataFrame => DataFrame): Seq[(String, DataFrame)] = {
    val idx = buildIndex(docs)
    Seq("digests" -> idx.digests, "sigs" -> idx.sigs, "bands" -> idx.bands,
      "keys" -> docs.select(md5(col("text")).as("tkey"), col("doc_id")))
      .map { case (t, df) => t -> tag(df) }
  }

  /** The dedup family's group-survival decision for deleting the member
    * ids `del` from the member-level `keys` (tkey, doc_id, …): a text is
    * forgotten only when its LAST holder goes. `kept` = the surviving
    * holders, `gone` = the texts left with none, `erasedReps` = the rep
    * (min doc_id) ids of the gone texts, whose signatures and bands go
    * too. All pinned (`gone`, `erasedReps` broadcast), so a caller may
    * rewrite the tables they were read from. */
  private case class GroupSurvival(kept: DataFrame, gone: DataFrame,
      erasedReps: DataFrame)

  private def groupSurvival(keys: DataFrame, del: DataFrame): GroupSurvival = {
    val affected = keys.join(del, "doc_id").select(col("tkey")).distinct()
    val kept = keys.join(del, Seq("doc_id"), "left_anti").localCheckpoint()
    val gone = broadcast(
      affected.join(kept.select(col("tkey")).distinct(), Seq("tkey"), "left_anti")
        .localCheckpoint())
    val erasedReps = broadcast(keys.groupBy(col("tkey"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(gone, "tkey").select(col("doc_id")).localCheckpoint())
    GroupSurvival(kept, gone, erasedReps)
  }

  /** Build-if-stale the feed-synced dedup store q228 probes — the q222
    * warm-substrate convention (VERDICT r14 item 3): the one-time lake
    * commit + from-lake signature build + feed drain + group-survival
    * apply land ONCE per (process, corpus) behind a stamp check, so the
    * recurring benched cost is the warm screen probe. Final stamp only
    * AFTER the apply (crash mid-sync rebuilds); feed counts in meta. */
  private[graft] def dedupSyncStore(s: SparkSession, dir: String): String = {
    val idxPath = IndexStore.workPath("target/tmp/dedup_sync_" + IndexStore.dirTag(dir))
    val stamp = "dedupsync2|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/documents.parquet"))
    IndexStore.stamped(s, idxPath, stamp) {
      val f = corpusFeedFixture(s, dir, "dedupsync")
      IndexStore.write(s, idxPath, "dedupsync-building", syncTables(f.base, identity))
      val inserts = f.inserts
      val del = f.deletes
      def rd(t: String) = IndexStore.read(s, idxPath, t)
      // DELETE leg: the group-survival decision, applied by rewrite
      val g = groupSurvival(rd("keys"), del)
      val dig2 = rd("digests").join(g.gone, Seq("tkey"), "left_anti").localCheckpoint()
      val sig2 = rd("sigs").join(g.erasedReps, Seq("doc_id"), "left_anti").localCheckpoint()
      val band2 = rd("bands").join(g.erasedReps, Seq("doc_id"), "left_anti").localCheckpoint()
      IndexStore.inParallel(Seq(
        () => IndexStore.replaceTable(s, idxPath, "digests", dig2),
        () => IndexStore.replaceTable(s, idxPath, "sigs", sig2),
        () => IndexStore.replaceTable(s, idxPath, "bands", band2),
        () => IndexStore.replaceTable(s, idxPath, "keys", g.kept)))
      // INSERT leg: the refresh shape — the arrivals' own signatures append
      IndexStore.inParallel(syncTables(inserts, identity).map { case (t, df) =>
        () => IndexStore.append(s, idxPath, t, df) })
      IndexStore.writeStamp(s, idxPath, stamp, f.counts)
    }
    idxPath
  }

  /** q228's oracle: the q131 decision chain recomputed over the lake's
    * CURRENT logical state (corpus minus deleted ids, plus the appended
    * arrivals), with the structural text-count audit and feed counts
    * pinned. */
  private[graft] val feedSyncedScreenSql = {
    val sim = (0 until 16).map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $augmentedDocsSql,
       |corpus AS (
       |  SELECT doc_id, text, lang FROM docs WHERE doc_id < 100000 AND doc_id % 97 <> 13
       |  UNION ALL
       |  SELECT doc_id + 500000, text, lang FROM docs WHERE doc_id < 100000 AND doc_id % 31 = 2),
       |newb AS (SELECT * FROM docs WHERE doc_id >= 100000),
       |rep_cor AS (SELECT MIN(doc_id) AS doc_id, text FROM corpus GROUP BY text),
       |rep_new AS (SELECT MIN(doc_id) AS doc_id, text FROM newb GROUP BY text),
       |${sideSigsSql("cor")},
       |${sideSigsSql("new")},
       |cand_i AS (
       |  SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
       |  FROM bands_new n JOIN bands_cor c ON n.band = c.band AND n.bk = c.bk),
       |near_g AS (
       |  SELECT DISTINCT nid FROM cand_i
       |  JOIN sigs_new a ON a.doc_id = nid
       |  JOIN sigs_cor b ON b.doc_id = cid
       |  WHERE ($sim) / 16.0 >= 0.5),
       |exact_g AS (SELECT doc_id AS nid FROM rep_new WHERE text IN (SELECT text FROM corpus))
       |SELECT n.lang, COUNT(*) AS n_new,
       |CAST(SUM(CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_exact,
       |CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_near,
       |CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
       |(SELECT CAST(COUNT(DISTINCT text) AS BIGINT) FROM corpus) AS n_unique_texts,
       |(SELECT CAST(COUNT(*) AS BIGINT) FROM docs WHERE doc_id < 100000 AND doc_id % 31 = 2)
       |  AS n_feed_inserts,
       |(SELECT CAST(COUNT(*) AS BIGINT) FROM docs WHERE doc_id < 100000 AND doc_id % 97 = 13)
       |  AS n_feed_deletes
       |FROM newb n
       |JOIN rep_new g ON g.text = n.text
       |LEFT JOIN exact_g e ON e.nid = g.doc_id
       |LEFT JOIN near_g nr ON nr.nid = g.doc_id
       |GROUP BY n.lang""".stripMargin
  }

  // ---- q234: feed sync with O(delta) MASKED deletes for the dedup index ----

  /** Build-if-stale the mask-synced dedup store: [[dedupSyncStore]]'s
    * lake and feed, but the delete leg lands as sidecar MASKS instead of
    * the four-table rewrite — completing the delete-mask sidecar
    * (q231/q232/q233) for the family with the hard semantics. The group-
    * survival DECISION is computed once at apply time exactly as q228
    * computes it (O(delta + keys): affected texts = keys ⋈ deleted ids,
    * fully-gone = affected minus any surviving holder) — but its result
    * is STORED as two derived kilobyte masks instead of being applied as
    * a rewrite:
    *  - `deletes`   (doc_id, seq): the feed's raw delete ids — masks the
    *    member-level keys view;
    *  - `mask_gone` (tkey, seq): fully-gone texts — masks digests;
    *  - `mask_reps` (doc_id, seq): erased groups' rep ids — masks
    *    sigs/bands.
    * Every index table carries a `seg` column (0 = base, 1 = the feed's
    * arrivals) so the masks scope to seg ≤ seq: a fully-gone text
    * re-ingested by an arrival lands as a seg-1 digest row and is
    * immediately visible through the mask — the same Iceberg-v2 rule as
    * q231 (and the fixture genuinely exercises it: ids satisfying both
    * %97=13 and %31=2 exist, so a deleted text can return under a fresh
    * id in the same window). */
  private[graft] def dedupMaskSyncStore(s: SparkSession, dir: String): String = {
    val idxPath = IndexStore.workPath("target/tmp/dedup_msync_" + IndexStore.dirTag(dir))
    val stamp = "dedupmasksync1|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/documents.parquet"))
    IndexStore.stamped(s, idxPath, stamp) {
      val f = corpusFeedFixture(s, dir, "dedupmasksync")
      IndexStore.write(s, idxPath, "dedupmasksync-building",
        syncTables(f.base, _.withColumn("seg", lit(0L))))
      val inserts = f.inserts
      val del = f.deletes
      // the q228 group-survival decision, stored as masks — nothing
      // rewritten
      val g = groupSurvival(IndexStore.read(s, idxPath, "keys"), del)
      IndexStore.appendDeleteMask(s, idxPath,
        del.withColumn("seq", lit(0L)))
      IndexStore.append(s, idxPath, "mask_gone",
        g.gone.withColumn("seq", lit(0L)))
      IndexStore.append(s, idxPath, "mask_reps",
        g.erasedReps.withColumn("seq", lit(0L)))
      // INSERT leg: the refresh shape, tagged seg 1
      IndexStore.inParallel(syncTables(inserts, _.withColumn("seg", lit(1L))).map {
        case (t, df) => () => IndexStore.append(s, idxPath, t, df) })
      // auto-fold policy (VERDICT r15 item 2): member-level fraction
      // (deleted ids over keys rows) — ~1% here, below the 0.1 default
      val folded = IndexStore.autoFoldIfNeeded(
        s, idxPath, "keys", "doc_id")(
        IndexStore.foldMasks(s, idxPath, DedupMaskFold))
      IndexStore.writeStamp(s, idxPath, stamp, f.counts + ("auto_folded" -> folded.toString))
    }
    idxPath
  }

  /** The q234 store's masked LIVE tables, seg kept: digests through
    * `mask_gone` (tkey), sigs/bands through `mask_reps` (doc_id), keys
    * through the delete mask `del` (doc_id). Lazy frames over
    * checkpointed kilobyte masks. */
  private def dedupLiveTables(s: SparkSession, path: String,
      del: DataFrame): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def rd(t: String) = IndexStore.read(s, path, t)
    // absent mask tables on a stamped store = the legal post-fold state
    // (ADVICE r15): empty masks make every anti-join a no-op
    def maskTable(t: String, key: StructField) =
      IndexStore.readTableOrEmpty(s, path, t,
        StructType(Seq(key, StructField("seq", LongType)))).localCheckpoint()
    val gone = maskTable("mask_gone", StructField("tkey", StringType))
    val reps = maskTable("mask_reps", StructField("doc_id", LongType))
    def masked(t: String, mask: DataFrame, key: String) =
      t -> IndexStore.maskedRead(rd(t), mask, key, key, "seg")
    Seq(masked("digests", gone, "tkey"), masked("sigs", reps, "doc_id"),
      masked("bands", reps, "doc_id"), masked("keys", del, "doc_id"))
  }

  /** The masked LIVE view of the q234 store's four tables (seg dropped —
    * probes are seg-agnostic), plus the raw delete mask so callers audit
    * it without a second parquet open (the keys view and the mask frames
    * are lazy plans — nothing runs until a caller acts on them). */
  private[graft] def maskedDedupView(s: SparkSession, path: String)
      : (DedupIndex, DataFrame, DataFrame) = {
    val del = IndexStore.readDeleteMaskOrEmpty(s, path, "doc_id")
      .localCheckpoint()
    val t = dedupLiveTables(s, path, del).toMap.map { case (k, df) => k -> df.drop("seg") }
    (DedupIndex(t("digests"), t("sigs"), t("bands")), t("keys"), del)
  }

  /** The dedup family's fold — MaskFoldSpec pins the result table-equal
    * to q228's physically-rewritten store. */
  private[graft] val DedupMaskFold = IndexStore.MaskFold(
    Seq(IndexStore.DeleteMaskTable, "mask_gone", "mask_reps"),
    (s, path) => dedupLiveTables(s, path,
      IndexStore.readDeleteMaskOrEmpty(s, path, "doc_id").localCheckpoint()))

  /** q234: the q131 arrival screen over the mask-synced dedup store —
    * q228's probe with the erasure served through masks. Decisions flow
    * through signature VALUES over the masked views, so they equal
    * q228's bit-for-bit (the oracle recomputes them from the lake's
    * current logical state); the structural distinct-text audit runs
    * over the MASKED digests, catching an over- or under-scoped mask
    * exactly like it catches an over- or under-erased rewrite. */
  def maskedFeedSyncedScreen(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = dedupMaskSyncStore(s, dir)
    val meta = IndexStore.readMeta(s, path)
    val (synced, _, del) = maskedDedupView(s, path)
    val newB = augmentedDocs(s, dir).filter(col("doc_id") >= 100000L)
    val audit = synced.digests
      .agg(countDistinct(col("tkey")).as("n_unique_texts"))
      .crossJoin(broadcast(del.agg(count(lit(1)).as("n_mask_rows"))))
      .transform(RoundTrip.withFeedCounts(meta))
    screenSummary(TextScreen.screen(synced, newB), newB).crossJoin(broadcast(audit))
  }

  /** q234's oracle: q228's chain verbatim plus the mask-size audit. */
  private[graft] val maskedFeedSyncedScreenSql = {
    val anchor = "  AS n_feed_deletes\nFROM newb n"
    require(feedSyncedScreenSql.contains(anchor), "q234 oracle anchor drifted")
    feedSyncedScreenSql.replace(anchor,
      "  AS n_feed_deletes,\n(SELECT CAST(COUNT(*) AS BIGINT) FROM docs " +
        "WHERE doc_id < 100000 AND doc_id % 97 = 13) AS n_mask_rows\nFROM newb n")
  }

  /** q147: q131's screen with the bloom sidecar's negative fast path on
    * the exact tier, run AGAINST the plain screen in the same frame. The
    * output is q131's per-lang admission summary (computed from the
    * bloom-side decisions, so the oracle independently re-derives them)
    * plus `bloom_equals_plain`, a per-doc equality audit of the two
    * paths — the no-false-negatives contract made machine-checked. The
    * sidecar is built over the persisted fixture index once and loaded
    * thereafter (blob reads, no corpus or digest rescans). */
  def bloomScreen(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val newB = augmentedDocs(s, dir).filter(col("doc_id") >= 100000L)
    TextScreen.bloomAudit(s, dir, newB)(screenSummary(_, newB))
  }

  private val bloomScreenSql =
    s"SELECT t.*, TRUE AS bloom_equals_plain FROM ($incrementalNearDupSql) t"

  /** The full production ingest LOOP, oracled end-to-end: screen batch 1
    * against a fresh persisted corpus index, REFRESH the index with the
    * docs batch 1 accepted ([[LshScreen.refresh]] appends their signatures),
    * then screen batch 2 — byte-copies of batch 1 — against the
    * refreshed index. The sequencing is observable in the output: a
    * batch-2 copy of an ACCEPTED batch-1 doc now screens `exact`
    * (the refresh put it in the digest set), while copies of REJECTED
    * batch-1 docs re-classify exactly as their originals did (the
    * refresh added nothing for them). q131 proves one screen; this
    * proves the screen-accept-refresh cycle a production pipeline runs
    * forever, with the index mutation itself validated by the DuckDB
    * oracle (which recomputes both stages from scratch).
    *
    * The loop MUTATES its index, so it cannot share q131's frozen
    * fixture index: batch 1 screens against the (session-cached,
    * content-identical) fixture index, which is then BRANCHED — a pure
    * file copy via [[IndexStore.copy]], no recompute — to
    * a loop-private path that the refresh appends to. Cost posture per
    * batch is q131's: the batch's own signatures plus equi-joins; the
    * refresh appends the accepted reps' already-computed signature rows
    * (identical texts yield identical signatures, so the oracle's
    * recompute-from-scratch equals the engine's append).
    */
  def screenLoop(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val b1 = augmentedDocs(s, dir)
      .filter(col("doc_id") >= 100000L && col("doc_id") < 200000L)
    val b2 = b1.select((col("doc_id") + 300000L).as("doc_id"), col("text"), col("lang"))
    // the branch copy + refresh are the loop's MUTATION substrate — one
    // state transition per (process, corpus), stamp-guarded like every
    // feed-sync rig (warm-substrate convention, VERDICT r15 item 6); the
    // RECURRING cost this query now measures is the two delta-sized
    // screens a production loop pays per batch, with batch 2 served
    // from the DURABLE refreshed branch (the load-after-refresh path,
    // held as session-cached frames).
    TextScreen.loop(s, dir, b1, b2)(screenSummary)
  }

  private val screenLoopSql = {
    val sim = (0 until 16).map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    def summaryOf(b: String) =
      s"""s$b AS (
         |  SELECT 'b$b' AS batch, n.lang, COUNT(*) AS n_new,
         |  CAST(SUM(CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_exact,
         |  CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_near,
         |  CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
         |  FROM newb$b n
         |  JOIN rep_n$b g ON g.text = n.text
         |  LEFT JOIN exact$b e ON e.nid = g.doc_id
         |  LEFT JOIN near$b nr ON nr.nid = g.doc_id
         |  GROUP BY n.lang)""".stripMargin
    s"""WITH $augmentedDocsSql,
       |corpus AS (SELECT * FROM docs WHERE doc_id < 100000),
       |newb1 AS (SELECT * FROM docs WHERE doc_id >= 100000 AND doc_id < 200000),
       |newb2 AS (SELECT doc_id + 300000 AS doc_id, text, lang FROM newb1),
       |rep_cor AS (SELECT MIN(doc_id) AS doc_id, text FROM corpus GROUP BY text),
       |rep_n1 AS (SELECT MIN(doc_id) AS doc_id, text FROM newb1 GROUP BY text),
       |rep_n2 AS (SELECT MIN(doc_id) AS doc_id, text FROM newb2 GROUP BY text),
       |${sideSigsSql("cor")},
       |${sideSigsSql("n1")},
       |${sideSigsSql("n2")},
       |cand1 AS (
       |  SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
       |  FROM bands_n1 n JOIN bands_cor c ON n.band = c.band AND n.bk = c.bk),
       |near1 AS (
       |  SELECT DISTINCT nid FROM cand1
       |  JOIN sigs_n1 a ON a.doc_id = nid
       |  JOIN sigs_cor b ON b.doc_id = cid
       |  WHERE ($sim) / 16.0 >= 0.5),
       |exact1 AS (SELECT doc_id AS nid FROM rep_n1 WHERE text IN (SELECT text FROM corpus)),
       |acc1 AS (SELECT doc_id, text FROM rep_n1
       |         WHERE doc_id NOT IN (SELECT nid FROM exact1)
       |           AND doc_id NOT IN (SELECT nid FROM near1)),
       |idx_sigs AS (SELECT * FROM sigs_cor
       |             UNION ALL
       |             SELECT s.* FROM sigs_n1 s JOIN acc1 ON acc1.doc_id = s.doc_id),
       |idx_bands AS (SELECT * FROM bands_cor
       |              UNION ALL
       |              SELECT b.* FROM bands_n1 b JOIN acc1 ON acc1.doc_id = b.doc_id),
       |cand2 AS (
       |  SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
       |  FROM bands_n2 n JOIN idx_bands c ON n.band = c.band AND n.bk = c.bk),
       |near2 AS (
       |  SELECT DISTINCT nid FROM cand2
       |  JOIN sigs_n2 a ON a.doc_id = nid
       |  JOIN idx_sigs b ON b.doc_id = cid
       |  WHERE ($sim) / 16.0 >= 0.5),
       |exact2 AS (SELECT doc_id AS nid FROM rep_n2
       |           WHERE text IN (SELECT text FROM corpus)
       |              OR text IN (SELECT text FROM acc1)),
       |${summaryOf("1")},
       |${summaryOf("2")}
       |SELECT * FROM s1 UNION ALL SELECT * FROM s2""".stripMargin
  }

  private[graft] def seqDedupPath(dir: String): String =
    "target/graft_index/dedupsq_" + IndexStore.dirTag(dir)

  /** q213: as-of screening over a SEGMENT-TAGGED dedup store — the q210
    * audit story ("reproduce yesterday's decision") for the MinHash
    * family (VERDICT r11 item 3). The store is the q143 loop state made
    * time-travelable: segment 0 is the frozen corpus index
    * (content-identical to q131's), segment 1 is the signatures of what
    * batch 1 ACCEPTED (the refresh). Batch 2 — byte copies of batch 1 —
    * is then screened TWICE: at horizon `full` (segments 0+1, exactly
    * q143's post-refresh decision: copies of accepted docs now reject
    * `exact`) and at horizon `asof0` (segment 0 only — the index as it
    * stood BEFORE the refresh, so every copy re-classifies exactly as
    * its batch-1 original did: yesterday's decision, reproduced). The
    * horizon is a pushed-down FILTER on the stored `seg` column — at
    * scale parquet min/max stats prune whole appended segment files, and
    * no restore or rebuild of any kind happens. Crash model and probe
    * math are the standard screen's; both horizons are re-derived from
    * scratch by the oracle.
    */
  def dedupScreenAsOf(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = seqDedupPath(dir)
    val b1 = augmentedDocs(s, dir)
      .filter(col("doc_id") >= 100000L && col("doc_id") < 200000L)
    val stamp = "dsq1|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/documents.parquet"))
    IndexStore.stamped(s, path, stamp) {
      val idx = TextScreen.fixture(s, dir)
      // batch 1's decisions, frozen before anything derives from them
      val d1 = TextScreen.screen(idx, b1).localCheckpoint()
      val accepted1 = b1.join(
        d1.filter(col("decision") === "accept").select(col("doc_id")), "doc_id")
      val add = TextScreen.increment(accepted1, Map.empty)
      def seg(i: DedupIndex, n: Int) =
        TextScreen.tables(i).map { case (t, df) => t -> df.withColumn("seg", lit(n)) }
      IndexStore.write(s, path, stamp + "|building", seg(idx, 0))
      IndexStore.inParallel(seg(add, 1).map { case (t, df) =>
        () => IndexStore.append(s, path, t, df)
      })
      IndexStore.writeStamp(s, path, stamp)
    }
    val b2 = b1.select((col("doc_id") + 300000L).as("doc_id"), col("text"), col("lang"))
    def at(h: Int): DedupIndex = {
      def rd(t: String) = IndexStore.read(s, path, t)
        .filter(col("seg") <= h).drop("seg")
      DedupIndex(rd("digests"), rd("sigs"), rd("bands"))
    }
    screenSummary(TextScreen.screen(at(1), b2), b2).withColumn("horizon", lit("full"))
      .unionByName(
        screenSummary(TextScreen.screen(at(0), b2), b2).withColumn("horizon", lit("asof0")))
      .select(col("horizon"), col("lang"), col("n_new"),
        col("n_rej_exact"), col("n_rej_near"), col("n_accept"))
  }

  /** q213's oracle: the full horizon is screenLoopSql's stage-2 screen
    * verbatim; the as-of horizon screens the same batch against the
    * corpus-only index (what stage 1 screened against). */
  private val dedupScreenAsOfSql = {
    val sim = (0 until 16).map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $augmentedDocsSql,
       |corpus AS (SELECT * FROM docs WHERE doc_id < 100000),
       |newb1 AS (SELECT * FROM docs WHERE doc_id >= 100000 AND doc_id < 200000),
       |newb2 AS (SELECT doc_id + 300000 AS doc_id, text, lang FROM newb1),
       |rep_cor AS (SELECT MIN(doc_id) AS doc_id, text FROM corpus GROUP BY text),
       |rep_n1 AS (SELECT MIN(doc_id) AS doc_id, text FROM newb1 GROUP BY text),
       |rep_n2 AS (SELECT MIN(doc_id) AS doc_id, text FROM newb2 GROUP BY text),
       |${sideSigsSql("cor")},
       |${sideSigsSql("n1")},
       |${sideSigsSql("n2")},
       |cand1 AS (
       |  SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
       |  FROM bands_n1 n JOIN bands_cor c ON n.band = c.band AND n.bk = c.bk),
       |near1 AS (
       |  SELECT DISTINCT nid FROM cand1
       |  JOIN sigs_n1 a ON a.doc_id = nid
       |  JOIN sigs_cor b ON b.doc_id = cid
       |  WHERE ($sim) / 16.0 >= 0.5),
       |exact1 AS (SELECT doc_id AS nid FROM rep_n1 WHERE text IN (SELECT text FROM corpus)),
       |acc1 AS (SELECT doc_id, text FROM rep_n1
       |         WHERE doc_id NOT IN (SELECT nid FROM exact1)
       |           AND doc_id NOT IN (SELECT nid FROM near1)),
       |idx_sigs AS (SELECT * FROM sigs_cor
       |             UNION ALL
       |             SELECT s.* FROM sigs_n1 s JOIN acc1 ON acc1.doc_id = s.doc_id),
       |idx_bands AS (SELECT * FROM bands_cor
       |              UNION ALL
       |              SELECT b.* FROM bands_n1 b JOIN acc1 ON acc1.doc_id = b.doc_id),
       |cand2 AS (
       |  SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
       |  FROM bands_n2 n JOIN idx_bands c ON n.band = c.band AND n.bk = c.bk),
       |near2 AS (
       |  SELECT DISTINCT nid FROM cand2
       |  JOIN sigs_n2 a ON a.doc_id = nid
       |  JOIN idx_sigs b ON b.doc_id = cid
       |  WHERE ($sim) / 16.0 >= 0.5),
       |exact2 AS (SELECT doc_id AS nid FROM rep_n2
       |           WHERE text IN (SELECT text FROM corpus)
       |              OR text IN (SELECT text FROM acc1)),
       |cand2a AS (
       |  SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
       |  FROM bands_n2 n JOIN bands_cor c ON n.band = c.band AND n.bk = c.bk),
       |near2a AS (
       |  SELECT DISTINCT nid FROM cand2a
       |  JOIN sigs_n2 a ON a.doc_id = nid
       |  JOIN sigs_cor b ON b.doc_id = cid
       |  WHERE ($sim) / 16.0 >= 0.5),
       |exact2a AS (SELECT doc_id AS nid FROM rep_n2 WHERE text IN (SELECT text FROM corpus)),
       |sf AS (
       |  SELECT 'full' AS horizon, n.lang, COUNT(*) AS n_new,
       |  CAST(SUM(CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_exact,
       |  CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_near,
       |  CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
       |  FROM newb2 n
       |  JOIN rep_n2 g ON g.text = n.text
       |  LEFT JOIN exact2 e ON e.nid = g.doc_id
       |  LEFT JOIN near2 nr ON nr.nid = g.doc_id
       |  GROUP BY n.lang),
       |sa AS (
       |  SELECT 'asof0' AS horizon, n.lang, COUNT(*) AS n_new,
       |  CAST(SUM(CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_exact,
       |  CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_near,
       |  CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
       |  FROM newb2 n
       |  JOIN rep_n2 g ON g.text = n.text
       |  LEFT JOIN exact2a e ON e.nid = g.doc_id
       |  LEFT JOIN near2a nr ON nr.nid = g.doc_id
       |  GROUP BY n.lang)
       |SELECT * FROM sf UNION ALL SELECT * FROM sa""".stripMargin
  }

  /** q125's deterministic hash-bucket split label, checkable per row —
    * shared by the leakage audit (q132) and its repair (q180). */
  private def splitOf(c: org.apache.spark.sql.Column) = {
    val b = pmod(md5Long(concat(lit("split#"), c.cast("string"))), lit(10))
    when(b < 8, "train").when(b === 8, "val").otherwise("test")
  }

  /** Train/test split leakage: near-dup pairs that CROSS the q125 split
    * boundary — each such pair is an eval-contamination event (a test doc
    * whose near-copy was trained on), the thing dedup-before-split exists
    * to prevent. Distinct from q48's benchmark contamination (external
    * benchmark vs corpus); this audits the corpus against its OWN split.
    *
    * Rides the session-cached q61 member-level pair frame (zero new
    * substrate; one groupBy over pairs that already exist) and re-derives
    * each side's split with q125's deterministic hash-bucket formula — no
    * join against a split table needed, membership is checkable per row.
    * Split labels are least/greatest-normalized so (train,test) and
    * (test,train) aggregate together.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    minhashCandidates(s, dir)
      .filter(col("sig_sim") >= IncNearThreshold)
      .withColumn("sa", splitOf(col("da")))
      .withColumn("sb", splitOf(col("db")))
      .groupBy(least(col("sa"), col("sb")).as("split_a"),
               greatest(col("sa"), col("sb")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(when(col("sig_sim") === 1.0, 1).otherwise(0)).as("n_exact"))
  }

  private val splitLeakageSql = {
    val sim = (0 until 16).map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    def splitOf(c: String) =
      s"""CASE WHEN ${MD5L(s"'split#' || CAST($c AS VARCHAR)")} % 10 < 8 THEN 'train'
         |     WHEN ${MD5L(s"'split#' || CAST($c AS VARCHAR)")} % 10 = 8 THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH $augmentedDocsSql,
       |$shinglesSql,
       |$minhashSigsSql,
       |$bandRowsSql,
       |$candSql,
       |prs AS (
       |  SELECT da, db, ($sim) / 16.0 AS sig_sim
       |  FROM cand JOIN sigs a ON a.doc_id = da JOIN sigs b ON b.doc_id = db
       |  WHERE ($sim) / 16.0 >= 0.5),
       |lab AS (SELECT sig_sim, ${splitOf("da")} AS sa, ${splitOf("db")} AS sb FROM prs)
       |SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
       |COUNT(*) AS n_pairs,
       |CAST(SUM(CASE WHEN sig_sim = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
       |FROM lab GROUP BY 1, 2""".stripMargin
  }

  /** Split-leakage REPAIR (q180): the production half q132's audit
    * motivates — reassign every leaking near-dup CLUSTER to one split so
    * no pair crosses the boundary. The cluster's canonical member (its
    * min doc_id, which IS the CC label) dictates the split: every member
    * takes `splitOf(lab)`, un-clustered docs keep their own. Because both
    * endpoints of every near-dup pair share a cluster, the repaired
    * assignment is leak-free BY CONSTRUCTION — and the query proves it
    * in-frame: `n_residual_leaks` recomputes crossing pairs on the
    * repaired labels (a constant-0 column the oracle hash-checks rather
    * than a claim in a doc comment). Output is the from->to movement
    * matrix. Rides the q61 pair substrate + the shared CC labeling; the
    * only new work is two label joins and a groupBy.
    */
  def leakageRepair(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val pairs = minhashCandidates(s, dir)
      .filter(col("sig_sim") >= IncNearThreshold)
      .select(col("da"), col("db"))
    val labels = connectedComponents(pairs)
      .select(col("n").as("doc_id"), col("lab"))
    val rep = augmentedDocs(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("from_split", splitOf(col("doc_id")))
      .withColumn("to_split",
        when(col("lab").isNull, splitOf(col("doc_id"))).otherwise(splitOf(col("lab"))))
    val resid = pairs
      .join(rep.select(col("doc_id").as("da"), col("to_split").as("ta")), "da")
      .join(rep.select(col("doc_id").as("db"), col("to_split").as("tb")), "db")
      .agg(coalesce(sum(when(col("ta") =!= col("tb"), 1L).otherwise(0L)), lit(0L))
        .as("n_residual_leaks"))
    rep.groupBy(col("from_split"), col("to_split"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(resid))
  }

  private val leakageRepairSql = {
    val sim = (0 until 16).map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    def splitOf(c: String) =
      s"""CASE WHEN ${MD5L(s"'split#' || CAST($c AS VARCHAR)")} % 10 < 8 THEN 'train'
         |     WHEN ${MD5L(s"'split#' || CAST($c AS VARCHAR)")} % 10 = 8 THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH RECURSIVE $augmentedDocsSql,
       |$shinglesSql,
       |$minhashSigsSql,
       |$bandRowsSql,
       |$candSql,
       |prs AS (
       |  SELECT da, db
       |  FROM cand JOIN sigs a ON a.doc_id = da JOIN sigs b ON b.doc_id = db
       |  WHERE ($sim) / 16.0 >= 0.5),
       |edges AS (SELECT da AS n, db AS m FROM prs UNION SELECT db, da FROM prs),
       |reach(n, lab) AS (
       |  SELECT n, n FROM (SELECT DISTINCT n FROM edges)
       |  UNION
       |  SELECT e.n, r.lab FROM edges e JOIN reach r ON r.n = e.m),
       |labels AS (SELECT n AS doc_id, MIN(lab) AS lab FROM reach GROUP BY n),
       |rep AS (
       |  SELECT d.doc_id,
       |         ${splitOf("d.doc_id")} AS from_split,
       |         CASE WHEN l.lab IS NULL THEN ${splitOf("d.doc_id")}
       |              ELSE ${splitOf("l.lab")} END AS to_split
       |  FROM docs d LEFT JOIN labels l ON l.doc_id = d.doc_id),
       |resid AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN ra.to_split <> rb.to_split THEN 1 ELSE 0 END), 0) AS BIGINT)
       |           AS n_residual_leaks
       |  FROM prs
       |  JOIN rep ra ON ra.doc_id = prs.da
       |  JOIN rep rb ON rb.doc_id = prs.db)
       |SELECT from_split, to_split, COUNT(*) AS n_docs, resid.n_residual_leaks
       |FROM rep CROSS JOIN resid
       |GROUP BY from_split, to_split, resid.n_residual_leaks""".stripMargin
  }

  override val queries: Seq[GQuery] = Seq(
    GQuery("q180_leakage_repair",
      "cluster-level split repair: leaking near-dup clusters reassigned to their canonical split; residual leaks proven 0 in-frame",
      leakageRepair, Some(leakageRepairSql)),
    GQuery("q60_dedup_exact", "exact dedup via hash-groupBy keep-first, per-lang summary",
      dedupExact, Some(dedupExactSql)),
    GQuery("q61_minhash_lsh", "MinHash signatures + LSH band-bucket candidate pairs (no crossJoin)",
      minhashCandidates, Some(minhashCandidatesSql)),
    GQuery("q62_simhash", "32-bit SimHash fingerprint per doc (bit-majority vote)",
      simhash, Some(simhashSql)),
    GQuery("q63_jaccard_verify", "exact n-gram Jaccard on LSH candidates only",
      jaccardVerify, Some(jaccardVerifySql)),
    GQuery("q120_containment", "Broder containment (one-sided resemblance) on LSH candidates",
      containment, Some(containmentSql)),
    GQuery("q89_simhash_pairs", "SimHash near-dup pairs: byte-band blocking + hamming(bit_count^xor)",
      simhashPairs, Some(simhashPairsSql)),
    GQuery("q127_degree_histogram", "near-dup graph degree histogram (dedup rollout diagnostic)",
      degreeHistogram, Some(degreeHistogramSql)),
    GQuery("q90_dedup_clusters", "near-dup clusters: connected components (min-label propagation) + canonical pick",
      dedupClusters, Some(dedupClustersSql)),
    GQuery("q94_multi_signal_clusters", "clusters over combined MinHash + SimHash evidence, size histogram",
      multiSignalClusters, Some(multiSignalClustersSql)),
    GQuery("q131_incremental_neardup",
      "incremental screening of a new batch against a frozen corpus index (exact digests + LSH bands)",
      incrementalNearDup, Some(incrementalNearDupSql)),
    GQuery("q132_split_leakage",
      "near-dup pairs crossing the train/val/test split boundary (eval contamination audit)",
      splitLeakage, Some(splitLeakageSql)),
    GQuery("q143_screen_loop",
      "screen -> accept -> refreshIndex -> screen: the persisted-index ingest cycle, both stages oracled",
      screenLoop, Some(screenLoopSql)),
    GQuery("q213_dedup_asof",
      "as-of screening over the segment-tagged dedup store: horizon 0 reproduces yesterday's pre-refresh decisions as a pushed-down segment filter",
      dedupScreenAsOf, Some(dedupScreenAsOfSql)),
    GQuery("q223_dedup_takedown",
      "takedown erasure over the screening index: content-keyed O(index) anti-joins via the keys sidecar, bloom rebuilt; re-submitted works admitted again, oracled from the filtered corpus",
      dedupTakedown, Some(dedupTakedownSql)),
    GQuery("q228_feed_synced_screen",
      "feed-driven dedup-index sync with group-survival semantics: a text is forgotten only when its LAST holder is deleted (member-level keys decide it O(delta)), inserts append, decisions + distinct-text audit oracled from the lake's current state",
      feedSyncedScreen, Some(feedSyncedScreenSql)),
    GQuery("q234_masked_feed_sync_screen",
      "feed sync with O(delta) masked deletes for the dedup family: the group-survival decision is computed once (keys-join, O(delta + keys)) and STORED as kilobyte masks (gone texts / erased reps / deleted ids) instead of rewriting four tables; seq-scoped so a re-ingested text is immediately visible; decisions + structural audit oracled identically to q228",
      maskedFeedSyncedScreen, Some(maskedFeedSyncedScreenSql)),
    GQuery("q147_bloom_screen",
      "screen with the persisted bloom sidecar fast path; per-doc equality vs the plain probe audited in-frame",
      bloomScreen, Some(bloomScreenSql)),
    GQuery("q135_softdedup_weights",
      "soft dedup: 1/cluster-size document weights (integer ppm), per-lang effective corpus size",
      softDedupWeights, Some(softDedupWeightsSql)),
  )
}
