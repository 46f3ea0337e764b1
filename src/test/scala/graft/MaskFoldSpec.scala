package graft

import graft.operators.Search
import graft.sources.IndexStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The delete-mask sidecar's contract (q231):
  *
  *  1. EQUALITY AFTER FOLD — a store whose feed deletes landed as the
  *     sequence-scoped mask, once compacted (mask folded into the
  *     physical layout and dropped), is bit-identical to the store whose
  *     deletes were applied physically at feed time (q227's): same table
  *     contents, same BM25 rows. This is what licenses the O(delta)
  *     delete leg — nothing is lost by deferring the rewrite.
  *  2. SEQUENCE SCOPING — the mask hides only rows of segments at or
  *     below its seq; a re-used doc_id arriving in a NEWER segment is
  *     visible through the mask (the lake's Iceberg-v2 rule, q151).
  *  3. DELTA-SIZED DELETE LEG — the mask table's bytes are key-rows, not
  *     index rows (the thing the rung row evidences at 10x).
  */
class MaskFoldSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  private def top5(path: String): Array[org.apache.spark.sql.Row] = {
    val idx = Search.loadIndex(s, path)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    Search.bm25(idx, Search.querySet(Engine.table(s, sf, "documents")
        .select(col("doc_id"), col("text"), col("lang"))))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("doc_id"), col("score"), col("rn"))
      .orderBy(col("qid"), col("rn")).collect()
  }

  /** One masked family for the fold-equality test: the masked probe and
    * its physically-synced twin (their queries build both warm
    * substrates), the two store paths, the family's fold, and the tables
    * compared after the fold — by the given columns, or by the physical
    * store's columns (every folded table keeps its segment column, which
    * a physically-rewritten table may not carry). `extra` runs further
    * checks on (folded, physical). */
  private case class FoldCase(name: String, title: String, maskedQuery: String,
      physicalQuery: String,
      maskedStore: (org.apache.spark.sql.SparkSession, String) => String,
      physicalStore: (org.apache.spark.sql.SparkSession, String) => String,
      fold: IndexStore.MaskFold, compare: Seq[(String, Option[Seq[String]])],
      extra: (String, String) => Unit = (_, _) => ())

  private val foldCases = {
    import graft.operators.{Dedup, ScaleOps, Similarity}
    Seq(
      FoldCase("search",
        "folding the mask reproduces the physically-rewritten store bit-for-bit",
        "q231_masked_feed_sync", "q227_feed_synced_search",
        Search.maskSyncStore, Search.feedSyncStore, Search.SearchMaskFold,
        Seq("postings", "doclen", "dict", "positions").map(_ -> None),
        // the probe is bit-equal too (scores included: stats converged)
        (fold, phys) => assert(top5(fold).sameElements(top5(phys)),
          "post-fold BM25 top-5 must equal the physically-rewritten store's")),
      FoldCase("mixadm",
        "mixadm family: folding the masks reproduces q260's physically-rewritten store",
        "q265_masked_mixadm_sync", "q260_feed_synced_mixadm",
        ScaleOps.mixAdmMaskSyncStore, ScaleOps.mixAdmitSyncStore, ScaleOps.MixAdmMaskFold,
        // the two stores saw the SAME drained feed (shared fixture), so
        // counts and rates converge too (they telescoped across the legs)
        Seq("keys", "digests", "counts", "rates").map(_ -> None)),
      FoldCase("vector",
        "vector family: folding the mask reproduces q229's physically-rewritten assign",
        "q232_masked_feed_sync_ann", "q229_feed_synced_ann",
        Similarity.ivfMaskSyncStore, Similarity.ivfSyncStore,
        Similarity.vecMaskFold(Similarity.IvfCells),
        Seq("assign" -> Some(Seq("cid", "vec_id", "embedding", "nrm")))),
      FoldCase("pq",
        "pq family: folding the mask reproduces q230's physically-rewritten codes",
        "q233_masked_feed_sync_adc", "q230_feed_synced_adc",
        Similarity.pqMaskSyncStore, Similarity.pqSyncStore,
        Similarity.vecMaskFold(Similarity.PqCodes),
        Seq("codes" -> Some(Seq("vec_id", "j", "code", "d2"))),
        // the fold re-lays codes as every PQ store does: range on vec_id
        // alone, so no vector's codes are split across two files
        (fold, _) => {
          val split = IndexStore.read(s, fold, "codes")
            .select(col("vec_id"), input_file_name().as("file"))
            .groupBy(col("vec_id")).agg(countDistinct(col("file")).as("files"))
            .filter(col("files") > 1).count()
          assert(split == 0, s"pq: $split vectors' folded codes span two files")
          val rangeKeys = Similarity.vecMaskFold(Similarity.PqCodes).live(s, fold).head._2
            .queryExecution.analyzed.collect {
              case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
                r.partitionExpressions.flatMap(_.references.map(_.name))
            }
          assert(rangeKeys == Seq(Seq("vec_id")),
            s"pq: the fold must range-partition codes on vec_id alone, got $rangeKeys")
        }),
      // seg is provenance on the fold side only — the physical store
      // collapses legs in place
      FoldCase("knn",
        "knn-graph family: folding the masks reproduces q244's physically-synced edges",
        "q245_masked_feed_sync_knn", "q244_feed_synced_knn",
        Similarity.knnMaskSyncStore, Similarity.knnSyncStore, Similarity.KnnMaskFold,
        Seq("edges" -> Some(Seq("src", "nbr", "cosim", "rn")),
          "assign" -> Some(Seq("cid", "vec_id", "nrm")))),
      FoldCase("dedup",
        "dedup family: folding the group-survival masks reproduces q228's rewritten store",
        "q234_masked_feed_sync_screen", "q228_feed_synced_screen",
        Dedup.dedupMaskSyncStore, Dedup.dedupSyncStore, Dedup.DedupMaskFold,
        Seq("digests", "sigs", "bands", "keys").map(_ -> None)))
  }

  // one table-driven fold check, registered once per family
  for (c <- foldCases) test(c.title) {
    SparkEntry.queries(c.maskedQuery)(s, sf).collect()
    SparkEntry.queries(c.physicalQuery)(s, sf).collect()
    val maskPath = c.maskedStore(s, sf)
    val physPath = c.physicalStore(s, sf)
    // fold on a COPY: the shared warm substrate must stay masked for
    // later probes in this process
    val fold = maskPath + "_foldspec"
    IndexStore.copy(s, maskPath, fold)
    IndexStore.foldMasks(s, fold, c.fold)
    graft.sources.IndexStore.cleanupAtExit(fold)
    // every mask table is gone...
    assert(IndexStore.readDeleteMask(s, fold).isEmpty,
      s"${c.name}: fold must drop the delete-mask table")
    c.fold.masks.foreach(m => assert(!IndexStore.tableNames(s, fold).contains(m),
      s"${c.name}: fold must drop mask table '$m'"))
    // ...and every compared table equals the physically-rewritten store's
    for ((t, given) <- c.compare) {
      // compare by NAME: a physical apply's `join(ids, Seq("doc_id"))`
      // fronts the join key in the stored column order (cosmetic — every
      // reader selects by name); exceptAll is positional
      val cols = given.getOrElse(IndexStore.read(s, physPath, t).columns.sorted.toSeq).map(col)
      val a = IndexStore.read(s, fold, t).select(cols: _*)
      val b = IndexStore.read(s, physPath, t).select(cols: _*)
      val onlyA = a.exceptAll(b).limit(5).collect().toSeq
      val onlyB = b.exceptAll(a).limit(5).collect().toSeq
      assert(onlyA.isEmpty && onlyB.isEmpty,
        s"${c.name}: table '$t' differs between folded-mask and physical stores; " +
          s"fold-only rows: $onlyA; physical-only rows: $onlyB")
    }
    c.extra(fold, physPath)
  }

  test("mask scoping: a masked doc_id re-inserted in a newer segment stays visible") {
    import s.implicits._
    val path = s"target/tmp/maskscope_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.IndexStore.cleanupAtExit(path)
    // segment 0: docs 1, 2; then doc 1 is deleted (mask seq=0); then a
    // NEW doc 1 arrives in segment 1 (a re-ingestion after delete)
    Search.persistIndex(s, path, "scopespec",
      Seq((1L, "red fox"), (2L, "blue fox")).toDF("doc_id", "text"))
    IndexStore.appendDeleteMask(s, path, Seq(1L).toDF("doc_id").withColumn("seq", lit(0L)))
    Search.applyFeedToIndex(s, path, seg = 1,
      inserts = Seq((1L, "green fox")).toDF("doc_id", "text"),
      deleteIds = Seq.empty[Long].toDF("doc_id"))
    val live = Search.SearchMaskFold.live(s, path).toMap.apply("postings")
    // the seg-0 "red" row is hidden, the seg-1 "green" row of the SAME id is not
    assert(live.filter(col("tok") === "red").isEmpty, "seg-0 rows of a masked id must hide")
    assert(!live.filter(col("tok") === "green" && col("doc_id") === 1L).isEmpty,
      "a re-inserted id in a newer segment must stay visible through the mask")
    assert(live.filter(col("doc_id") === 2L).count() == 2L, "unmasked docs unaffected")
    // ...and the fold preserves exactly that visibility physically
    Search.foldDeleteMask(s, path)
    val folded = IndexStore.read(s, path, "postings")
    assert(folded.filter(col("tok") === "red").isEmpty)
    assert(!folded.filter(col("tok") === "green").isEmpty)
  }

  /** A hand-built masked store per family, for the scoping and seg-less
    * checks over every family's own fold frames: every `keyed` table
    * (table, key column, mask table, mask key) holds keys 1 and 2 at
    * segment 0 and key 1 re-inserted at segment 1; every mask hides key
    * 1 at seq 0. String keys read "k1"/"k2". */
  private case class Tiny(fold: IndexStore.MaskFold, seg: String,
      tables: Seq[(String, org.apache.spark.sql.DataFrame)],
      keyed: Seq[(String, String, String, String)],
      masks: Seq[(String, org.apache.spark.sql.DataFrame)])

  private val tinyNames =
    Seq("search", "vector", "pq", "knn", "knn stale-list", "dedup", "mixadm")

  private lazy val tiny: Map[String, Tiny] = {
    import s.implicits._
    import org.apache.spark.sql.Column
    import graft.operators.{Dedup, ScaleOps, Similarity}
    def keyOf(str: Boolean) =
      if (str) concat(lit("k"), col("k").cast("string")) else col("k")
    def rows(key: String, seg: String, str: Boolean = false)(extra: (String, Column)*) =
      Seq((1L, 0L), (2L, 0L), (1L, 1L)).toDF("k", seg)
        .select((keyOf(str).as(key) +: col(seg) +: extra.map { case (n, c) => c.as(n) }): _*)
    def mask(key: String, str: Boolean = false) =
      Seq(1L).toDF("k").select(keyOf(str).as(key), lit(0L).as("seq"))
    val del = IndexStore.DeleteMaskTable
    def graph = Seq("edges" -> rows("src", "seg")("nbr" -> lit(9L), "rn" -> lit(1)),
      "assign" -> rows("vec_id", "seg")("cid" -> lit(0L)))
    Map(
      "search" -> Tiny(Search.SearchMaskFold, "segment",
        Seq("postings" -> rows("doc_id", "segment")("tok" -> lit("t"), "tf" -> lit(1L)),
          "doclen" -> rows("doc_id", "segment")("dl" -> lit(1L)),
          "positions" -> rows("doc_id", "segment")("tok" -> lit("t"), "pos" -> lit(0))),
        Seq("postings", "doclen", "positions").map(t => (t, "doc_id", del, "doc_id")),
        Seq(del -> mask("doc_id"))),
      "vector" -> Tiny(Similarity.vecMaskFold(Similarity.IvfCells), "seg",
        Seq("assign" -> rows("vec_id", "seg")("cid" -> lit(0L))),
        Seq(("assign", "vec_id", del, "vec_id")), Seq(del -> mask("vec_id"))),
      "pq" -> Tiny(Similarity.vecMaskFold(Similarity.PqCodes), "seg",
        Seq("codes" -> rows("vec_id", "seg")("j" -> lit(0))),
        Seq(("codes", "vec_id", del, "vec_id")), Seq(del -> mask("vec_id"))),
      "knn" -> Tiny(Similarity.KnnMaskFold, "seg", graph,
        Seq(("edges", "src", del, "vec_id"), ("assign", "vec_id", del, "vec_id")),
        Seq(del -> mask("vec_id"))),
      // the graph family's second mask: a restated list hides its old rows
      "knn stale-list" -> Tiny(Similarity.KnnMaskFold, "seg", graph,
        Seq(("edges", "src", Similarity.KnnStaleMaskTable, "src")),
        Seq(Similarity.KnnStaleMaskTable -> mask("src"))),
      "dedup" -> Tiny(Dedup.DedupMaskFold, "seg",
        Seq("digests" -> rows("tkey", "seg", str = true)(),
          "sigs" -> rows("doc_id", "seg")(), "bands" -> rows("doc_id", "seg")(),
          "keys" -> rows("doc_id", "seg")()),
        Seq(("digests", "tkey", "mask_gone", "tkey"), ("sigs", "doc_id", "mask_reps", "doc_id"),
          ("bands", "doc_id", "mask_reps", "doc_id"), ("keys", "doc_id", del, "doc_id")),
        Seq("mask_gone" -> mask("tkey", str = true), "mask_reps" -> mask("doc_id"),
          del -> mask("doc_id"))),
      "mixadm" -> Tiny(ScaleOps.MixAdmMaskFold, "seg",
        Seq("digests" -> rows("dh", "seg", str = true)(), "keys" -> rows("doc_id", "seg")()),
        Seq(("digests", "dh", "mask_gone", "dh"), ("keys", "doc_id", del, "doc_id")),
        Seq("mask_gone" -> mask("dh", str = true), del -> mask("doc_id"))))
  }

  private def writeTiny(name: String, c: Tiny,
      tables: Seq[(String, org.apache.spark.sql.DataFrame)]): String = {
    val path = s"target/tmp/masktiny_${name.replace(' ', '_')}_" +
      java.util.UUID.randomUUID().toString.take(8)
    graft.sources.IndexStore.cleanupAtExit(path)
    IndexStore.write(s, path, "tinyspec", tables)
    c.masks.foreach { case (m, df) => IndexStore.append(s, path, m, df) }
    path
  }

  /** (key as string, segment) of every row — the masked key's seg-0 row
    * must be gone, its seg-1 re-insertion and the unmasked key kept. */
  private def keyRows(df: org.apache.spark.sql.DataFrame, key: String,
      seg: String): Set[(String, Long)] =
    df.select(regexp_replace(col(key).cast("string"), "^k", ""), col(seg)).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  for (name <- tinyNames)
    test(s"mask scoping ($name): a masked key re-inserted in a newer segment stays visible") {
      val c = tiny(name)
      val path = writeTiny(name, c, c.tables)
      val live = c.fold.live(s, path).toMap
      for ((t, key, _, _) <- c.keyed)
        assert(keyRows(live(t), key, c.seg) == Set("2" -> 0L, "1" -> 1L),
          s"table '$t' must hide exactly the seg-0 row of the masked key")
      // ...and the fold preserves exactly that visibility physically
      IndexStore.foldMasks(s, path, c.fold)
      c.fold.masks.foreach(m => assert(!IndexStore.tableNames(s, path).contains(m),
        s"fold must drop mask table '$m'"))
      for ((t, key, _, _) <- c.keyed)
        assert(keyRows(IndexStore.read(s, path, t), key, c.seg) == Set("2" -> 0L, "1" -> 1L),
          s"folded table '$t' must hold exactly the visible rows")
    }

  for (name <- tinyNames)
    test(s"seg-less guard ($name): a non-empty mask against a layout without the segment column throws") {
      val c = tiny(name)
      val path = writeTiny(name, c, c.tables.map { case (t, df) => t -> df.drop(c.seg) })
      val e = intercept[IllegalArgumentException](c.fold.live(s, path))
      assert(e.getMessage.contains("seg-less"),
        s"the refusal must name the seg-less layout, got: ${e.getMessage}")
      // an EMPTY mask passes the seg-less rows through untouched
      for ((t, key, m, mkey) <- c.keyed) {
        val empty = IndexStore.read(s, path, m).limit(0)
        assert(IndexStore.maskedRead(IndexStore.read(s, path, t), empty, key, mkey, c.seg)
          .count() == 3L, s"an empty mask must pass seg-less table '$t' through")
      }
    }

  test("an ADDITIVE schema-evolved feed batch is carried into docmeta, v1 tables untouched") {
    import s.implicits._
    // VERDICT r15 item 5: the lake itself carries additive columns
    // (mergeSchema=true), so the feed apply must too — the extra column
    // lands in the docmeta side table; every v1 table keeps its schema
    val path = s"target/tmp/feedcarry_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.IndexStore.cleanupAtExit(path)
    Search.persistIndex(s, path, "carryspec",
      Seq((1L, "red fox")).toDF("doc_id", "text"))
    val evolved = Seq((2L, "blue fox", "en")).toDF("doc_id", "text", "lang")
    Search.applyFeedToIndex(s, path, seg = 1,
      inserts = evolved, deleteIds = Seq.empty[Long].toDF("doc_id"))
    val dl = graft.sources.IndexStore.read(s, path, "doclen")
    assert(dl.count() == 2L, "the evolved doc must be indexed")
    assert(dl.columns.sorted.sameElements(Array("dl", "doc_id", "segment")),
      "doclen's v1 schema must be untouched by the carry")
    val dm = Search.readDocMeta(s, path).collect()
    assert(dm.length == 1 && dm(0).getAs[Long]("doc_id") == 2L
      && dm(0).getAs[String]("lang") == "en",
      s"docmeta must carry exactly the evolved row, got: ${dm.toSeq}")
    // a SECOND window evolving DIFFERENTLY: mergeSchema union, absent null
    Search.applyFeedToIndex(s, path, seg = 2,
      inserts = Seq((3L, "green fox", 7L)).toDF("doc_id", "text", "score"),
      deleteIds = Seq.empty[Long].toDF("doc_id"))
    val dm2 = Search.readDocMeta(s, path)
    assert(dm2.columns.toSet == Set("doc_id", "lang", "score", "segment"))
    assert(dm2.filter(col("doc_id") === 3L && col("lang").isNull
      && col("score") === 7L).count() == 1L)
    // ...and the erasure leg maintains docmeta like any doc-keyed table
    Search.applyFeedToIndex(s, path, seg = 3,
      inserts = Seq.empty[(Long, String)].toDF("doc_id", "text"),
      deleteIds = Seq(2L).toDF("doc_id"))
    assert(Search.readDocMeta(s, path).filter(col("doc_id") === 2L).isEmpty,
      "a deleted doc's carried row must be erased with it")
  }

  test("a KEY/TYPE-changed feed batch is still refused loudly, never silently cast") {
    import s.implicits._
    val path = s"target/tmp/feedschema_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.IndexStore.cleanupAtExit(path)
    Search.persistIndex(s, path, "schemaspec",
      Seq((1L, "red fox")).toDF("doc_id", "text"))
    // doc_id retyped to string: not evolution, a different feed
    val retyped = Seq(("2", "blue fox")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Search.applyFeedToIndex(s, path, seg = 1,
        inserts = retyped, deleteIds = Seq.empty[Long].toDF("doc_id"))
    }
    assert(e.getMessage.contains("schema-evolved feed"),
      s"refusal must name the schema problem, got: ${e.getMessage}")
    // missing text refuses the same way
    val e2 = intercept[IllegalArgumentException] {
      Search.applyFeedToIndex(s, path, seg = 1,
        inserts = Seq((2L, "en")).toDF("doc_id", "lang"),
        deleteIds = Seq.empty[Long].toDF("doc_id"))
    }
    assert(e2.getMessage.contains("schema-evolved feed"))
    assert(graft.sources.IndexStore.read(s, path, "doclen").count() == 1L,
      "a refused batch must leave the store untouched")
  }

  test("auto-fold policy: fold-at-threshold equals manual fold, and below threshold the mask stays") {
    import s.implicits._
    val base = s"target/tmp/autofold_${java.util.UUID.randomUUID().toString.take(8)}"
    def mkStore(sfx: String): String = {
      val p = s"${base}_$sfx"
      graft.sources.IndexStore.cleanupAtExit(p)
      Search.persistIndex(s, p, "afspec",
        (1L to 10L).map(i => (i, s"fox number $i")).toDF("doc_id", "text"))
      IndexStore.appendDeleteMask(s, p,
        Seq(3L, 7L).toDF("doc_id").withColumn("seq", lit(0L)))
      p
    }
    // BELOW threshold: with the knob at 0.5 the store's 20% masked
    // fraction does NOT fire the fold; the mask stays
    val cold = mkStore("cold")
    val knob = "spark.graft.mask.maxDeletedFraction"
    val prev = s.conf.getOption(knob)
    try {
      s.conf.set(knob, "0.5")
      assert(!IndexStore.autoFoldIfNeeded(s, cold, "doclen", "doc_id")(
        Search.foldDeleteMask(s, cold)), "20% < 50%: must not fire")
      assert(IndexStore.readDeleteMask(s, cold).nonEmpty,
        "below threshold the mask must stay (the delete leg stays O(delta))")
      // ABOVE threshold: fires, and the result equals a MANUAL fold
      s.conf.set(knob, "0.1")
      val auto = mkStore("auto")
      val manual = mkStore("manual")
      Search.foldDeleteMask(s, manual)
      assert(IndexStore.autoFoldIfNeeded(s, auto, "doclen", "doc_id")(
        Search.foldDeleteMask(s, auto)), "20% > 10%: must fire")
      assert(IndexStore.readDeleteMask(s, auto).isEmpty,
        "the fired fold must drop the sidecar")
      for (t <- Seq("postings", "doclen", "dict", "positions")) {
        val cols = IndexStore.read(s, auto, t).columns.sorted.map(col)
        val a = IndexStore.read(s, auto, t).select(cols.toIndexedSeq: _*)
        val b = IndexStore.read(s, manual, t).select(cols.toIndexedSeq: _*)
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"fold-at-threshold must equal manual fold for table '$t'")
      }
      // the post-fold probe path degrades gracefully: missing mask = empty
      val m = IndexStore.readDeleteMaskOrEmpty(s, auto, "doc_id")
      assert(m.isEmpty && m.columns.sameElements(Array("doc_id", "seq")),
        "a folded store's mask must read as EMPTY, not hard-fail (ADVICE r15)")
    } finally prev.fold(s.conf.unset(knob))(v => s.conf.set(knob, v))
  }

  test("as-of x mask: a horizon read applies only masks visible at that horizon (search)") {
    import s.implicits._
    val path = s"target/tmp/maskasof_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.IndexStore.cleanupAtExit(path)
    // seg 0: docs 1, 2; mask(1, seq=0) lands with the seg-0 view;
    // seg 1: doc 3 arrives; mask(2, seq=1) drains AFTER segment 1
    Search.persistIndex(s, path, "asofspec",
      Seq((1L, "red fox"), (2L, "blue fox")).toDF("doc_id", "text"))
    Search.applyFeedToIndex(s, path, seg = 1,
      inserts = Seq((3L, "green fox")).toDF("doc_id", "text"),
      deleteIds = Seq.empty[Long].toDF("doc_id"))
    IndexStore.appendDeleteMask(s, path,
      Seq((1L, 0L), (2L, 1L)).toDF("doc_id", "seq"))
    val dl = IndexStore.read(s, path, "doclen")
    val mask = IndexStore.readDeleteMask(s, path).get
    def visible(h: Long): Set[Long] =
      Search.maskedAsOf(dl, mask, h).select("doc_id").collect().map(_.getLong(0)).toSet
    // horizon 0: the seq-1 mask is FROM THE FUTURE — doc 2 must be visible
    assert(visible(0L) == Set(2L),
      "at h=0 only the seq<=0 mask applies: doc 1 hidden, doc 2 served, doc 3 not yet committed")
    // horizon 1: both masks visible — only the arrival survives
    assert(visible(1L) == Set(3L),
      "at h=1 both masks apply: docs 1 and 2 hidden, arrival 3 served")
    // the unbounded read equals the full-horizon read
    assert(visible(Long.MaxValue) == Set(3L))
  }

  test("as-of x mask: horizon-before-mask vs horizon-after-mask (IVF family)") {
    import s.implicits._
    import graft.operators.Similarity
    // same timeline on a seg-tagged assign frame: vecs 1,2 at seg 0,
    // arrival 3 at seg 1; mask(1, seq=0) then mask(2, seq=1)
    val assign = Seq((0L, 1L, 0L), (0L, 2L, 0L), (0L, 3L, 1L))
      .toDF("cid", "vec_id", "seg")
    val mask = Seq((1L, 0L), (2L, 1L)).toDF("vec_id", "seq")
    def visible(h: Long): Set[Long] =
      IndexStore.maskedRead(assign, mask, "vec_id", "vec_id", "seg", Some(h))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(visible(0L) == Set(2L),
      "at h=0 the seq-1 mask must not reach back: vec 2 visible")
    assert(visible(1L) == Set(3L))
    assert(visible(Long.MaxValue) == Set(3L))
  }

  test("the delete leg writes delta-sized bytes, not index-sized rewrites") {
    SparkEntry.queries("q231_masked_feed_sync")(s, sf).collect()
    val path = Search.maskSyncStore(s, sf)
    def dirBytes(sub: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path, sub)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    // the mask is kilobytes; the postings table it spares is much larger
    assert(dirBytes(IndexStore.DeleteMaskTable) * 10 < dirBytes("postings"),
      "delete mask must be small relative to the table a physical delete would rewrite")
  }
}
