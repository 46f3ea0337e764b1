package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup stack behavior on the fixtures: the injected exact/near duplicates
  * must actually be caught, and the plans must stay scale-safe (band-bucket
  * equi-joins, never a cartesian product).
  */
class DedupSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("exact dedup counts the injected identical copies") {
    val rows = Dedup.dedupExact(s, TestSpark.sf)
      .agg(sum("n_dup_docs")).collect()(0).getLong(0)
    assert(rows > 0, "injected exact duplicates must be found")
  }

  test("minhash LSH finds the injected exact-copy pairs with sig_sim == 1.0") {
    val cand = Dedup.minhashCandidates(s, TestSpark.sf).cache()
    // exact copies (doc_id + 200000) collide on every band
    val exactPairs = cand.filter(col("db") === col("da") + 200000L && col("sig_sim") === 1.0)
    assert(exactPairs.count() > 0)
  }

  test("containment: prefix-truncated near-dups are subsumed by their source") {
    val c = Dedup.containment(s, TestSpark.sf).cache()
    // the augmented corpus injects prefix-truncations (doc_id + 100000):
    // the truncation's shingles are (nearly) all inside the original, so
    // one direction of containment must dominate the symmetric jaccard
    val j = Dedup.jaccardVerify(s, TestSpark.sf)
      .select(col("da"), col("db"), col("jacc"))
    val both = c.join(j, Seq("da", "db")).cache()
    assert(both.filter(
      org.apache.spark.sql.functions.greatest(col("cont_a_in_b"), col("cont_b_in_a")) < col("jacc") - 1e-12)
      .count() == 0, "max containment is always >= jaccard")
    // exact copies: containment 1 both directions and flagged subset
    assert(c.filter(col("cont_a_in_b") === 1.0 && col("cont_b_in_a") === 1.0 && !col("is_subset"))
      .count() == 0)
    assert(c.filter(col("is_subset")).count() > 0)
    both.unpersist(); c.unpersist()
  }

  test("jaccard verification: exact copies have jacc == 1.0 and is_dup") {
    val j = Dedup.jaccardVerify(s, TestSpark.sf)
      .filter(col("db") === col("da") + 200000L)
    assert(j.count() > 0)
    assert(j.filter(!col("is_dup")).count() == 0)
    assert(j.agg(min("jacc")).collect()(0).getDouble(0) == 1.0)
  }

  test("simhash: identical docs get identical fingerprints") {
    val fp = Dedup.simhash(s, TestSpark.sf)
    val a = fp.filter(col("doc_id") === 0L).collect()(0).getLong(1)
    val b = fp.filter(col("doc_id") === 200000L).collect()(0).getLong(1)
    assert(a == b)
  }

  test("multi-signal clustering path contains no cartesian product") {
    val plan = Dedup.multiSignalClusters(s, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan was:\n$plan")
  }

  test("candidate generation contains no cartesian product in the plan") {
    val df = Dedup.minhashCandidates(s, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan was:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan was:\n$plan")
    // and under AQE's runtime re-plan: run an action on the SAME frame,
    // then re-inspect — executedPlan now holds the final adaptive plan
    df.count()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true") || !finalPlan.contains("AdaptiveSparkPlan"),
      s"expected the finalized adaptive plan:\n$finalPlan")
    assert(!finalPlan.contains("CartesianProduct"), s"final plan was:\n$finalPlan")
    assert(!finalPlan.contains("BroadcastNestedLoopJoin"), s"final plan was:\n$finalPlan")
  }

  test("identical-doc flood: top-off collapses 10k copies to size-1 LSH buckets") {
    import s.implicits._
    // the canonical 100 TB failure mode: 10^4 copies of one boilerplate
    // text. The exact-dup top-off must collapse them to ONE representative
    // before any band bucket exists — every minhash band bucket and every
    // simhash byte-band bucket stays at one row, so the band self-joins
    // cannot go quadratic.
    val flood = (0 until 10000).map(i => (i.toLong, "all work and no play makes jack a dull boy"))
    val distinctDocs = (0 until 20).map(i =>
      (100000L + i, s"a$i b${i * 7} c${i * 13} d${i * 31} e${i * 57} f${i * 91}"))
    val docs = (flood ++ distinctDocs).toDF("doc_id", "text")
    val groups = Dedup.dupGroups(docs).cache()
    assert(groups.count() == 21, "10k identical docs form exactly one group")
    val sigs = Dedup.sigsFrom(Dedup.shingles(Dedup.repsOf(groups)))
    val maxMinhashBucket = Dedup.bandRows(sigs)
      .groupBy(col("band"), col("bk")).count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxMinhashBucket == 1L, s"minhash band buckets must not aggregate the flood: $maxMinhashBucket")
    // and the flood's pairs are still fully recovered through the group —
    // DISTRIBUTED with a HARD per-task cap: the bucket count must scale
    // with group size so no task ever owns more than ~targetPairsPerTask
    // pairs. The scaling law is dimensionless (pairs/task <= c*T for any
    // g with nb = ceil(g^2/T)), so exercising it at g=1e4 with T scaled
    // down to 2e6 proves the same bound a 1e5-copy group gets at the 2e8
    // production default. Broadcast threshold pinned explicitly: the
    // spread assertion relies on the b-side broadcasting so the join
    // output inherits a's explicit repartition (ADVICE r6).
    val target = 2000000L
    val prevT = s.conf.getOption("spark.graft.selfPairs.targetPairsPerTask")
    val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.graft.selfPairs.targetPairsPerTask", target.toString)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      val self = Dedup.selfPairs(groups.filter(col("gid") === 0L))
        .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      val byTask = self.groupBy(col("pid")).count().collect()
      val total = byTask.map(_.getLong(1)).sum
      assert(total == 10000L * 9999L / 2)
      // g=1e4, T=2e6 -> nb = ceil(1e8/2e6) = 50 buckets over >=100
      // partitions: wide spread and a hard cap per task
      assert(byTask.length >= 16,
        s"pair emission must spread across tasks, got ${byTask.length} partitions")
      val maxTask = byTask.map(_.getLong(1)).max
      assert(maxTask <= 2L * target,
        s"per-task pair volume must be capped near targetPairsPerTask: max=$maxTask > 2*$target")
    } finally {
      prevT match {
        case Some(v) => s.conf.set("spark.graft.selfPairs.targetPairsPerTask", v)
        case None    => s.conf.unset("spark.graft.selfPairs.targetPairsPerTask")
      }
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
    groups.unpersist()
  }

  test("incremental screening classifies exact / near / novel new docs correctly") {
    import s.implicits._
    // Frozen corpus: two long distinct docs. New batch: an exact copy of
    // doc 0, a prefix-truncation of doc 0 (near), a fresh doc (accept),
    // and two identical copies of the truncation (same group => same
    // decision for both members).
    val t0 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val t1 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val corpus = Seq((0L, t0), (1L, t1)).toDF("doc_id", "text")
    val trunc = t0.split(" ").drop(2).mkString(" ")
    val fresh = (1 to 30).map(i => s"gamma$i").mkString(" ")
    val newB = Seq((10L, t0), (11L, trunc), (12L, fresh), (13L, trunc))
      .toDF("doc_id", "text")
    val cSigs = Dedup.sigsFrom(Dedup.shingles(Dedup.repsOf(Dedup.dupGroups(corpus))))
    val dec = Dedup.incrementalScreen(
      corpus.select(md5(col("text")).as("tkey")).distinct(),
      cSigs,
      Dedup.capBuckets(Dedup.bandRows(cSigs), Seq("band", "bk"), 1024),
      newB
    ).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dec(10L) == "exact")
    assert(dec(11L) == "near", s"28/29 shared shingles must pass the 0.5 sig-sim gate: $dec")
    assert(dec(13L) == dec(11L), "identical new docs share one group-level decision")
    assert(dec(12L) == "accept")
  }

  test("incremental screening: invariants hold and the plan is equi-join only") {
    import s.implicits._
    // invariant fixture: 40 random-ish docs (deterministic seed), corpus =
    // first 25 texts, batch mixes corpus copies, fresh docs, one-word docs
    val rnd = new scala.util.Random(7)
    def doc(n: Int) = (1 to 12).map(_ => s"w${rnd.nextInt(40 + n)}").mkString(" ")
    val corpusTexts = (1 to 25).map(i => doc(i))
    val corpus = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val batchRows =
      corpusTexts.take(5).zipWithIndex.map { case (t, i) => (100L + i, t) } ++ // copies
        (1 to 5).map(i => (200L + i, doc(100 + i))) ++                         // fresh
        Seq((300L, "solo"))                                                     // < 2 words
    val batch = batchRows.toDF("doc_id", "text")
    val cSigs = Dedup.sigsFrom(Dedup.shingles(Dedup.repsOf(Dedup.dupGroups(corpus))))
    def screen() = Dedup.incrementalScreen(
      corpus.select(md5(col("text")).as("tkey")).distinct(), cSigs,
      Dedup.capBuckets(Dedup.bandRows(cSigs), Seq("band", "bk"), 1024), batch)
    val df = screen()
    val dec = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every doc gets exactly one decision
    assert(dec.size == batchRows.size)
    // a text present in the corpus is ALWAYS exact, never near/accept
    (0 until 5).foreach(i => assert(dec(100L + i) == "exact"))
    // a doc with < 2 words has no shingles: it can never be near
    assert(dec(300L) != "near")
    // deterministic: a second run yields identical decisions
    assert(screen().collect().map(r => r.getLong(0) -> r.getString(1)).toMap == dec)
    // scale shape: index probes are equi-joins, never a cartesian product
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan was:\n$plan")
  }

  test("split leakage audit finds cross-split near-dup pairs on the fixture") {
    val rows = Dedup.splitLeakage(s, TestSpark.sf).collect()
    val cross = rows.filter(r => r.getString(0) != r.getString(1))
    // the injected duplicates get independent hash buckets, so some pairs
    // must land across the 80/10/10 boundary (P[all same side] is tiny)
    assert(cross.nonEmpty, s"expected cross-split pairs, got ${rows.mkString(";")}")
    assert(cross.map(_.getLong(2)).sum > 0)
    // exact-copy leaks are a subset of all leaks
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
  }

  test("bucket cap keeps the smallest `cap` ids per bucket, deterministically") {
    import s.implicits._
    // 100 near-identical docs landing in ONE band bucket + a small bucket:
    // the cap must bound the big bucket at `cap` rows (the smallest ids,
    // so the choice is deterministic) and leave the small bucket alone.
    val rows = ((0 until 100).map(i => (i.toLong, 0, "hot")) ++
      Seq((500L, 1, "cold"), (501L, 1, "cold"))).toDF("doc_id", "band", "bk")
    val capped = Dedup.capBuckets(rows, Seq("band", "bk"), cap = 16).cache()
    assert(capped.filter(col("bk") === "hot").count() == 16)
    assert(capped.filter(col("bk") === "hot").agg(max("doc_id")).collect()(0).getLong(0) == 15L)
    assert(capped.filter(col("bk") === "cold").count() == 2)
    capped.unpersist()
  }

  test("capped LSH candidates bound pair volume at cap^2 per bucket") {
    import s.implicits._
    // near-identical texts (distinct, so the top-off can't merge them)
    // that still share every minhash band: with cap=8 the band join may
    // produce at most C(8,2) pairs per band from the hot bucket
    val docs = (0 until 64).map(i => (i.toLong, "shared prefix words repeated " * 30 + s"tail$i"))
      .toDF("doc_id", "text")
    val groups = Dedup.dupGroups(docs)
    assert(groups.count() == 64, "texts are distinct — top-off must NOT merge them")
    val sigs = Dedup.sigsFrom(Dedup.shingles(Dedup.repsOf(groups)))
    val uncapped = Dedup.candFrom(sigs).count()
    val capped = Dedup.candFrom(sigs, cap = 8).count()
    assert(capped <= 4 * 8 * 7 / 2, s"capped candidates must be bounded: $capped")
    assert(capped < uncapped, "cap must actually bite on the adversarial fixture")
  }

  test("rep-level assembly output equals per-doc LSH on a mixed corpus") {
    import s.implicits._
    // 30 docs: one exact-dup family of 10, two near-dup texts, the rest
    // distinct. The rep-level top-off + expansion must produce EXACTLY the
    // pair set of the naive per-doc pipeline (groups of size 1 make the
    // assembly degenerate to it).
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val docs = ((0 until 10).map(i => (i.toLong, base)) ++
      Seq((20L, base + "extra tail"), (21L, base + "extra tail words")) ++
      (30 until 48).map(i => (i.toLong, s"totally different text $i " * 10 + s"${i * 13}"))
      ).toDF("doc_id", "text")
    val groups = Dedup.dupGroups(docs).cache()
    val got = Dedup.minhashAssemble(groups,
        Dedup.sigsFrom(Dedup.shingles(Dedup.repsOf(groups))),
        Dedup.candFrom(Dedup.sigsFrom(Dedup.shingles(Dedup.repsOf(groups)))))
      .select("da", "db", "sig_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // naive reference: per-doc sigs, uncapped band join (groups of size 1)
    val naiveGroups = Dedup.dupGroups(
      docs.withColumn("text", concat(col("text"), lit(" uniq"), col("doc_id"))))
    // ^ make every text unique so dupGroups is the identity mapping
    val naiveSigs = Dedup.sigsFrom(Dedup.shingles(docs.select(col("doc_id"), col("text"))))
    val naiveBands = Dedup.bandRows(naiveSigs)
    val naive = naiveBands.alias("a")
      .join(naiveBands.alias("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
      .join(naiveSigs.toDF("da" +: (0 until 16).map(j => s"a_m$j"): _*), "da")
      .join(naiveSigs.toDF("db" +: (0 until 16).map(j => s"b_m$j"): _*), "db")
      .select(col("da"), col("db"),
        ((0 until 16).map(j => when(col(s"a_m$j") === col(s"b_m$j"), 1).otherwise(0))
          .reduce(_ + _) / lit(16.0)).as("sig_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == naive, s"only-in-assembly: ${got -- naive}\nonly-in-naive: ${naive -- got}")
    assert(naiveGroups.count() == 30) // sanity: uniq-suffix trick worked
    groups.unpersist()
  }

  // --- the public, corpus-agnostic screening API + persistence ---------

  private val literalBase = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"

  private def literalCorpus(sp: org.apache.spark.sql.SparkSession) = {
    import sp.implicits._
    ((0 until 8).map(i => (i.toLong, s"unrelated filler document number $i " * 5 + s"tail$i")) :+
      (100L, literalBase)).toDF("doc_id", "text")
  }

  private def literalBatch(sp: org.apache.spark.sql.SparkSession) = {
    import sp.implicits._
    Seq(
      (200L, literalBase),                             // exact copy -> exact
      (201L, literalBase.stripSuffix(" upsilon")),     // 1-word truncation -> near
      (202L, "a completely novel document about spark physical plans " * 4 + "x")
    ).toDF("doc_id", "text")
  }

  test("public API: screen a literal batch against a literal corpus index") {
    val got = Dedup.TextScreen.screen(Dedup.buildIndex(literalCorpus(s)), literalBatch(s))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(200L -> "exact", 201L -> "near", 202L -> "accept"), got.toString)
  }

  test("persisted index screens after the corpus is DELETED (restart analog)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_store").toString
    val corpusPath = s"$tmp/corpus"
    val idxPath = s"$tmp/idx"
    literalCorpus(s).write.parquet(corpusPath)
    Dedup.persistIndex(Dedup.buildIndex(s.read.parquet(corpusPath)), idxPath,
      graft.sources.IndexStore.sourceStamp(s, Seq(corpusPath)))
    // delete the corpus: anything that still needed it would now fail
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpusPath))
    // fresh session state = the process-restart analog for SessionCache
    // (new function registry, new catalog; tune() is what a restarted
    // process runs at startup)
    val s2 = s.newSession()
    Engine.tune(s2)
    val decisions = Dedup.TextScreen.screen(Dedup.loadIndex(s2, idxPath), literalBatch(s2))
    // plan-level proof: every file source in the screen reads the INDEX
    val scanned = decisions.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains(idxPath)),
      s"screen must scan only the persisted index, scanned: $scanned")
    val got = decisions.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(200L -> "exact", 201L -> "near", 202L -> "accept"), got.toString)
  }

  // PINNED (VERDICT r10 #4): since the registered q143/q145 loops compose
  // cached base + checkpointed increments, this test is the ONLY coverage
  // of the durable loadIndex-after-refreshIndex store path — do not trim.
  test("refreshIndex: an accepted doc is rejected as exact on the next batch") {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_store").toString
    val idxPath = s"$tmp/idx"
    Dedup.persistIndex(Dedup.buildIndex(literalCorpus(s)), idxPath)
    val novel = "a completely novel document about spark physical plans " * 4 + "x"
    // first batch: the novel doc is accepted
    val first = Dedup.TextScreen.screen(Dedup.loadIndex(s, idxPath),
        Seq((300L, novel)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == Map(300L -> "accept"))
    // ingest loop appends the accepted doc's signatures — twice, to prove
    // the probe tolerates the duplicate rows a double-refresh leaves
    Dedup.TextScreen.refresh(s, idxPath, Seq((300L, novel)).toDF("doc_id", "text"))
    Dedup.TextScreen.refresh(s, idxPath, Seq((300L, novel)).toDF("doc_id", "text"))
    val second = Dedup.TextScreen.screen(Dedup.loadIndex(s, idxPath),
        Seq((301L, novel), (302L, novel + " tail"),
            (303L, "still entirely different content " * 6 + "y"))
          .toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(second(301L) == "exact", s"copy of accepted doc must now be exact: $second")
    assert(second(302L) == "near", s"variant of accepted doc must now be near: $second")
    assert(second(303L) == "accept", second.toString)
    // compaction restores fresh-build invariants: the double-refresh left
    // duplicate digest/sig rows; after compactIndex each table is unique
    // again, bands are globally re-capped, and decisions are unchanged
    val pre = Dedup.loadIndex(s, idxPath)
    assert(pre.sigs.groupBy("doc_id").count().filter(col("count") > 1).count() > 0,
      "double-refresh must have left duplicate signature rows (test premise)")
    Dedup.TextScreen.compact(s, idxPath)
    val post = Dedup.loadIndex(s, idxPath)
    assert(post.sigs.count() == post.sigs.select("doc_id").distinct().count(),
      "compacted signatures must be unique per doc")
    assert(post.digests.count() == post.digests.distinct().count(),
      "compacted digests must be unique")
    val third = Dedup.TextScreen.screen(post,
        Seq((301L, novel), (302L, novel + " tail"),
            (303L, "still entirely different content " * 6 + "y"))
          .toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(third == second, "compaction must not change any decision")
  }

  test("bloom sidecar: decisions equal the plain probe; novel digests skip the exact join") {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_store").toString
    val idxPath = s"$tmp/idx"
    Dedup.persistIndex(Dedup.buildIndex(literalCorpus(s)), idxPath)
    Dedup.TextScreen.persistBloom(s, idxPath)
    val idx = Dedup.loadIndex(s, idxPath)
    val bf = graft.sources.IndexStore.loadBloom(s, idxPath)
    // no false negatives: every indexed digest hits the bloom
    val misses = idx.digests.collect().map(_.getString(0))
      .count(k => !bf.mightContainString(k))
    assert(misses == 0, s"$misses indexed digests missed the bloom")
    // decision-identical to the plain probe on the standard literal batch
    val fast = Dedup.TextScreen.screenBloom(idx, bf, literalBatch(s))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fast == Map(200L -> "exact", 201L -> "near", 202L -> "accept"), fast.toString)
    // the point of the sidecar: a flood of novel digests mostly fails the
    // probe (fpp=0.01), so it never reaches the exact join
    val novel = (0 until 500).map(i => (1000L + i, s"novel doc $i " * 8))
      .toDF("doc_id", "text")
    val novelKeys = novel.select(md5(col("text"))).collect().map(_.getString(0))
    val passed = novelKeys.count(bf.mightContainString)
    assert(passed < novelKeys.length / 10,
      s"bloom should reject most novel digests, passed $passed of ${novelKeys.length}")
    // refresh keeps the sidecar truthful: accepted digests hit the merged bloom
    Dedup.TextScreen.refresh(s, idxPath, novel)
    Dedup.TextScreen.refreshBloom(s, idxPath, novel)
    val bf2 = graft.sources.IndexStore.loadBloom(s, idxPath)
    assert(novelKeys.forall(bf2.mightContainString),
      "refreshed digests must hit the merged bloom")
  }

  test("q213 as-of screen: horizon 0 reproduces batch 1's pre-refresh decisions") {
    import org.apache.spark.sql.functions._
    val asof = Dedup.dedupScreenAsOf(s, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // batch 2 is a byte copy of batch 1, so the horizon-0 screen must give
    // EXACTLY the per-lang summary batch 1 got from the pre-refresh index
    // (q143's b1 stage) — "yesterday's decision, reproduced"
    val b1 = Dedup.screenLoop(s, TestSpark.sf).collect()
      .filter(_.getString(0) == "b1")
      .map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    b1.foreach { case (lang, counts) =>
      assert(asof(("asof0", lang)) == counts,
        s"horizon-0 screen drifted from batch 1's decision for lang=$lang")
    }
    // the full horizon genuinely differs: copies of ACCEPTED batch-1 docs
    // now reject exact (the refresh put them in the digest set)
    val langs = b1.keySet
    assert(langs.exists(l => asof(("full", l)) != asof(("asof0", l))),
      "full horizon must reflect the refresh somewhere")
    langs.foreach { l =>
      val (_, fullEx, _, fullAcc) = asof(("full", l))
      val (_, asofEx, _, asofAcc) = asof(("asof0", l))
      assert(fullEx >= asofEx && fullAcc <= asofAcc,
        s"refresh can only move decisions toward exact-rejection (lang=$l)")
    }
  }

  test("leakage repair conserves every doc and leaves zero crossing pairs") {
    import org.apache.spark.sql.functions._
    val rep = Dedup.leakageRepair(s, TestSpark.sf).cache()
    assert(rep.filter(col("n_residual_leaks") =!= 0L).count() == 0,
      "cluster-level reassignment must eliminate every crossing pair")
    val moved = rep.agg(sum("n_docs")).collect()(0).getLong(0)
    val total = Dedup.augmentedDocs(s, TestSpark.sf).count()
    assert(moved == total, s"movement matrix must conserve docs: $moved vs $total")
    // the audit must still see leaks PRE-repair, or the rig proves nothing
    val pre = Dedup.splitLeakage(s, TestSpark.sf)
      .filter(col("split_a") =!= col("split_b"))
      .agg(coalesce(sum("n_pairs"), lit(0L))).collect()(0).getLong(0)
    assert(pre > 0, "fixture must contain cross-split near-dup pairs to repair")
    rep.unpersist()
  }

  test("takedown branch forgets exactly the requested works, everywhere") {
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    val dir = TestSpark.sf
    val path = Dedup.takedownDedupBranch(s, dir)
    val src = Dedup.TextScreen.fixturePath(dir)
    def rd(p: String, t: String) = IndexStore.read(s, p, t)
    // the request, recomputed: the erased works' content keys and the
    // rep ids that carried their sigs/bands in the SOURCE index
    val wk = Dedup.augmentedDocs(s, dir)
      .filter(col("doc_id") < 100000L && col("doc_id") % 97 === 13)
      .select(md5(col("text")).as("tkey")).distinct().cache()
    val nW = wk.count()
    assert(nW > 0, "fixture must contain works to take down")
    val erased = rd(src, "keys").join(wk, "tkey").select(col("doc_id")).cache()
    assert(erased.count() >= nW, "every work must map to at least one holder")
    assert(wk.join(rd(src, "keys"), Seq("tkey"), "left_anti").isEmpty,
      "EVERY work must be present in the keys sidecar — a missing work " +
        "would make the zero-trace checks below vacuous for it")
    // structural invariant: one digest, one sig, one key GROUP per text
    val nd = rd(path, "digests").count()
    assert(nd == rd(path, "keys").select("tkey").distinct().count() &&
      nd == rd(path, "sigs").count(),
      "digests/keys/sigs must stay per-unique-text aligned after erasure")
    assert(nd == rd(src, "digests").count() - nW,
      "erasure must remove exactly the requested works' digests")
    // zero traces in any table
    assert(rd(path, "digests").join(wk, "tkey").isEmpty, "digest trace survived")
    assert(rd(path, "keys").join(wk, "tkey").isEmpty, "key trace survived")
    assert(rd(path, "sigs").join(erased, "doc_id").isEmpty, "sig trace survived")
    assert(rd(path, "bands").join(erased, "doc_id").isEmpty, "band trace survived")
    // the rebuilt bloom keeps its no-false-negatives contract for every
    // RETAINED digest (a rebuild that missed one would break screening)
    val bloom = graft.sources.IndexStore.loadBloom(s, path)
    val misses = rd(path, "digests").collect()
      .count(r => !bloom.mightContainString(r.getString(0)))
    assert(misses == 0, s"rebuilt bloom missed $misses retained digests")
    wk.unpersist(); erased.unpersist()
  }
}
