package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}

/** Physical-plan fingerprints: a small structural summary of a query's
  * executed plan — exchange counts by kind, join strategy counts,
  * cartesian/top-k presence, scan + pushed-filter counts — that is stable
  * run-to-run at a fixed scale factor, but changes whenever the plan
  * SHAPE drifts (a lost broadcast, an extra shuffle, a filter that stops
  * reaching the scan).
  *
  * The correctness gate (hash vs the DuckDB oracle) cannot see plan
  * drift: a query that silently gains an exchange or loses a pushdown
  * still returns the right rows, just 10-100x slower at scale. The
  * fingerprints of the most expensive bench queries are therefore locked
  * in `src/test/resources/plan_fingerprints.lock` and asserted by
  * PlanFingerprintSpec on every test run, at the test fixture SF
  * (sf0.001), in the TestSpark session configuration.
  *
  * Regenerate (after an INTENTIONAL plan change — read the spec's diff
  * first, then): `sbt "runMain graft.PlanFingerprint"` and commit the
  * lockfile with a message saying WHY the shape moved.
  */
object PlanFingerprint {

  /** The queries whose plans are locked: the most expensive tail of the
    * sf0.1 bench (where a silent shape regression costs the most), plus
    * the classic shapes PlanShapeSpec pins in richer detail. Streaming
    * rigs (q177/q182/...) are excluded: their returned frame is a
    * harness artifact (the interesting invariants — state store kind,
    * stream==batch equality — live in StreamingSpec), and their fn runs
    * a full multi-batch stream per call, which would dominate suite
    * time for a fingerprint of a result-collection frame.
    */
  val locked: Seq[String] = Seq(
    // the expensive batch tail, by BENCH_FULL.json descending
    "q145_vec_screen_loop",
    "q167_prefix_setjoin",
    "q178_segment_compact",
    "q143_screen_loop",
    "q131_incremental_neardup",
    "q147_bloom_screen",
    "q149_vec_bloom_screen",
    "q140_embedding_screen",
    "q183_decontaminate",
    "q48_contamination",
    "q47_repetition",
    "q61_minhash_lsh",
    "q63_jaccard_verify",
    "q90_dedup_clusters",
    "q94_multi_signal_clusters",
    "q129_embedding_clusters",
    "q64_cosine_knn",
    "q65_ivf_ann",
    "q78_embedding_neardup",
    "q164_bm25_topk",
    "q165_bm25_negatives",
    "q166_segment_refresh",
    "q170_phrase_search",
    "q35_unpivot",
    "q54_json_props",
    "q85_media_features",
    "q171_bpe_train",
    "q174_funnel_steps",
    "q181_curriculum",
    "q158_ivm_loop",
    "q141_zorder_write",
    "q101_merge_lake",
    "q162_pruned_resolve",
    "q172_lm_perplexity",
    "q180_leakage_repair",
    "q122_image_codec",
    "q01_pipeline_agg",
    "q10_join_revenue",
    "q40_topk",
    "q184_ivf_index",
    // round-10 additions in the expensive tail
    "q187_pagerank",
    "q185_kmeans_refine",
    "q186_semdedup",
    "q188_ann_recall",
    "q189_trustrank",
    "q190_quality_classifier",
    "q191_ivf_refresh",
    "q192_diversity_sample",
    "q193_hybrid_rrf",
    // round-11 additions: the PQ/IVFADC family's serving paths (the
    // probe/screen plan shapes are the scale contract — cid-pruned scans,
    // broadcast dtables) and the linear-mode variants
    "q195_ivf_refresh_seq",
    "q197_kmeans_fixed_k",
    "q198_pq_codes",
    "q199_pq_adc",
    "q200_ivfpq_probe",
    "q202_l2_knn",
    "q204_pq_screen",
    "q206_k_anonymity",
    "q207_embedding_curation",
    "q208_pq_refresh_seq",
    "q209_mmr_rerank",
    // round-14 additions (VERDICT r12 item 3): the capped/linear variants
    // whose cap IS the plan contract, the PQ quality gates, and the
    // round-12 as-of + compaction family — q214 is a top-5 bench cost and
    // q211/q212's value is precisely their post-compaction plan shape.
    // q215 is excluded by the streaming-rig rule above.
    "q196_semdedup_capped",
    "q201_pq_error",
    "q203_ivfpq_recall",
    "q210_ivf_asof",
    "q211_ivf_seq_compact",
    "q212_pq_seq_compact",
    "q213_dedup_asof",
    "q214_search_asof",
    // q216 locked in its landing commit (the lock-on-landing discipline
    // VERDICT r13 item 4 adopted): the horizon probe's value is the
    // pushed segment filter staying a scan-level predicate
    "q216_phrase_asof",
    // the takedown family (round 14, lock-on-landing): each op's value
    // is its O(index) shape — broadcast anti-joins / one aggregation,
    // never a corpus re-read — which is exactly what a plan drift would
    // silently lose
    "q222_search_takedown",
    "q223_dedup_takedown",
    "q224_vector_takedown",
    "q225_lake_takedown",
    "q226_pq_takedown",
    "q227_feed_synced_search",
    "q228_feed_synced_screen",
    "q229_feed_synced_ann",
    // round-15 (lock-on-landing): the PQ feed-sync probe's value is the
    // broadcast ADC distance table + codes-only scan staying exactly the
    // q199 shape over the synced store
    "q230_feed_synced_adc",
    // q231's locked value: the mask stays a BROADCAST anti-join applied
    // beside the term-keyed postings probe — a drift to a shuffled join
    // or a full-index pass is exactly what the sidecar must never cost
    "q231_masked_feed_sync",
    // the vector/PQ masked probes: the mask must stay a broadcast
    // anti-join riding the cid-pruned / codes-only scan
    "q232_masked_feed_sync_ann",
    "q233_masked_feed_sync_adc",
    "q234_masked_feed_sync_screen",
    // q235's locked value: four count-only scans, zero data-row shuffles
    "q235_index_manifest",
    // round-16 (lock-on-landing): the cross-family manifest is count-only
    // scans like q235's; the auto-folded probe must serve the PHYSICAL
    // post-fold store (no mask join at all — the fold's point); the
    // evolved-feed probe reads the kilobyte docmeta side table, never a
    // corpus scan; the kNN graph's value is the cell-keyed self-join
    // (one shuffle on cid, no cartesian) + the per-source top-k window
    "q236_store_manifests",
    "q237_autofold_feed_sync",
    "q238_evolved_feed_sync",
    "q239_knn_graph",
    // q240's value: the reciprocity self-join rides the CHECKPOINTED
    // graph (scan of the checkpoint, one hash join) — a drift that
    // recomputed the cell pair volume twice is what the lock catches
    "q240_mutual_knn",
    "q241_knn_clusters",
    "q242_label_noise",
    // q243's value: the probe reads the repaired STORE (edges scan +
    // broadcast trace audits) — a drift that recomputed the graph or
    // the repair at probe time is what the lock catches
    "q243_knn_takedown",
    "q244_feed_synced_knn",
    // q245's value: the masked probe must stay the q244 edges scan plus
    // BROADCAST mask anti-joins — a drift that shuffles the masks or
    // recomputes the sync at probe time is what the lock catches
    "q245_masked_feed_sync_knn",
    // q247's value: the widened candidate build must keep the broadcast
    // centroid cover + the single salted cell join (no pair dedup — cells
    // partition the corpus) — a drift to a corpus-wide join or a
    // re-introduced pair exchange is what the lock catches
    "q247_knn_graph_np2",
    // round-17 (lock-on-landing): q250's value is the ONE corpus
    // exchange (the source-hash window whose partitioning the rollup
    // reuses) beside a broadcast allocation; q252's is the prefilter
    // staying a broadcast-joined scan-level filter before the window;
    // q253's is the hop/scoring joins staying broadcast (query batch +
    // beam frames) with the one corpus-sized term being the exact-audit
    // leg — a drift that shuffles the corpus per hop is what the lock
    // catches. q249/q251 follow the streaming-rig / explode-rig
    // exclusions respectively (q251's explode multiplies rows by a
    // data-dependent epoch count; its shape is pinned by the oracle's
    // closed form instead).
    "q250_mixture_realize",
    "q252_capped_realize",
    "q253_graph_ann_serve",
    // round-18 (lock-on-landing + the r17 ADVICE gap): q254's value is
    // the q250 realization shape + |sources|-row broadcast share
    // arithmetic; q255's is the scores sort-merge join + boundary-bucket
    // prefilter staying broadcast-joined scan-level filters before the
    // SHARDED window; q256's is the md5-keyed dedup exchange + the
    // verbatim q252 prefilter — exactly the shapes their ScaleRung
    // comments say must not drift. (q250/q252 re-locked this round: the
    // single-reducer-per-source window was replaced by the sharded
    // two-pass prefix sum, an intentional shape change.)
    "q254_mix_datacard",
    "q255_quality_fill",
    "q256_dedup_mixture",
    // q259's locked value: the final leg (epoch explode + rollup over
    // the checkpointed kept set, broadcast mix table) must stay one
    // hash exchange with broadcast joins — a drift that shuffled the
    // mix table or re-derived the kept set corpus-side is what the lock
    // catches; the upstream dedup/selection legs are the q256/q255
    // locked shapes, pinned there (they run inside the eager
    // checkpoints here). q257 follows the loop-rig exclusion (its
    // returned frame is metadata-scale arithmetic over the checkpointed
    // maintained state — the q161 class; the interesting invariants are
    // the feed-delta maintenance, spec'd and rung-measured); q258
    // follows the streaming-rig exclusion.
    "q259_mix_pipeline",
    // round-19 (lock-on-landing): q261's locked value is its final leg —
    // the epoch explode + ONE (source, shard)-partitioned pack window +
    // two-level rollup over the checkpointed kept set with the broadcast
    // mix table; a drift that globalized the pack window (losing the
    // 16-way shard bound) or shuffled the mix table is what the lock
    // catches. Upstream legs are q256/q255's locked shapes, pinned
    // there (they run inside the shared mixChain's eager checkpoint).
    "q261_mix_pack_pipeline",
    // round-19 (lock-on-landing): q262's locked value is the weights
    // join (one doc_id-keyed exchange against the checkpointed CC
    // labels, the q90 rig class) + the waterfill's |sources|-row
    // metadata window + the broadcast stats join — a drift that
    // re-derived the substrate corpus-side per call or shuffled the
    // tiny counts is what the lock catches.
    "q262_softdedup_mixture",
    // q263's locked value (re-locked round-20 when the realization moved
    // into the shared session-cached WSel state so q264 packs the SAME
    // selection): one rollup exchange over the checkpointed selection
    // frame — the realization legs (broadcast threshold filter before
    // the sharded window, q252's shape with effective costs) run inside
    // the eager cache build, the q259/mixChain convention; a drift that
    // re-derived the selection corpus-side per call is what the lock
    // catches.
    "q263_weighted_realize",
    // round-19: q260 follows the q257/q228 loop-rig exclusion — its
    // returned frame is the q258 probe (broadcast rates + digest
    // membership) over a store whose state depends on the in-process
    // lake fixture; the interesting invariants are the O(delta) feed
    // apply and the replay no-op, spec'd (ScaleOpsSpec) and
    // rung-measured.
    //
    // round-20 (lock-on-landing): q264's locked value is the packer leg
    // over the session-cached weighted selection — ONE hash exchange
    // into the 16-shard running window plus the two map-side rollups; a
    // drift that re-derived the selection per call (the cached_scan
    // disappearing) or globalized the pack window is what the lock
    // catches. The substrate is q263's locked shape inside the cache.
    "q264_weighted_pack",
    // q265/q266 follow the q260 exclusion rules: q265's returned frame
    // is the shared probe over a mask-synced store built from the
    // in-process lake fixture (fold-equality and mask scoping are
    // spec'd in MaskFoldSpec/ScaleOpsSpec); q266 is a streaming rig
    // (exactly-once ledger, torn-segment invisibility spec'd in
    // CrashRecoverySpec).
    //
    // q267's locked value: the totals aggregate + broadcast audit join
    // over the checkpointed per-probe hits frame — the gate's scan legs
    // (two stamped-index reads, broadcast slice probes, three top-3
    // windows) run at checkpoint time; a drift that re-ran them per
    // call (exchanges past the checkpoint scan) is what the lock
    // catches.
    "q267_refined_ann_recall",
    // q268 is q253's locked shape re-pointed at the refined branch
    // store — same beam legs, same audit legs; locked separately so a
    // drift in EITHER generation's serving plan is caught on its own.
    "q268_refined_graph_ann",
    // q269/q270 follow the q248/q249 streaming-rig exclusions: both read
    // ledgered stores built from the in-process lake fixture (q269's
    // horizon legs bound the visible segment set; q270 serves a
    // compacted COPY). Their interesting invariants — directory-level
    // horizon pruning, fold-at-max mask invisibility, tombstoned replay
    // no-ops, the horizon forfeit — are spec'd (CrashRecoverySpec) and
    // oracled bit-equal to q260's chain.
  )

  /** Structural counts of the STEADY-STATE initial plan.
    *
    * Two sources of run-to-run noise are normalized away:
    *  - A session-cached query returns the SAME Dataset object on every
    *    call; once executed, its AdaptiveSparkPlan is finalized (query
    *    stages, runtime join conversions) and no longer comparable to an
    *    unexecuted plan. `freshPlanOf` rebuilds the frame through a
    *    constant-true filter (optimized away), forcing a fresh, initial
    *    QueryExecution over the same logical plan.
    *  - Join strategies depend on whether cached substrates are
    *    MATERIALIZED (InMemoryRelation stats are exact once computed, so
    *    a small cached side flips SortMergeJoin -> BroadcastHashJoin).
    *    Callers therefore execute the query once (warm pass) BEFORE
    *    fingerprinting — the steady state, which is also what the bench
    *    measures and PLANS.md documents.
    *
    * InMemoryTableScan is treated as a leaf — the substrate behind a
    * session-cached frame is fingerprinted by the query that builds it,
    * not double-counted by every rider.
    */
  def freshPlanOf(df: DataFrame): DataFrame =
    df.filter(org.apache.spark.sql.functions.lit(true))

  /** Warm (execute) once, then fingerprint a fresh plan — the contract
    * shared by the generator main and PlanFingerprintSpec so both see
    * the same steady-state cache/stats context. */
  def steadyStateFingerprint(build: => DataFrame): Map[String, Int] = {
    build.write.format("noop").mode("overwrite").save()
    fingerprint(freshPlanOf(build))
  }

  def fingerprint(df: DataFrame): Map[String, Int] = {
    val c = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def bump(k: String): Unit = c(k) = c(k) + 1
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case _: InMemoryTableScanExec => bump("cached_scan")
      case s: ShuffleExchangeExec =>
        s.outputPartitioning match {
          case _: HashPartitioning  => bump("exchange_hash")
          case _: RangePartitioning => bump("exchange_range")
          case SinglePartition      => bump("exchange_single")
          case _                    => bump("exchange_other")
        }
        s.children.foreach(go)
      case other =>
        val n = other.getClass.getSimpleName.stripSuffix("Exec")
        n match {
          case "BroadcastHashJoin"       => bump("bhj")
          case "SortMergeJoin"           => bump("smj")
          case "ShuffledHashJoin"        => bump("shj")
          case "BroadcastNestedLoopJoin" => bump("bnlj")
          case "CartesianProduct"        => bump("cartesian")
          case "TakeOrderedAndProject"   => bump("topk")
          case "Window"                  => bump("window")
          case "WindowGroupLimit"        => bump("window_limit")
          case "FileSourceScan" =>
            bump("scan")
            if (other.asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
                  .metadata.get("PushedFilters").exists(f => f.nonEmpty && f != "[]"))
              bump("scan_pushed")
          case _ => ()
        }
        other.children.foreach(go)
    }
    go(df.queryExecution.executedPlan)
    c.toMap
  }

  def render(fp: Map[String, Int]): String =
    fp.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")

  def parse(line: String): (String, Map[String, Int]) = {
    val parts = line.trim.split("\\s+")
    val fp = parts.drop(1).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v.toInt
    }.toMap
    (parts.head, fp)
  }

  val lockPath: java.nio.file.Path =
    java.nio.file.Paths.get("src", "test", "resources", "plan_fingerprints.lock")

  def readLock(): Map[String, Map[String, Int]] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(lockPath).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(parse).toMap
  }

  def main(args: Array[String]): Unit = {
    // the TestSpark session (4 cpus): fingerprints depend on parallelism
    // (spread() partition counts are invisible to the counts, but
    // auto-broadcast decisions depend on size estimates at the fixture SF)
    val spark = Engine.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val lines = locked.map { name =>
      val fp = steadyStateFingerprint(SparkEntry.queries(name)(spark, sf))
      val line = s"$name ${render(fp)}"
      println(line)
      line
    }
    val header =
      """# Plan-shape lockfile — generated by `sbt "runMain graft.PlanFingerprint"`
        |# at sf0.001 in the TestSpark session config (local[4], 4 shuffle
        |# partitions). PlanFingerprintSpec recomputes these per test run and
        |# fails with a diff when a query's physical plan shape drifts.
        |# Regenerate ONLY for an intentional plan change, and say why in the
        |# commit message.
        |""".stripMargin
    java.nio.file.Files.createDirectories(lockPath.getParent)
    java.nio.file.Files.writeString(lockPath, header + lines.mkString("", "\n", "\n"))
    println(s"wrote ${lockPath}")
    spark.stop()
  }
}
