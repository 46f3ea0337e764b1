package graft.operators

import graft.Engine._
import graft.{GQuery, QueryModule}
import graft.sources.{IndexStore, RoundTrip}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A frozen vector screening index: the corpus byte-digest set
  * (`k1`, `k2`), rep vectors with norms (`vec_id`, `embedding`, `nrm`),
  * sign-LSH band rows (`vec_id`, `band`, `bucket`), and the LSH bit
  * width — an INDEX property (derived from corpus size at build time)
  * that every probe must reuse verbatim, which is why it is stored
  * rather than re-derived. Build, screen, persist, load and refresh it
  * with [[Similarity.VecScreen]].
  */
final case class VecIndex(digests: DataFrame, reps: DataFrame,
                          bands: DataFrame, bits: Int) extends LshIndex {
  def meta: Map[String, String] = Map("bits" -> bits.toString)
}

/** Similarity search over the `embeddings` fixture (64-dim float vectors).
  *
  * Two paths, as a real 100 TB pipeline would ship them:
  *  - q64: brute-force cosine top-k — the exact baseline. The probe set is
  *    tiny (16 vectors) and BROADCAST; dot products are per-row
  *    zip_with/aggregate folds inside whole-stage codegen, so the corpus is
  *    read once with NO shuffle on the similarity computation — cost is one
  *    linear scan regardless of corpus size.
  *  - q65: IVF (inverted-file) ANN — vectors are assigned to their nearest
  *    centroid once, and each probe searches ONLY its own centroid's
  *    partition. At scale the assignment is the partition/bucket key and a
  *    probe touches 1/K of the data.
  *
  * Parity design: the oracle computes the same cosines with an
  * order-independent DECIMAL(38,20) accumulation; Spark's per-row double
  * fold agrees to ~1e-16 relative, and both sides round to 9 digits — far
  * above the fold error, far below any real similarity gap. Ties broken by
  * vec_id.
  */
object Similarity extends QueryModule {

  /** Per-row L2 norm via the native graft_dot expression (tight codegen
    * loop, graft.functions.FloatVectorDot) — no shuffle, no explode.
    */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", expr("sqrt(graft_dot(embedding, embedding))"))

  /** Per-row dot product of two embedding columns, written in the
    * declarative higher-order form — the DotProductRewrite optimizer rule
    * substitutes the native codegen kernel (graft_dot) at planning time,
    * so the readable spelling and the fast plan are the same thing
    * (asserted in FunctionsSpec).
    */
  private def dotOf(a: String, b: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)")
  private val dotExpr = dotOf("qemb", "vemb")

  private val flatSql =
    """flat AS (
      |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS xd
      |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS i
      |        FROM embeddings))""".stripMargin

  private val normsSql =
    """norms AS (
      |  SELECT vec_id, sqrt(CAST(SUM(CAST(xd*xd AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
      |  FROM flat GROUP BY vec_id)""".stripMargin

  /** Brute-force exact cosine top-5 for the 16 probe vectors (vec_id < 16). */
  def cosineKnn(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val e = withNorm(table(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val v = e.select(col("vec_id").as("vid"), col("embedding").as("vemb"), col("nrm").as("nv"))
    val q = e.filter(col("vec_id").between(0, 15))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("nrm").as("nq"))
    val cos = v.join(broadcast(q), col("qid") =!= col("vid"))
      .withColumn("cosim0", dotExpr / (col("nq") * col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosim0").desc, col("vid"))
    cos.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vid"), round(col("cosim0"), 9).as("cosim"), col("rn"))
  }

  private val cosineKnnSql =
    s"""WITH $flatSql,
       |$normsSql,
       |dots AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid,
       |         CAST(SUM(CAST(q.xd*v.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM flat q JOIN flat v ON q.pos = v.pos AND q.vec_id <> v.vec_id
       |  WHERE q.vec_id BETWEEN 0 AND 15
       |  GROUP BY q.vec_id, v.vec_id),
       |cos AS (
       |  SELECT qid, vid, dot / (a.nrm * b.nrm) AS cosim
       |  FROM dots JOIN norms a ON a.vec_id = qid JOIN norms b ON b.vec_id = vid)
       |SELECT qid, vid, round(cosim, 9) AS cosim, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, vid) AS INT) AS rn
       |  FROM cos)
       |WHERE rn <= 5""".stripMargin

  /** Hard-negative mining for contrastive training: for each probe, the
    * top-4 MOST similar vectors with a DIFFERENT label — the negatives
    * that actually teach a contrastive model something (random negatives
    * are trivially separable). Identical shape to [[cosineKnn]]: probes
    * broadcast, native codegen dot via the rewrite rule, WindowGroupLimit
    * top-k — the wrong-label filter rides the same linear pass, so mining
    * costs no more than the KNN it extends. At scale the candidate side
    * would be the IVF-bucketed path (q65) instead of the full corpus.
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val e = withNorm(table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label")))
    val v = e.select(col("vec_id").as("vid"), col("embedding").as("vemb"),
      col("nrm").as("nv"), col("label").as("vlab"))
    val q = e.filter(col("vec_id").between(0, 15))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("nq"), col("label").as("qlab"))
    val cos = v.join(broadcast(q), col("qid") =!= col("vid") && col("qlab") =!= col("vlab"))
      .withColumn("cosim0", dotExpr / (col("nq") * col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosim0").desc, col("vid"))
    cos.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .select(col("qid"), col("qlab"), col("vid"), col("vlab"),
        round(col("cosim0"), 9).as("cosim"), col("rn"))
  }

  private val hardNegativesSql =
    s"""WITH $flatSql,
       |$normsSql,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |dots AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid,
       |         CAST(SUM(CAST(q.xd*v.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM flat q JOIN flat v ON q.pos = v.pos AND q.vec_id <> v.vec_id
       |  WHERE q.vec_id BETWEEN 0 AND 15
       |  GROUP BY q.vec_id, v.vec_id),
       |cos AS (
       |  SELECT qid, la.label AS qlab, vid, lb.label AS vlab,
       |         dot / (a.nrm * b.nrm) AS cosim
       |  FROM dots JOIN norms a ON a.vec_id = qid JOIN norms b ON b.vec_id = vid
       |  JOIN lab la ON la.vec_id = qid JOIN lab lb ON lb.vec_id = vid
       |  WHERE la.label <> lb.label)
       |SELECT qid, qlab, vid, vlab, round(cosim, 9) AS cosim, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, vid) AS INT) AS rn
       |  FROM cos)
       |WHERE rn <= 4""".stripMargin

  // ---- the vector-quantizer core: the cell assignment and the cell probe ----

  /** The 16 BASE probe vectors of the IVF and PQ serving probes, bounded
    * below too, so a corpus with negative ids (the sf1 rung's copies)
    * keeps the probe set fixed — a `< 16` filter at the rung would sweep
    * every copy id into the probe side and measure a probe storm instead
    * of the serving shape. */
  private val BaseProbes: Column = col("vec_id").between(0, 15)

  /** The two cosine rank orders of the cell probes: the raw cosine, or
    * its 9-digit rounding (the q191 pattern: exact-tier ties break by vid
    * in both engines instead of by sub-ulp fold noise). Each probe ranks
    * by whichever its oracle pins. */
  private[graft] val RawCos: Column = col("cosim0")
  private[graft] val RoundedCos: Column = round(col("cosim0"), 9)

  /** The coarse cell assignment, written once: every vector of `vecs`
    * (vec_id, embedding, nrm, ...) against the broadcast centroid table
    * `cents` (cid, embedding, nc) by cosine `dotExpr / (nc * nrm)`,
    * ranked by cosine descending then cid, keeping each vector's top
    * `np` cells. With `np = 1` it is the stored IVF assignment, so the
    * stored cells, every arrival's cell and a widened probe's first cell
    * agree bit for bit. Returns (cid, vec_id, embedding, nrm) plus the
    * other columns of `vecs`. */
  private[graft] def topCells(vecs: DataFrame, cents: DataFrame, np: Int = 1): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cosim0").desc, col("cid"))
    val rest = vecs.columns.filterNot(Set("vec_id", "embedding", "nrm")).map(col)
    vecs.withColumnRenamed("embedding", "vemb")
      .join(broadcast(cents.select(col("cid"), col("embedding").as("qemb"), col("nc"))))
      .withColumn("cosim0", dotExpr / (col("nc") * col("nrm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= np)
      .select(Seq(col("cid"), col("vec_id"), col("vemb").as("embedding"), col("nrm")) ++ rest: _*)
  }

  /** The probe rows of an assign frame (cid, vec_id, embedding, nrm):
    * those matching `probe`, as (qid, cid, qemb, nq). */
  private def cellProbes(assign: DataFrame, probe: Column): DataFrame =
    assign.filter(probe).select(col("vec_id").as("qid"), col("cid"),
      col("embedding").as("qemb"), col("nrm").as("nq"))

  /** The driver-side cell cover of `rows`: their distinct cids, sorted —
    * metadata-scale (at most one per probe and probed cell), the IN(cids)
    * predicate parquet min/max pruning applies to a cid-sorted store. */
  private def cellCover(rows: DataFrame): Seq[Long] =
    rows.select(col("cid")).distinct().collect().map(_.getLong(0)).sorted.toSeq

  /** Each probe of `qa` (qid, cid, qemb, nq, broadcast) against its
    * cell's candidates in `cand` (cid, vec_id, embedding, nrm, carry...),
    * self excluded, cosine-ranked by `rank` descending then vid, top `k`:
    * (qid, vid, carry..., cosim, rn), cosim rounded to 9 digits. */
  private def cellTopK(cand: DataFrame, qa: DataFrame, k: Int, rank: Column,
      carry: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(rank.desc, col("vid"))
    cand.select(Seq(col("vec_id").as("vid"), col("cid"), col("embedding").as("vemb"),
        col("nrm").as("nv")) ++ carry.map(col): _*)
      .join(broadcast(qa), Seq("cid"))
      .filter(col("qid") =!= col("vid"))
      .withColumn("cosim0", dotExpr / (col("nq") * col("nv")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select((Seq(col("qid"), col("vid")) ++ carry.map(col)) ++
        Seq(round(col("cosim0"), 9).as("cosim"), col("rn")): _*)
  }

  /** The cid-pruned cell probe, written once, over a STORED assign frame
    * (cid, vec_id, embedding, nrm, carry...): the rows matching `probe`
    * are the probes; their cids collapse driver-side ([[cellCover]]) into
    * an IN(cids) predicate, so the scan reads only the probed cells'
    * bytes of the cid-sorted files; each probe then takes its top `k`
    * cell-mates by `rank` ([[cellTopK]]), carrying `carry` columns of the
    * candidates. Every stored-IVF prober (q184/q224/q229/q232, q191,
    * q195/q210/q211/q215–q218, the q193 vector leg) is a call, so they
    * cannot drift apart as hand-kept copies once did. */
  private[graft] def cellProbe(assign: DataFrame, probe: Column, k: Int, rank: Column,
      carry: Seq[String] = Nil): DataFrame = {
    val qa = cellProbes(assign, probe)
    cellTopK(assign.filter(col("cid").isInCollection(cellCover(qa))), qa, k, rank, carry)
  }

  /** IVF ANN: assign every vector to its nearest centroid (broadcast
    * cross + per-row folds), then each probe searches only its own cluster.
    *
    * The centroid count is DERIVED FROM CORPUS SIZE, not fixed: modulus
    * m = ceil(sqrt(N)) selects K ~ sqrt(N) centroids, so both the
    * assignment cost (N*K) and the expected per-cluster probe cost (N/K)
    * grow as N^1.5 / N^0.5 — the standard IVF balance point. A fixed K
    * would make clusters grow linearly with the corpus and probes
    * degenerate toward full scans (the round-3 version pinned 8 centroids,
    * which is exactly that failure). The oracle computes the same m from
    * the same count, so results stay bit-identical at any SF.
    */
  def ivfAnn(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (_, assign, _) = buildIvfIndex(table(s, dir, "embeddings"))
    // probe: same-cluster candidates only, broadcast probe side
    cellTopK(assign, cellProbes(assign, BaseProbes), 3, RawCos)
  }

  /** Same CTE block with the centroid modulus expression parameterized —
    * the fixed-K oracle (q197) swaps ceil(sqrt N) for ceil(N/K). */
  private def ivfAssignSqlWith(modExpr: String): String =
    s"""cent AS (SELECT vec_id AS cid, pos, xd AS cx FROM flat
      |         WHERE vec_id % (SELECT CAST($modExpr AS BIGINT) FROM embeddings) = 0),
      |adots AS (
      |  SELECT f.vec_id, c.cid, CAST(SUM(CAST(f.xd*c.cx AS DECIMAL(38,20))) AS DOUBLE) AS dot
      |  FROM flat f JOIN cent c ON f.pos = c.pos
      |  GROUP BY f.vec_id, c.cid),
      |acos AS (
      |  SELECT a.vec_id, a.cid, a.dot / (n2.nrm * n1.nrm) AS cosim
      |  FROM adots a JOIN norms n1 ON n1.vec_id = a.vec_id JOIN norms n2 ON n2.vec_id = a.cid),
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rn
      |    FROM acos)
      |  WHERE rn = 1)""".stripMargin

  /** The IVF seed-assignment CTE block (cent → adots → acos → assign),
    * shared by the q65/q184 probe oracle and the q185/q186 oracles that
    * build on the same deterministic seeding. Expects `flat`/`norms` to
    * be in scope.
    */
  private val ivfAssignSql = ivfAssignSqlWith("ceil(sqrt(COUNT(*)))")

  private val ivfAnnSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |pairs AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid
       |  FROM assign q JOIN assign v ON q.cid = v.cid AND q.vec_id BETWEEN 0 AND 15 AND q.vec_id <> v.vec_id),
       |pdots AS (
       |  SELECT p.qid, p.vid, CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM pairs p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat b ON b.vec_id = p.vid AND b.pos = a.pos
       |  GROUP BY p.qid, p.vid),
       |pcos AS (
       |  SELECT d.qid, d.vid, d.dot / (n1.nrm * n2.nrm) AS cosim
       |  FROM pdots d JOIN norms n1 ON n1.vec_id = d.qid JOIN norms n2 ON n2.vec_id = d.vid)
       |SELECT qid, vid, round(cosim, 9) AS cosim, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, vid) AS INT) AS rn
       |  FROM pcos)
       |WHERE rn <= 3""".stripMargin

  /** Persisted IVF index — the durable form of [[ivfAnn]]'s two tables,
    * completing the durable-index symmetry across the screening families
    * (dedup q131, vector-LSH q140, search q164 all persist; IVF
    * re-derived its assignment from the corpus on every call):
    *  - `centroids` (cid, embedding, nc): K ~ sqrt(N) rows — kilobytes
    *    relative to the corpus, broadcast at probe time.
    *  - `assign` (cid, vec_id, embedding, nrm): the full corpus, RANGE-
    *    partitioned on cid and sorted within partitions, so every parquet
    *    file/row-group covers a narrow cid range and a probe's IN(cids)
    *    predicate prunes to the probed clusters' bytes — the same layout
    *    contract as the term-sorted postings (q164).
    * `m` (the centroid modulus) is stored in the index meta: like the LSH
    * bit width it is an INDEX property a probe must reuse, never
    * re-derived from whatever corpus happens to be around at probe time.
    */
  def buildIvfIndex(corpus: DataFrame): (DataFrame, DataFrame, Long) = {
    val e = withNorm(corpus.select(col("vec_id"), col("embedding")))
    val m = math.ceil(math.sqrt(corpus.count().toDouble)).toLong.max(1L)
    val cents = e.filter(col("vec_id") % m === 0)
      .select(col("vec_id").as("cid"), col("embedding"), col("nrm").as("nc"))
    (cents, topCells(e, cents), m)
  }

  /** A quantizer trained over a corpus: its model table, the corpus
    * encoded against it, the store meta its probes reuse, and the release
    * of a training frame pinned until the store is written. */
  private[graft] final case class Trained(model: DataFrame, data: DataFrame,
      meta: Map[String, String], release: () => Unit = () => ())

  /** One vector quantizer as a serving store, the value every IVF and PQ
    * store lifecycle ([[vecTakedownBranch]], [[vecSyncStore]],
    * [[vecMaskSyncStore]], [[seqStore]]) is written over: the trained
    * `model` table and the `data` table of encoded rows, the data's
    * columns and its range/sort file layout, how a corpus trains it, how
    * a (vec_id, embedding) batch encodes against a STORED model (the
    * index-property contract: a refresh reuses the model verbatim), how
    * its population counts (`nVecs`), and which model column, if any,
    * holds raw seed vec_ids — a takedown hitting one needs a re-seed,
    * so it is refused. */
  private[graft] final case class VecQuantizer(model: String, data: String,
      cols: Seq[String], range: Seq[String], sort: Seq[String],
      train: DataFrame => Trained, encode: (DataFrame, DataFrame) => DataFrame,
      nVecs: Column, seedKey: Option[String]) {
    def laid(df: DataFrame): DataFrame =
      df.repartitionByRange(range.map(col): _*).sortWithinPartitions(sort.map(col): _*)
    def tables(m: DataFrame, d: DataFrame): Seq[(String, DataFrame)] =
      Seq(model -> m, data -> laid(d))
  }

  /** The IVF quantizer: `centroids` (cid, embedding, nc) trained by
    * [[buildIvfIndex]], `assign` (cid, vec_id, embedding, nrm) encoded by
    * the cell assignment [[topCells]], RANGE-partitioned and sorted on
    * (cid, vec_id) so a probe's IN(cids) predicate prunes to the probed
    * cells' bytes. Centroids are seeded from raw vectors (vec_id % m = 0). */
  private[graft] val IvfCells: VecQuantizer = VecQuantizer("centroids", "assign",
    Seq("cid", "vec_id", "embedding", "nrm"), Seq("cid", "vec_id"), Seq("cid", "vec_id"),
    corpus => {
      val (cents, assign, m) = buildIvfIndex(corpus)
      Trained(cents, assign, Map("m" -> m.toString))
    },
    (cents, vecs) => topCells(withNorm(vecs.select(col("vec_id"), col("embedding"))), cents),
    count(lit(1)), Some("cid"))

  private[graft] def fixtureIvfIndexPath(dir: String): String =
    "target/graft_index/ivf_" + IndexStore.dirTag(dir)

  /** Build-or-load the fixture IVF index (stamped, session-cached) —
    * the [[LshScreen.fixture]] pattern. */
  private[graft] def corpusIvfIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val path = fixtureIvfIndexPath(dir)
    val stamp = IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, path, stamp) {
      val t = IvfCells.train(table(s, dir, "embeddings"))
      IndexStore.write(s, path, stamp, IvfCells.tables(t.model, t.data), t.meta)
    }
    (graft.SessionCache.cached(s, s"sim:ivfc:$dir")(
        IndexStore.read(s, path, "centroids")),
      IndexStore.read(s, path, "assign"))
  }

  /** q184: [[ivfAnn]] served FROM the persisted index — the corpus is
    * never touched at probe time, and the probe reads only the probed
    * clusters' bytes: the ≤16 probe vectors' cluster ids collapse
    * driver-side (metadata-scale collect, K ~ sqrt(N) is small by
    * construction) into an IN(cids) predicate that parquet min/max
    * pruning applies to the cid-sorted assign files. Same math, same
    * output, same DuckDB oracle as q65 — what changes is WHAT IS READ.
    */
  def ivfAnnIndexed(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (_, assign) = corpusIvfIndex(s, dir)
    cellProbe(assign, BaseProbes, 3, RawCos)
  }

  // ---- q224: takedown (right-to-be-forgotten) over the persisted IVF index ----

  /** Build-if-stale the post-takedown BRANCH at `path` of the vector
    * store at `src` (q224 IVF, q226 PQ): the vectors of `req` vanish from
    * the SERVING structure without a retrain — one broadcast anti-join
    * over the encoded `data` table (O(index)); the model table and the
    * store meta carry through untouched (the quantization geometry is an
    * aggregate the probes still need; what must change is WHO can be
    * returned). The boundary is made loud instead of silent: a model
    * seeded from raw corpus vectors (IVF centroids, vec_id % m = 0) would
    * keep an erased RAW VECTOR, so the builder REFUSES a request hitting
    * a seed (a seed takedown needs a cell re-seed, i.e. a maintenance
    * rebuild, the same trade q211 names for horizons). The registered
    * request slice ([[vecErased]]) excludes seeds by construction; the
    * refusal guards arbitrary callers. `req` is read only inside the
    * gated build, so a warm call runs no job for it. */
  private[graft] def vecTakedownBranch(s: SparkSession, q: VecQuantizer, src: String,
      path: String, stamp: String)(req: => DataFrame): String = {
    IndexStore.stamped(s, path, stamp) {
      val ids = req.select(col("vec_id")).localCheckpoint()
      val model = IndexStore.read(s, src, q.model)
      q.seedKey.foreach { k =>
        require(model.join(ids, model(k) === ids("vec_id")).isEmpty,
          s"takedown request hits a ${q.model} seed: erasing it requires " +
            s"a re-seed (index rebuild), not a ${q.data}-row erasure")
      }
      IndexStore.write(s, path, stamp, q.tables(model, IndexStore.read(s, src, q.data)
        .join(broadcast(ids), Seq("vec_id"), "left_anti")), IndexStore.readMeta(s, src))
    }
    path
  }

  /** The registered takedown request of the fixture vector stores: the
    * [[vecErased]] slice under the fixture IVF index's stored modulus. */
  private def fixtureTakedownRequest(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings").filter(vecErased(
      IndexStore.readMeta(s, fixtureIvfIndexPath(dir))("m").toLong))

  private[graft] def takedownIvfBranch(s: SparkSession, dir: String): String = {
    corpusIvfIndex(s, dir)
    val src = fixtureIvfIndexPath(dir)
    vecTakedownBranch(s, IvfCells, src, IndexStore.workPath(src + "_takedown"),
      "takedown1|" + IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet")))(
      fixtureTakedownRequest(s, dir))
  }

  /** q224: the q184 probe answered from the post-takedown IVF branch,
    * plus the audit columns: `n_vecs` (the shrunken index population)
    * and `removed_traces` (assign rows for erased ids still present —
    * pinned 0, so one surviving row fails the gate even if it never
    * ranks). Assignment of retained vectors is unchanged by construction
    * (centroids are identical), so the oracle reuses the full-corpus
    * assignment chain and filters only candidate MEMBERSHIP. */
  def vectorTakedown(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = takedownIvfBranch(s, dir)
    val assign = graft.SessionCache.cached(s, s"sim:tkda:$dir")(
      IndexStore.read(s, path, "assign"))
    eraseAudited(assign, IvfCells, vecErased(IndexStore.readMeta(s, path)("m").toLong))(
      cellProbe(_, BaseProbes, 3, RawCos))
  }

  /** q224's oracle: the q65/q184 chain with the erased set removed from
    * candidate membership only (assignment recomputed over the FULL
    * corpus — centroids did not move), audits pinned. */
  private[graft] val vectorTakedownSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |erased AS (
       |  SELECT vec_id FROM embeddings
       |  WHERE vec_id % 89 = 17
       |    AND vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) <> 0),
       |pairs AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid
       |  FROM assign q JOIN assign v ON q.cid = v.cid AND q.vec_id BETWEEN 0 AND 15 AND q.vec_id <> v.vec_id
       |  WHERE v.vec_id NOT IN (SELECT vec_id FROM erased)),
       |pdots AS (
       |  SELECT p.qid, p.vid, CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM pairs p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat b ON b.vec_id = p.vid AND b.pos = a.pos
       |  GROUP BY p.qid, p.vid),
       |pcos AS (
       |  SELECT d.qid, d.vid, d.dot / (n1.nrm * n2.nrm) AS cosim
       |  FROM pdots d JOIN norms n1 ON n1.vec_id = d.qid JOIN norms n2 ON n2.vec_id = d.vid)
       |SELECT qid, vid, cosim, rn,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
       |         - (SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_vecs,
       |       CAST(0 AS BIGINT) AS removed_traces
       |FROM (
       |  SELECT qid, vid, round(cosim, 9) AS cosim,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, vid) AS INT) AS rn
       |  FROM pcos)
       |WHERE rn <= 3""".stripMargin

  // ---- the shared lake-feed fixture of the vector/PQ sync stores ----

  /** The embeddings family's takedown slice, the one erase rule of its
    * takedown branches, feed cycle and audits: vec_id % 89 = 17 minus the
    * centroid seeds (`% m = 0`, m = ceil(sqrt(N))), so the quantizer
    * geometry survives by construction. */
  private def vecErased(m: Long): Column =
    col("vec_id") % 89 === 17 && col("vec_id") % m =!= 0

  /** The embeddings lake's feed cycle
    * ([[RoundTrip.feedCycle]]) behind every vector, PQ and
    * kNN sync store (q229/q230/q232/q233, q244–q246 — hand-kept copies
    * would let the registered slices silently drift apart): v2 deletes
    * the takedown slice [[vecErased]]; the arrivals carry NEGATED
    * embeddings (sign flips are IEEE-lossless: norms preserved, cosines
    * decorrelated). Returns the feed, its inserts as
    * `(vec_id, embedding)`, and m. */
  private def embeddingFeedFixture(s: SparkSession, dir: String,
      name: String): (RoundTrip.Feed, Long) = {
    val e = table(s, dir, "embeddings")
    val m = math.ceil(math.sqrt(e.count().toDouble)).toLong.max(1L)
    val f = RoundTrip.feedCycle(s, name, dir, e, "vec_id",
      vecErased(m), expr("transform(embedding, x -> -x)").as("embedding"), col("label"))
    (f.copy(inserts = f.inserts.select(col("vec_id"), col("embedding"))), m)
  }

  /** `probe` over a vector store's encoded rows `data`, crossed with
    * the erasure audit every takedown and feed-sync probe carries:
    * `n_vecs` (the quantizer's population count) and `removed_traces`
    * (rows matching `erased`, pinned 0, so one surviving row fails the
    * gate even if it never ranks), extended by `more`. */
  private def eraseAudited(data: DataFrame, q: VecQuantizer, erased: Column,
      more: DataFrame => DataFrame = identity)(probe: DataFrame => DataFrame): DataFrame =
    probe(data).crossJoin(broadcast(more(data.agg(q.nVecs.as("n_vecs"),
      sum(when(erased, 1L).otherwise(0L)).as("removed_traces")))))

  /** The feed-synced probe of a physically applied vector store
    * (q229/q230): [[eraseAudited]] with the erased BASE ids (the arrivals
    * live above [[RoundTrip.ArrivalOffset]]) and the feed counts of the
    * store meta. */
  private def feedSyncedProbe(s: SparkSession, path: String, q: VecQuantizer)(
      probe: DataFrame => DataFrame): DataFrame = {
    val meta = IndexStore.readMeta(s, path)
    eraseAudited(IndexStore.read(s, path, q.data), q,
      vecErased(meta("m").toLong) && col("vec_id") < RoundTrip.ArrivalOffset,
      RoundTrip.withFeedCounts(meta))(probe)
  }

  /** The masked-synced probe of a vector store (q232/q233): `probe`
    * over the live rows (the delete mask applied by the broadcast
    * anti-join of [[IndexStore.maskedRead]]), audited with the live
    * count, the mask size and the feed counts. A missing mask on a
    * stamped store is the legal post-fold state (ADVICE r15): the empty
    * mask makes the anti-join a no-op. */
  private def maskedSyncedProbe(s: SparkSession, path: String, q: VecQuantizer)(
      probe: DataFrame => DataFrame): DataFrame = {
    val meta = IndexStore.readMeta(s, path)
    val mask = IndexStore.readDeleteMaskOrEmpty(s, path, "vec_id")
      .localCheckpoint()
    val live = IndexStore.maskedRead(IndexStore.read(s, path, q.data), mask,
      "vec_id", "vec_id", "seg")
    val audit = live.agg(q.nVecs.as("n_vecs"))
      .crossJoin(broadcast(mask.agg(count(lit(1)).as("n_mask_rows"))))
      .transform(RoundTrip.withFeedCounts(meta))
    probe(live.drop("seg")).crossJoin(broadcast(audit))
  }

  // ---- q229: feed-driven sync of the IVF index ----

  /** q229: the feed-sync composition for the VECTOR family, completing
    * the loop for all three index kinds (search q227, dedup q228). The
    * lake holds the embeddings; the IVF index builds FROM the lake and
    * then follows its change feed O(delta): D rows anti-join the assign
    * table (the q224 erasure — the registered delete slice excludes
    * centroid seeds, so the stored quantizer geometry survives by
    * construction), insert rows coarse-assign against the STORED
    * centroids (the q215 refresh path — one broadcast argmax over the
    * batch, the corpus never rescanned) and append. The appended
    * arrivals are the % 31 = 2 vectors under fresh ids with NEGATED
    * embeddings — a deterministic transform both engines compute exactly
    * (sign flips are lossless in IEEE), preserving norms while
    * decorrelating from the originals. The probe is the q184
    * cluster-cover top-3 over the synced membership; the oracle
    * recomputes it from the lake's current logical state with the
    * centroids held at their v1 values — so a stale assignment, a leaked
    * deleted vector, or a mis-assigned arrival all hash-mismatch. */
  def feedSyncedAnn(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    // PROBE: the q184 cluster-cover top-3 over the synced membership
    feedSyncedProbe(s, ivfSyncStore(s, dir), IvfCells)(cellProbe(_, BaseProbes, 3, RawCos))
  }

  /** Build-if-stale the feed-synced store of quantizer `q` at
    * `<kind><dir tag>` (q229 IVF, q230 PQ) — the q222 warm-substrate
    * convention (VERDICT r14 item 3): lake commit + from-lake build + feed
    * drain + apply land ONCE per (process, corpus) behind the stamp
    * `stamp` + source stamp; the recurring benched cost is the warm
    * probe. v1 commits the embeddings to the `feed` lake and the store
    * trains + encodes FROM that snapshot; the v1→v3 change feed then
    * applies O(delta), PHYSICALLY:
    *  - D rows anti-join the `data` table (the q224/q226 erasure — one
    *    broadcast anti-join; the model is untouched), re-laid in the
    *    quantizer's layout;
    *  - insert rows encode against the STORED model (retraining would
    *    invalidate every stored row) and append.
    * The final stamp is written only AFTER the feed apply, so a crash
    * mid-sync can never serve a half-synced store (it fails the stamp
    * check and rebuilds). The feed counts and the training meta land in
    * the store meta — the probe audits them without re-draining the feed.
    * MaskFoldSpec checks the masked twin [[vecMaskSyncStore]]'s fold
    * against this store, so the two stay separate. */
  private def vecSyncStore(s: SparkSession, dir: String, q: VecQuantizer, kind: String,
      feed: String, stamp: String): String = {
    val idxPath = IndexStore.workPath("target/tmp/" + kind + IndexStore.dirTag(dir))
    val st = stamp + IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, idxPath, st) {
      // the same erasure slice as q224/q226 (the shared fixture): one
      // takedown request provably leaves every serving structure
      val (f, m) = embeddingFeedFixture(s, dir, feed)
      val t = q.train(f.base)
      IndexStore.write(s, idxPath, s"$feed-building", q.tables(t.model, t.data))
      // DELETE leg: one anti-join over the encoded rows, layout kept
      val kept = IndexStore.read(s, idxPath, q.data)
        .join(broadcast(f.deletes), Seq("vec_id"), "left_anti").localCheckpoint()
      IndexStore.replaceTable(s, idxPath, q.data, q.laid(kept))
      // INSERT leg: encode the arrivals against the STORED model
      IndexStore.append(s, idxPath, q.data,
        q.encode(IndexStore.read(s, idxPath, q.model), f.inserts))
      IndexStore.writeStamp(s, idxPath, st, f.counts ++ t.meta + ("m" -> m.toString))
      t.release()
    }
    idxPath
  }

  private[graft] def ivfSyncStore(s: SparkSession, dir: String): String =
    vecSyncStore(s, dir, IvfCells, "ivf_sync_", "vecsync", "vecsync2|")

  /** q229's oracle: membership recomputed from the lake's current
    * logical state with centroids held at their v1 values — retained
    * vectors keep their original assignment (centroids did not move),
    * arrivals assign fresh against the same centroid set (negated
    * embeddings reuse the original norms: sign flips preserve them
    * exactly). */
  private[graft] val feedSyncedAnnSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |erased AS (
       |  SELECT vec_id FROM embeddings
       |  WHERE vec_id % 89 = 17
       |    AND vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) <> 0),
       |flat_n AS (SELECT vec_id + 500000 AS vec_id, pos, -xd AS xd FROM flat WHERE vec_id % 31 = 2),
       |norms_n AS (SELECT vec_id + 500000 AS vec_id, nrm FROM norms WHERE vec_id % 31 = 2),
       |adots_n AS (
       |  SELECT f.vec_id, c.cid, CAST(SUM(CAST(f.xd*c.cx AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM flat_n f JOIN cent c ON f.pos = c.pos
       |  GROUP BY f.vec_id, c.cid),
       |acos_n AS (
       |  SELECT a.vec_id, a.cid, a.dot / (n2.nrm * n1.nrm) AS cosim
       |  FROM adots_n a JOIN norms_n n1 ON n1.vec_id = a.vec_id JOIN norms n2 ON n2.vec_id = a.cid),
       |assign_n AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rn
       |    FROM acos_n)
       |  WHERE rn = 1),
       |members AS (
       |  SELECT vec_id, cid FROM assign WHERE vec_id NOT IN (SELECT vec_id FROM erased)
       |  UNION ALL SELECT vec_id, cid FROM assign_n),
       |flat_all AS (
       |  SELECT vec_id, pos, xd FROM flat WHERE vec_id NOT IN (SELECT vec_id FROM erased)
       |  UNION ALL SELECT vec_id, pos, xd FROM flat_n),
       |norms_all AS (
       |  SELECT vec_id, nrm FROM norms WHERE vec_id NOT IN (SELECT vec_id FROM erased)
       |  UNION ALL SELECT vec_id, nrm FROM norms_n),
       |pairs AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid
       |  FROM assign q JOIN members v ON q.cid = v.cid AND q.vec_id BETWEEN 0 AND 15 AND q.vec_id <> v.vec_id),
       |pdots AS (
       |  SELECT p.qid, p.vid, CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM pairs p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat_all b ON b.vec_id = p.vid AND b.pos = a.pos
       |  GROUP BY p.qid, p.vid),
       |pcos AS (
       |  SELECT d.qid, d.vid, d.dot / (n1.nrm * n2.nrm) AS cosim
       |  FROM pdots d JOIN norms n1 ON n1.vec_id = d.qid JOIN norms_all n2 ON n2.vec_id = d.vid)
       |SELECT qid, vid, cosim, rn,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_vecs,
       |       CAST(0 AS BIGINT) AS removed_traces,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id % 31 = 2)
       |         AS n_feed_inserts,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_feed_deletes
       |FROM (
       |  SELECT qid, vid, round(cosim, 9) AS cosim,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, vid) AS INT) AS rn
       |  FROM pcos)
       |WHERE rn <= 3""".stripMargin

  // ---- q232: feed sync with O(delta) MASKED deletes for the IVF index ----

  /** Build-if-stale the mask-synced store of quantizer `q` (q232 IVF,
    * q233 PQ): the same lake and the same v1→v3 feed as
    * [[vecSyncStore]], but the delete leg lands as the sequence-scoped
    * delete-mask sidecar (q231's pattern carried to the vector families)
    * — a kilobyte `(vec_id, seq)` row-set — instead of the data-table
    * rewrite. The data rows carry a `seg` column (0 = base build, 1 =
    * the feed's arrivals, encoded against the STORED model, O(batch)) so
    * the mask's scoping rule holds here too: it hides only rows of
    * segments ≤ its seq, and a re-inserted vec_id arriving later stays
    * visible. The auto-fold policy (VERDICT r15 item 2) folds only past
    * its threshold (a distinct-key fraction, so PQ's M rows per vector
    * read the same ~1% deleted, below the 0.1 default: the mask stays —
    * q232's point); the final stamp lands only after both legs. */
  private def vecMaskSyncStore(s: SparkSession, dir: String, q: VecQuantizer, kind: String,
      feed: String, stamp: String): String = {
    val idxPath = IndexStore.workPath("target/tmp/" + kind + IndexStore.dirTag(dir))
    val st = stamp + IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, idxPath, st) {
      val (f, m) = embeddingFeedFixture(s, dir, feed)
      val t = q.train(f.base)
      IndexStore.write(s, idxPath, s"$feed-building",
        q.tables(t.model, t.data.withColumn("seg", lit(0L))))
      // MASKED delete leg: O(delta) bytes — the data rewrite is gone
      IndexStore.appendDeleteMask(s, idxPath,
        f.deletes.withColumn("seq", lit(0L)))
      // INSERT leg: encode against the STORED model, seg 1
      IndexStore.append(s, idxPath, q.data,
        q.encode(IndexStore.read(s, idxPath, q.model), f.inserts).withColumn("seg", lit(1L)))
      val folded = IndexStore.autoFoldIfNeeded(
        s, idxPath, q.data, "vec_id")(IndexStore.foldMasks(
        s, idxPath, vecMaskFold(q)))
      IndexStore.writeStamp(s, idxPath, st, f.counts ++ t.meta ++ Map(
        "m" -> m.toString,
        "auto_folded" -> folded.toString))
      t.release()
    }
    idxPath
  }

  private[graft] def ivfMaskSyncStore(s: SparkSession, dir: String): String =
    vecMaskSyncStore(s, dir, IvfCells, "ivf_msync_", "vecmasksync", "vecmasksync1|")

  /** The vector family's fold of a quantizer's seg-tagged data table (IVF
    * `assign`, PQ `codes`), re-laid by the quantizer's own layout
    * ([[VecQuantizer.laid]]) — the layout every sync store of that
    * quantizer writes. MaskFoldSpec pins the result bit-equal to
    * q229's/q230's physically-rewritten stores. */
  private[graft] def vecMaskFold(q: VecQuantizer) =
    IndexStore.MaskFold(Seq(IndexStore.DeleteMaskTable),
      (s, path) => {
        val mask = IndexStore.readDeleteMaskOrEmpty(s, path, "vec_id")
          .localCheckpoint()
        Seq(q.data -> q.laid(IndexStore.maskedRead(
          IndexStore.read(s, path, q.data), mask, "vec_id", "vec_id", "seg")))
      })

  /** q232: the q184 cluster-cover probe over the mask-synced IVF store.
    * Masked vectors are filtered from CANDIDATES by the broadcast
    * anti-join (applied to the cid-pruned assign scan — the mask never
    * widens what is read); probe rows are exactly q229's, because for
    * the vector family there are no corpus-level statistics to go stale
    * — membership IS the whole serving state, so the mask path is
    * drift-free even before the fold. Audits: the live count, the mask
    * size, and the feed counts. */
  def maskedFeedSyncedAnn(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    maskedSyncedProbe(s, ivfMaskSyncStore(s, dir), IvfCells)(
      cellProbe(_, BaseProbes, 3, RawCos))
  }

  /** q232's oracle: q229's chain verbatim (same logical state, same
    * probe rows) with the trace audit swapped for the mask size. */
  private[graft] val maskedFeedSyncedAnnSql = {
    val anchor = "CAST(0 AS BIGINT) AS removed_traces"
    require(feedSyncedAnnSql.contains(anchor), "q232 oracle anchor drifted")
    feedSyncedAnnSql.replace(anchor,
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_mask_rows")
  }

  /** Centroid-selection modulus for a corpus of `n` vectors. Default is
    * the IVF balance point m = ceil(sqrt n) (K ~ sqrt N centroids —
    * assignment N*K ~ N^1.5, the honest bound q185's doc records). A
    * fixed-K deployment sets `spark.graft.kmeans.k`: m = ceil(n/K) picks
    * ~K centroids regardless of corpus size, making assignment work N*K
    * LINEAR in N — what a 100 TB run uses (VERDICT r10 item 6). Setting
    * K changes the clustering geometry, so it departs from the
    * sqrt-default the registered oracles pin; it is a deployment knob,
    * spec-covered (SimilaritySpec), not an oracle path.
    */
  private[graft] def centroidModulus(s: SparkSession, n: Long): Long =
    s.conf.getOption("spark.graft.kmeans.k") match {
      case Some(k) => math.max(1L, math.ceil(n.toDouble / k.toLong.max(1L)).toLong)
      case None => math.ceil(math.sqrt(n.toDouble)).toLong.max(1L)
    }

  /** q185: one distributed Lloyd (k-means) refinement step over the IVF
    * seeding — the building block of embedding-space clustering for
    * curation (SemDeDup-style pruning, diversity sampling, cluster-local
    * ANN all start from exactly this iteration):
    *  1. seed centroids = the deterministic IVF modulus pick (q65);
    *  2. assign every vector to its argmax-cosine seed (broadcast K ~
    *     sqrt(N) centroids, one linear scan, NO shuffle on the dots);
    *  3. recompute each cluster's mean — posexplode to (cid, pos, x) and
    *     aggregate per component. Partial (map-side) aggregation collapses
    *     the 64x row blow-up to K*64 rows per task BEFORE the shuffle, so
    *     shuffle bytes are O(tasks * K * 64), independent of corpus size.
    *     Component means go through the exact DECIMAL accumulator
    *     ([[graft.Engine.dsum]]) so the refined centroids are bit-identical
    *     to the oracle's regardless of partitioning;
    *  4. re-assign against the refined means (broadcast again).
    * Output is the discrete before/after assignment per vector (cid_seed,
    * cid_refined, moved) — robust to the ~1e-16 fold-order noise in the
    * cosines themselves. Every seed centroid is its own nearest member
    * (self-cosine 1), so no cluster empties and K is stable across the
    * iteration. At 100 TB each additional Lloyd step costs one corpus
    * scan + one K*64-row shuffle; the loop would checkpoint centroids
    * per step exactly like the screening loops checkpoint increments.
    */
  def kmeansRefine(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    kmeansRefineWith(s, dir,
      centroidModulus(s, table(s, dir, "embeddings").count()))
  }

  /** q197: the SAME Lloyd step with the FIXED-K seeding a 100 TB
    * deployment runs (K = 8 here): m = ceil(N/K) picks ~K centroids at
    * any corpus size, so assignment work is N*K — linear in the corpus,
    * not the sqrt-default's N^1.5 (the q185 watch-item, VERDICT r10
    * item 6, now oracled rather than only spec-asserted). Same math,
    * same output shape, same DECIMAL-exact means as q185; only the seed
    * modulus differs, and the oracle derives the identical ceil(N/8)
    * in DuckDB (exact: N/8.0 is a power-of-two division).
    */
  def kmeansFixedK(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val n = table(s, dir, "embeddings").count()
    kmeansRefineWith(s, dir, math.max(1L, math.ceil(n / 8.0).toLong))
  }

  private def kmeansRefineWith(s: SparkSession, dir: String, m: Long): DataFrame = {
    val e = withNorm(table(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    val (_, assign1) = lloydStep(e, m)
    assign1.select(col("vec_id"), col("cid_seed"), col("cid").as("cid_refined"),
      (col("cid") =!= col("cid_seed")).as("moved"))
  }

  /** ONE Lloyd step over the modulus seeding — q185's math factored so
    * the refined-quantizer index (q267) and the q185/q197 refinement
    * reports share it verbatim: returns (refined centroids (cid,
    * embedding, nc), refined assignment (cid, vec_id, embedding, nrm,
    * cid_seed)). Both assignments are the one cell assignment
    * [[topCells]]. */
  private def lloydStep(e: DataFrame, m: Long): (DataFrame, DataFrame) = {
    val cents0 = e.filter(col("vec_id") % m === 0)
      .select(col("vec_id").as("cid"), col("embedding"), col("nrm").as("nc"))
    val assign0 = topCells(e, cents0).withColumnRenamed("cid", "cid_seed")
    // Lloyd mean step: exact decimal component means, then reassemble the
    // centroid vector in pos order (array_sort on the (pos, cx) struct is
    // deterministic) and take its norm through the same decimal path.
    val comp = assign0
      .select(col("cid_seed").as("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg((dsum(col("x").cast("double"), 20) / count(col("x"))).as("cx"))
    val cents1 = comp.groupBy(col("cid"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
          t => t.getField("cx")).as("embedding"),
        sqrt(dsum(col("cx") * col("cx"), 20)).as("nc"))
    (cents1, topCells(assign0, cents1))
  }

  /** The one-Lloyd-step CTE block (newc -> newnorm -> adots2 -> acos2 ->
    * assign2) over an in-scope `assign` seeding — shared by the
    * q185/q197 refinement oracles and the q267 refined-quantizer probe
    * oracle. */
  private val lloydCtes =
    """newc AS (
      |  SELECT a.cid, f.pos,
      |         CAST(SUM(CAST(f.xd AS DECIMAL(38,20))) AS DOUBLE) / COUNT(f.xd) AS cx
      |  FROM assign a JOIN flat f ON f.vec_id = a.vec_id
      |  GROUP BY a.cid, f.pos),
      |newnorm AS (
      |  SELECT cid, sqrt(CAST(SUM(CAST(cx*cx AS DECIMAL(38,20))) AS DOUBLE)) AS nc
      |  FROM newc GROUP BY cid),
      |adots2 AS (
      |  SELECT f.vec_id, c.cid, CAST(SUM(CAST(f.xd*c.cx AS DECIMAL(38,20))) AS DOUBLE) AS dot
      |  FROM flat f JOIN newc c ON f.pos = c.pos
      |  GROUP BY f.vec_id, c.cid),
      |acos2 AS (
      |  SELECT d.vec_id, d.cid, d.dot / (nn.nc * n1.nrm) AS cosim
      |  FROM adots2 d JOIN norms n1 ON n1.vec_id = d.vec_id JOIN newnorm nn ON nn.cid = d.cid),
      |assign2 AS (
      |  SELECT vec_id, cid AS cid_refined FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rn
      |    FROM acos2)
      |  WHERE rn = 1)""".stripMargin

  private def kmeansRefineSqlWith(assignSql: String): String =
    s"""WITH $flatSql,
       |$normsSql,
       |$assignSql,
       |$lloydCtes
       |SELECT a0.vec_id, a0.cid AS cid_seed, a1.cid_refined,
       |       a1.cid_refined <> a0.cid AS moved
       |FROM assign a0 JOIN assign2 a1 ON a0.vec_id = a1.vec_id""".stripMargin

  private val kmeansRefineSql = kmeansRefineSqlWith(ivfAssignSql)
  private val kmeansFixedKSql =
    kmeansRefineSqlWith(ivfAssignSqlWith("ceil(COUNT(*) / 8.0)"))

  /** SemDeDup pruning threshold: in-cluster pairs above this cosine are
    * semantic duplicates and all but the lowest-id member drop. 0.25 is
    * the corpus's diagnostic near-dup level (q128/q129 use the same), low
    * enough to exercise real drops at fixture scale; production would
    * tune it per-corpus exactly like q78's 0.8.
    */
  private val SemDedupEps = 0.25

  /** The in-cluster comparison pairs of [[semDedupOn]] BEFORE the cosine
    * gate — exposed so the capped-mode spec can assert pair VOLUME, not
    * just decisions. With `capOpt = Some(c)` the keeper (lo) side of each
    * cluster is trimmed to its `c` smallest ids (the q61 capBuckets
    * pattern), bounding a size-n cluster's pairs at ~c*n instead of n²/2
    * — total work Σ c*size = c*N, LINEAR in the corpus. Over-keep trade:
    * a vector drops only if one of its cluster's c smallest ids is a
    * near-dup; since the keep policy is keep-the-smallest anyway, a
    * capped run can only over-KEEP (never over-drop), and on a cluster
    * of mutual near-dups the decisions are identical for any c >= 1.
    */
  private[graft] def semDedupPairs(assign: DataFrame,
                                   capOpt: Option[Int]): DataFrame = {
    val a = assign.select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
    val lo0 = a.select(col("cid"), col("vec_id").as("uid"),
      col("embedding").as("qemb"), col("nrm").as("nq"))
    val lo = capOpt.fold(lo0) { cap =>
      val wc = Window.partitionBy(col("cid")).orderBy(col("uid"))
      lo0.withColumn("__rk", row_number().over(wc))
        .filter(col("__rk") <= cap).drop("__rk")
    }
    val hi = a.select(col("cid"), col("vec_id").as("vid"),
      col("embedding").as("vemb"), col("nrm").as("nv"))
    hi.join(lo, Seq("cid")).filter(col("uid") < col("vid"))
  }

  /** The distinct (cid, vid) drop set of SemDeDup — the vectors whose
    * cosine to a lower-id cluster-mate exceeds eps. Shared by the q186
    * ledger and the q207 composed curation pipeline (which needs the
    * survivor SET, not just counts). */
  private[graft] def semDedupDrops(assign: DataFrame,
                                   capOpt: Option[Int]): DataFrame =
    semDedupPairs(assign, capOpt)
      .withColumn("cosim0", dotExpr / (col("nq") * col("nv")))
      // gate on the ROUNDED cosine (q191 pattern): the sequential double
      // fold here vs the oracle's exact DECIMAL dot can differ by ~1e-16,
      // which would flip a pair sitting exactly on eps cross-engine
      .filter(round(col("cosim0"), 9) > lit(SemDedupEps))
      .select(col("cid"), col("vid")).distinct()

  /** q186's core over an arbitrary (cid, vec_id, embedding, nrm)
    * assignment frame. `capOpt` is the per-cluster pair cap (see
    * [[semDedupPairs]]); None = exact pairwise within clusters. */
  private[graft] def semDedupOn(assign: DataFrame,
                                capOpt: Option[Int]): DataFrame = {
    val dropped = semDedupDrops(assign, capOpt)
    assign.select(col("cid"), col("vec_id"))
      .join(dropped.withColumnRenamed("vid", "vec_id").withColumn("isdrop", lit(1)),
        Seq("cid", "vec_id"), "left")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("members"),
        sum(coalesce(col("isdrop"), lit(0))).cast("long").as("dropped"))
      .withColumn("kept", col("members") - col("dropped"))
      .select(col("cid"), col("members"), col("kept"), col("dropped"))
  }

  /** q186: SemDeDup-style semantic pruning (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication")
    * — compare vectors ONLY within their IVF cluster and drop any vector
    * whose cosine to a lower-id cluster-mate exceeds [[SemDedupEps]].
    * The cluster is the candidate bound: pairwise work is sum over
    * clusters of size^2, never corpus^2, and the cluster id (from the
    * PERSISTED q184 index — the corpus is not re-clustered per run) is the
    * one shuffle key. This deterministic "keep the earliest member of any
    * hot pair" policy is a non-iterative variant of the paper's
    * keep-one-per-duplicate-group (which walks pairs greedily); it is
    * SQL-expressible, order-stable under any partitioning, and
    * over-drops only when near-dup chains span the threshold — the same
    * trade the LSH text family documents. Output is the per-cluster
    * members/kept/dropped ledger — the datacard-style artifact a curation
    * run records.
    */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (_, assign) = corpusIvfIndex(s, dir)
    // cap only when explicitly configured: the registered query keeps the
    // exact-pairwise plan (and its oracle) byte-identical when unset
    semDedupOn(assign,
      s.conf.getOption("spark.graft.semdedup.clusterCap").map(_.toInt))
  }

  /** q196: [[semDedup]] in CAPPED mode, cap = 2 keepers per cluster —
    * deliberately small enough to BITE at fixture scale, so the DuckDB
    * oracle verifies the capped-mode DECISIONS end-to-end (the
    * SimilaritySpec hot-cluster test pins the pair-volume bound; this
    * pins the semantics). A vector drops only if one of its cluster's 2
    * smallest ids is a near-dup — the documented over-KEEP trade; with
    * cap*N total pairs this is the LINEAR deployment shape of q186
    * (VERDICT r10 item 6).
    */
  def semDedupCapped(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (_, assign) = corpusIvfIndex(s, dir)
    semDedupOn(assign, Some(2))
  }

  // cdots -> drops chain (expects flat/norms + a cpairs CTE in scope) —
  // shared by the q186/q196 ledgers and the q207 composed pipeline
  private val semDedupDropsSql =
    s"""cdots AS (
       |  SELECT p.cid, p.uid, p.vid,
       |         CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM cpairs p
       |  JOIN flat a ON a.vec_id = p.uid
       |  JOIN flat b ON b.vec_id = p.vid AND b.pos = a.pos
       |  GROUP BY p.cid, p.uid, p.vid),
       |drops AS (
       |  SELECT DISTINCT d.cid, d.vid
       |  FROM cdots d JOIN norms n1 ON n1.vec_id = d.uid JOIN norms n2 ON n2.vec_id = d.vid
       |  WHERE round(d.dot / (n1.nrm * n2.nrm), 9) > $SemDedupEps)""".stripMargin

  private def semDedupSqlWith(cpairsSql: String): String =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$cpairsSql,
       |$semDedupDropsSql
       |SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS members,
       |       CAST(COUNT(*) - COUNT(dr.vid) AS BIGINT) AS kept,
       |       CAST(COUNT(dr.vid) AS BIGINT) AS dropped
       |FROM assign a LEFT JOIN drops dr ON dr.cid = a.cid AND dr.vid = a.vec_id
       |GROUP BY a.cid""".stripMargin

  // exact (uncapped) in-cluster pair CTE — q186's and q207's candidate set
  private val semDedupExactPairsSql =
    """cpairs AS (
      |  SELECT u.cid, u.vec_id AS uid, v.vec_id AS vid
      |  FROM assign u JOIN assign v ON u.cid = v.cid AND u.vec_id < v.vec_id)""".stripMargin

  private val semDedupSql = semDedupSqlWith(semDedupExactPairsSql)

  /** Budget of the q207 composed pipeline's final diversity subset. */
  private val CurationBudget = 100L

  /** q207: the composed embedding-curation pipeline — the three persisted
    * -index stages a real corpus-curation run chains, as ONE dataflow:
    *   1. cluster membership from the persisted IVF index (q184's store);
    *   2. SemDeDup semantic pruning within clusters (q186's drop set);
    *   3. cluster-balanced diversity quotas over the SURVIVORS (q192's
    *      math, re-based on the post-dedup population).
    * Output is the per-cluster curation manifest (members -> kept ->
    * sampled) — the datacard row that explains, for every semantic
    * region, how much the pipeline kept and why. Composition is the
    * point: each stage reads the previous stage's frame, nothing
    * re-clusters or re-reads the corpus, and the whole chain is one
    * oracled query instead of three trusted-by-adjacency ones. The
    * smallest id in every cluster never drops (drops require a lower-id
    * keeper), so every cluster survives into the manifest — asserted by
    * the inner joins here and the spec.
    */
  def embeddingCuration(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (_, assign) = corpusIvfIndex(s, dir)
    val drops = semDedupDrops(assign, None)
      .withColumnRenamed("vid", "vec_id").withColumn("isdrop", lit(1))
    val surv = assign.select(col("cid"), col("vec_id"))
      .join(drops, Seq("cid", "vec_id"), "left")
      .filter(col("isdrop").isNull)
    val totalKept = surv.count()
    val counts = surv.groupBy(col("cid")).agg(count(lit(1)).as("kept"))
    val mem = assign.groupBy(col("cid")).agg(count(lit(1)).as("members"))
    mem.join(counts, Seq("cid"))
      .withColumn("sampled",
        least(col("kept"),
          greatest(lit(1L), expr(s"(kept * $CurationBudget) div $totalKept"))))
      .select(col("cid"), col("members"), col("kept"), col("sampled"))
  }

  private val embeddingCurationSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$semDedupExactPairsSql,
       |$semDedupDropsSql,
       |surv AS (
       |  SELECT a.cid, a.vec_id
       |  FROM assign a LEFT JOIN drops d ON d.cid = a.cid AND d.vid = a.vec_id
       |  WHERE d.vid IS NULL),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM surv),
       |counts AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS kept FROM surv GROUP BY cid),
       |mem AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS members FROM assign GROUP BY cid)
       |SELECT m.cid, m.members, c.kept,
       |       least(c.kept, greatest(1, (c.kept * $CurationBudget) // (SELECT t FROM tot))) AS sampled
       |FROM mem m JOIN counts c ON c.cid = m.cid""".stripMargin

  private val semDedupCappedSql = semDedupSqlWith(
    """keepers AS (
      |  SELECT cid, vec_id AS uid FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rk
      |    FROM assign)
      |  WHERE rk <= 2),
      |cpairs AS (
      |  SELECT v.cid, k.uid, v.vec_id AS vid
      |  FROM assign v JOIN keepers k ON k.cid = v.cid AND k.uid < v.vec_id)""".stripMargin)

  /** q188: ANN index-quality gate — recall@3 of the persisted-IVF probe
    * (q184) against the exact brute-force top-3 (q64), per probe. This is
    * the check a pipeline runs before trusting an approximate index for
    * retrieval/dedup decisions: both sides are the already-shipped
    * operators (the exact side scans once with broadcast probes; the
    * approximate side reads only the probed clusters' bytes), joined on
    * (qid, vid) and counted — so the gate costs one baseline scan, and at
    * 100 TB would run on a sampled probe set exactly as here (16 probes).
    * recall < 1 is expected and meaningful: it measures neighbors lost to
    * cluster boundaries, the quantity that drives nprobe/K tuning.
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val exact = cosineKnn(s, dir).filter(col("rn") <= 3).select(col("qid"), col("vid"))
    val approx = ivfAnnIndexed(s, dir)
      .select(col("qid").as("aqid"), col("vid").as("avid"))
    exact.join(approx,
        col("qid") === col("aqid") && col("vid") === col("avid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("avid")).as("hits"))
      .withColumn("recall", col("hits").cast("double") / 3.0)
  }

  private val annRecallSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |pairs AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid
       |  FROM assign q JOIN assign v ON q.cid = v.cid AND q.vec_id BETWEEN 0 AND 15 AND q.vec_id <> v.vec_id),
       |pdots AS (
       |  SELECT p.qid, p.vid, CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM pairs p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat b ON b.vec_id = p.vid AND b.pos = a.pos
       |  GROUP BY p.qid, p.vid),
       |pcos AS (
       |  SELECT d.qid, d.vid, d.dot / (n1.nrm * n2.nrm) AS cosim
       |  FROM pdots d JOIN norms n1 ON n1.vec_id = d.qid JOIN norms n2 ON n2.vec_id = d.vid),
       |ivf3 AS (
       |  SELECT qid, vid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, vid) AS rn
       |    FROM pcos)
       |  WHERE rn <= 3),
       |edots AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid,
       |         CAST(SUM(CAST(q.xd*v.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM flat q JOIN flat v ON q.pos = v.pos AND q.vec_id <> v.vec_id
       |  WHERE q.vec_id BETWEEN 0 AND 15
       |  GROUP BY q.vec_id, v.vec_id),
       |ecos AS (
       |  SELECT qid, vid, dot / (a.nrm * b.nrm) AS cosim
       |  FROM edots JOIN norms a ON a.vec_id = qid JOIN norms b ON b.vec_id = vid),
       |exact3 AS (
       |  SELECT qid, vid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, vid) AS rn
       |    FROM ecos)
       |  WHERE rn <= 3)
       |SELECT e.qid, CAST(COUNT(i.vid) AS BIGINT) AS hits, COUNT(i.vid) / 3.0 AS recall
       |FROM exact3 e LEFT JOIN ivf3 i ON i.qid = e.qid AND i.vid = e.vid
       |GROUP BY e.qid""".stripMargin

  // ---- q267: the Lloyd-REFINED quantizer as a serving index, recall
  // gain measured against the seed quantizer (VERDICT r19 ask 1: the
  // q188/q253 recall is quantizer-bound — seed 0.130 dominates every
  // graph/beam dial — and the named lever is q185's Lloyd step) ----

  private[graft] def refinedIvfIndexPath(dir: String): String =
    // distinct prefix: "ivfr_" is q191's refreshed-assignment store
    // (refreshedIvfPath); sharing one directory made the two stores'
    // stamp checks invalidate each other — every access ping-ponged a
    // full rebuild and deleted the other store's live files out from
    // under session-cached readers (the r20 inherited test failure)
    "target/graft_index/ivflloyd_" + IndexStore.dirTag(dir)

  /** Build-or-load the REFINED fixture IVF index: the modulus seeding
    * pushed through ONE [[lloydStep]] (q185's decimal-exact math,
    * shared verbatim), then the corpus re-assigned to the refined
    * means. Same durable layout as [[corpusIvfIndex]] (broadcastable
    * centroids; cid-range-sorted assign so probes prune to the probed
    * clusters' bytes). The centroid VERSION travels in the stamp
    * (`ivfr1|lloyd1|`, ADVICE r19): bumping the Lloyd depth re-keys the
    * store, so no probe can ever mix centroids of one generation with
    * an assignment of another. */
  private[graft] def corpusRefinedIvfIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val path = refinedIvfIndexPath(dir)
    val stamp = "ivfr1|lloyd1|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, path, stamp) {
      val corpus = table(s, dir, "embeddings")
      val e = withNorm(corpus.select(col("vec_id"), col("embedding")))
      val m = math.ceil(math.sqrt(corpus.count().toDouble)).toLong.max(1L)
      val (cents1, assign1) = lloydStep(e, m)
      IndexStore.write(s, path, stamp, IvfCells.tables(cents1,
        assign1.select(IvfCells.cols.map(col): _*)),
        Map("m" -> m.toString, "lloyd_steps" -> "1"))
    }
    (graft.SessionCache.cached(s, s"sim:ivfrc:$dir")(
        IndexStore.read(s, path, "centroids")),
      IndexStore.read(s, path, "assign"))
  }

  /** q267: the ANN quality gate (q188's comparison) run over BOTH
    * quantizer generations side by side — the seed-pick index (q184's
    * store) and the Lloyd-refined index — against the exact baseline,
    * on q253's SERVING query slice (vec_id % 23 = 3, the set whose
    * seed recall the r19 sweep measured at 0.130 and found
    * quantizer-bound). Refining moves only cluster MEMBERSHIP (probe
    * scores are true cosines either way), so the recall delta isolates
    * exactly what the quantizer is responsible for. Both totals and the
    * per-probe recalls are hash-pinned against the oracle, which
    * replays the Lloyd step and both probes bit-for-bit — the GAIN is
    * therefore a machine-checked measurement, and per the q188
    * convention it is reported as data, not asserted: measured on this
    * fixture one Lloyd step lifts slice recall@3 at sf0.01
    * (0.167 -> 0.258) and sf0.1 (0.130 -> 0.149) and costs one hit at
    * sf0.001 (0.242 -> 0.227) — the gain appears once cells are
    * meaningfully populated, and the adjudication (which generation the
    * serving substrates should key on, and why they stay seed-keyed
    * today) lives in PLANS "Round-20: the Lloyd-refined quantizer
    * measured". Cost posture: the gate is one baseline scan per leg
    * (q188's contract); the refined store is one stamped Lloyd pass. */
  def refinedAnnRecall(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (_, sassign) = corpusIvfIndex(s, dir)
    val (_, rassign) = corpusRefinedIvfIndex(s, dir)
    val wq = Window.partitionBy(col("qid")).orderBy(col("cosim").desc, col("vid"))
    def probes(assign: DataFrame): DataFrame = cellProbes(assign, col("vec_id") % 23 === 3)
    // same-cluster candidates, true-cosine rescore, top-3 (the q253
    // rounding convention before the window)
    def cellTop3(assign: DataFrame): DataFrame =
      cellTopK(assign, probes(assign), 3, RoundedCos).select(col("qid"), col("vid"))
    val exact = sassign.select(col("vec_id").as("vid"),
        col("embedding").as("vemb"), col("nrm").as("nv"))
      .join(broadcast(probes(sassign).drop("cid")), col("qid") =!= col("vid"))
      .withColumn("cosim", round(dotExpr / (col("nq") * col("nv")), 9))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 3)
      .select(col("qid"), col("vid")).localCheckpoint()
    def hitsOf(ap: DataFrame, out: String): DataFrame =
      exact.join(ap.select(col("qid").as("aqid"), col("vid").as("avid")),
          col("qid") === col("aqid") && col("vid") === col("avid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("avid")).as(out))
    val perq = hitsOf(cellTop3(sassign), "hits_seed")
      .join(hitsOf(cellTop3(rassign), "hits_refined"), Seq("qid"))
      .localCheckpoint()
    val tot = perq.agg(sum(col("hits_seed")).as("seed_total"),
        sum(col("hits_refined")).as("refined_total"),
        (count(lit(1)) * 3).as("recall_den"))
      .withColumn("refined_gains", col("refined_total") > col("seed_total"))
    perq.crossJoin(broadcast(tot))
  }

  private val refinedAnnRecallSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$lloydCtes,
       |pairs AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid
       |  FROM assign q JOIN assign v ON q.cid = v.cid AND q.vec_id % 23 = 3 AND q.vec_id <> v.vec_id),
       |rpairs AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid
       |  FROM assign2 q JOIN assign2 v ON q.cid_refined = v.cid_refined AND q.vec_id % 23 = 3 AND q.vec_id <> v.vec_id),
       |pdots AS (
       |  SELECT p.qid, p.vid, CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM pairs p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat b ON b.vec_id = p.vid AND b.pos = a.pos
       |  GROUP BY p.qid, p.vid),
       |rdots AS (
       |  SELECT p.qid, p.vid, CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM rpairs p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat b ON b.vec_id = p.vid AND b.pos = a.pos
       |  GROUP BY p.qid, p.vid),
       |ivf3 AS (
       |  SELECT qid, vid FROM (
       |    SELECT d.qid, d.vid,
       |           ROW_NUMBER() OVER (PARTITION BY d.qid
       |             ORDER BY round(d.dot / (n1.nrm * n2.nrm), 9) DESC, d.vid) AS rn
       |    FROM pdots d JOIN norms n1 ON n1.vec_id = d.qid JOIN norms n2 ON n2.vec_id = d.vid)
       |  WHERE rn <= 3),
       |rivf3 AS (
       |  SELECT qid, vid FROM (
       |    SELECT d.qid, d.vid,
       |           ROW_NUMBER() OVER (PARTITION BY d.qid
       |             ORDER BY round(d.dot / (n1.nrm * n2.nrm), 9) DESC, d.vid) AS rn
       |    FROM rdots d JOIN norms n1 ON n1.vec_id = d.qid JOIN norms n2 ON n2.vec_id = d.vid)
       |  WHERE rn <= 3),
       |edots AS (
       |  SELECT q.vec_id AS qid, v.vec_id AS vid,
       |         CAST(SUM(CAST(q.xd*v.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM flat q JOIN flat v ON q.pos = v.pos AND q.vec_id <> v.vec_id
       |  WHERE q.vec_id % 23 = 3
       |  GROUP BY q.vec_id, v.vec_id),
       |exact3 AS (
       |  SELECT qid, vid FROM (
       |    SELECT e.qid, e.vid,
       |           ROW_NUMBER() OVER (PARTITION BY e.qid
       |             ORDER BY round(e.dot / (a.nrm * b.nrm), 9) DESC, e.vid) AS rn
       |    FROM edots e JOIN norms a ON a.vec_id = e.qid JOIN norms b ON b.vec_id = e.vid)
       |  WHERE rn <= 3),
       |perq AS (
       |  SELECT e.qid,
       |         CAST(COUNT(i.vid) AS BIGINT) AS hits_seed,
       |         CAST(COUNT(r.vid) AS BIGINT) AS hits_refined
       |  FROM exact3 e
       |  LEFT JOIN ivf3 i ON i.qid = e.qid AND i.vid = e.vid
       |  LEFT JOIN rivf3 r ON r.qid = e.qid AND r.vid = e.vid
       |  GROUP BY e.qid),
       |tot AS (
       |  SELECT CAST(SUM(hits_seed) AS BIGINT) AS seed_total,
       |         CAST(SUM(hits_refined) AS BIGINT) AS refined_total,
       |         CAST(COUNT(*) * 3 AS BIGINT) AS recall_den
       |  FROM perq)
       |SELECT p.qid, p.hits_seed, p.hits_refined,
       |       t.seed_total, t.refined_total, t.recall_den,
       |       t.refined_total > t.seed_total AS refined_gains
       |FROM perq p CROSS JOIN tot t""".stripMargin

  // ------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search") — the memory-bound ANN
  // path a 100 TB deployment actually serves from: each 64-dim float
  // vector (256 B) compresses to M=8 one-byte codes (one codeword id per
  // 8-dim subspace, k* ~ 64 codewords each), a 32x reduction, and queries
  // rank candidates by ADC (asymmetric distance: raw query vs codes)
  // reading ONLY the code table. Codebooks: the deterministic seed pick
  // (the IVF modulus pattern, q65) refined by [[PqLloydSteps]]
  // per-subspace Lloyd steps to the measured MSE plateau (PLANS.md
  // "PqTrainRig: Lloyd depth vs MSE/recall"; see [[pqCodebooks]]) — the
  // k-means training production PQ uses, decimal-exact and oracled.
  // Encoding is flat (raw vectors, not IVF residuals — FAISS's
  // by_residual=false flavor), which keeps the code
  // of a vector independent of its coarse cluster; q200 combines the
  // codes with the persisted IVF clusters into the IVFADC probe.
  // Residual encoding was MEASURED before being rejected: on this
  // corpus the sqrt-N cosine clusters don't concentrate L2 energy, so
  // residual codebooks come out WORSE (corpus MSE 0.49 vs 0.37, IVFADC
  // recall@3 0.167 vs 0.188 in an offline replica) — flat is the
  // evidence-backed choice here, not a simplification.
  // ------------------------------------------------------------------

  /** PQ geometry: M subspaces of `PqSub` dims over the 64-dim fixture
    * embeddings; k* ~ 64 codewords per subspace. M*k* distance-table
    * entries per query (~512 — trivially broadcast); N*M code rows
    * total. */
  private val PqM = 8
  private val PqSub = 8
  private val PqK = 64L

  /** Lloyd refinement depth for PQ codebook training. FIXED, not
    * adaptive: the DuckDB oracle unrolls the same number of
    * assign/mean rounds ([[pqCwSqlSteps]]), so the step count is part of
    * the cross-engine contract (an adaptive stop would need a loop the
    * oracle cannot express). The value is the measured MSE plateau of
    * the fixture corpus — see the PLANS.md round-14 record "PqTrainRig:
    * Lloyd depth vs MSE/recall"; past it, per-step MSE gain is under
    * 1e-3 and recall is flat. */
  private[graft] val PqLloydSteps = 4

  /** The M subvector slices of an embedding as one array column —
    * posexplode yields (j, subvec) with j 0-based, matching the oracle's
    * `(pos-1) // 8`. */
  private def subVecsCol(emb: Column): Column =
    array((0 until PqM).map(j => slice(emb, j * PqSub + 1, PqSub)): _*)

  /** Encode a corpus against a codebook frame (code, j, csub): ONE corpus
    * scan — posexplode to (vec_id, j, subvec), broadcast-join the
    * M*k*-row codebook, native graft_sqdist per pair, then a map-side
    * combinable min(struct) argmin — the shuffle carries N*M collapsed
    * rows, never the N*M*k* distance pairs. Ranking key is the ROUNDED
    * distance with codeword id as tie-break, identical in the oracle
    * (the q191 cross-engine tie contract). d2 (the chosen codeword's
    * squared error) rides along for the q201 quality gate so no re-scan
    * is needed. */
  private[graft] def pqEncodeAgainst(corpus: DataFrame, cb: DataFrame): DataFrame = {
    val sub = corpus.select(col("vec_id"),
      posexplode(subVecsCol(col("embedding"))).as(Seq("j", "qsub")))
    sub.join(broadcast(cb), Seq("j"))
      .select(col("vec_id"), col("j"), col("code"),
        expr("graft_sqdist(qsub, csub)").as("d2"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(round(col("d2"), 9).as("d2r"), col("code"), col("d2"))).as("pick"))
      .select(col("vec_id"), col("j"),
        col("pick.code").as("code"), col("pick.d2").as("d2"))
  }

  /** Per-subspace codebook training: the deterministic seed pick (the
    * IVF modulus pattern — codeword ids ARE seed vec_ids) followed by
    * [[PqLloydSteps]] Lloyd refinements per subspace, the k-means loop
    * production PQ trains codebooks with (here on the full corpus; a
    * 100 TB build would train on a sample — each refinement is one
    * corpus scan plus a map-side-collapsed M*k**`PqSub`-row mean shuffle
    * either way, the q185 shape per subspace). Depth is the measured MSE
    * plateau (PLANS.md "PqTrainRig: Lloyd depth vs MSE/recall"): step 1
    * takes the bulk of the seed MSE drop, steps 2-4 keep improving, and past step
    * 4 the per-step gain falls under 1e-3 with recall flat — the
    * codewords have effectively stopped moving. Refined components go through the exact
    * DECIMAL mean and are then cast to FLOAT — codebooks store float32
    * exactly like the corpus, and the cast is the same IEEE rounding in
    * both engines, so every step's codebook is bit-identical
    * cross-engine by induction (assignments are integer argmins over
    * ROUNDED distances). Returns (seed codebook, refined codebook,
    * modulus); a codeword left with no members at any step simply has no
    * row in the next codebook (it can never be chosen — identical in the
    * oracle).
    */
  private[graft] def pqCodebooks(corpus: DataFrame,
      steps: Int = PqLloydSteps): (DataFrame, DataFrame, Long) = {
    val n = corpus.count()
    val mq = math.max(1L, math.ceil(n.toDouble / PqK).toLong)
    val cb0 = corpus.filter(col("vec_id") % mq === 0)
      .select(col("vec_id").as("code"),
        posexplode(subVecsCol(col("embedding"))).as(Seq("j", "csub")))
    val sub = corpus.select(col("vec_id"),
      posexplode(subVecsCol(col("embedding"))).as(Seq("j", "qsub")))
    // one Lloyd step: assign against the current codebook, recompute each
    // codeword as the exact DECIMAL mean of its members, cast to float
    def refine(cb: DataFrame): DataFrame = {
      val assign = pqEncodeAgainst(corpus, cb).select(col("vec_id"), col("j"), col("code"))
      val comp = assign.join(sub, Seq("vec_id", "j"))
        .select(col("j"), col("code"), posexplode(col("qsub")).as(Seq("spos", "x")))
        .groupBy(col("j"), col("code"), col("spos"))
        // scale 6, NOT 20: at scale 20 the decimal sum exceeds 2^53 and
        // DuckDB's hugeint->double cast double-rounds where Spark's
        // BigDecimal rounds once — a last-ulp double diff that the float
        // cast occasionally amplifies to a full float ulp in the codeword
        .agg((dsum(col("x").cast("double"), 6) / count(col("x"))).cast("float").as("cx"))
      comp.groupBy(col("code"), col("j"))
        .agg(transform(array_sort(collect_list(struct(col("spos"), col("cx")))),
          t => t.getField("cx")).as("csub"))
    }
    // checkpoint per step: the codebook is M*k* rows (tiny) and each step
    // would otherwise nest the whole training history into one plan
    var cb = cb0.localCheckpoint()
    var i = 0
    while (i < steps) { cb = refine(cb).localCheckpoint(); i += 1 }
    (cb0, cb, mq)
  }

  /** The PQ quantizer: `codebooks` (code, j, csub) trained by
    * [[pqCodebooks]] (pinned while the store is written: trained once,
    * read by the encode and the queries), `codes` (vec_id, j, code, d2)
    * encoded by [[pqEncodeAgainst]], range-partitioned on vec_id and
    * sorted on (vec_id, j) — the feed-synced stores' layout. Codewords
    * are trained means, so a takedown never hits a seed. */
  private[graft] val PqCodes: VecQuantizer = VecQuantizer("codebooks", "codes",
    Seq("vec_id", "j", "code", "d2"), Seq("vec_id"), Seq("vec_id", "j"),
    corpus => {
      val (_, cb1, mq) = pqCodebooks(corpus)
      val cbm = cb1.localCheckpoint(true)
      Trained(cbm, pqEncodeAgainst(corpus, cbm), Map("mq" -> mq.toString),
        () => { cbm.unpersist(); () })
    },
    (cb, vecs) => pqEncodeAgainst(vecs, cb),
    countDistinct(col("vec_id")), None)

  /** [[PqCodes]] keyed by each vector's IVF cell under the centroids
    * `cents`: codes (cid, vec_id, j, code, d2), RANGE-partitioned and
    * sorted on cid, so the IVFADC probe (q200) reads only the probed
    * clusters' bytes — the layout of the fixture, takedown and
    * sequential code stores. */
  private def pqCells(cents: => DataFrame): VecQuantizer = PqCodes.copy(
    cols = "cid" +: PqCodes.cols, range = Seq("cid", "vec_id"),
    sort = Seq("cid", "vec_id", "j"),
    encode = (cb, vecs) => pqEncodeAgainst(vecs, cb)
      .join(IvfCells.encode(cents, vecs).select(col("vec_id"), col("cid")), Seq("vec_id")))

  private[graft] def fixturePqIndexPath(dir: String): String =
    "target/graft_index/pq_" + IndexStore.dirTag(dir)

  /** Build-or-load the persisted fixture PQ index (stamped, atomic swap —
    * the [[corpusIvfIndex]] pattern): `codebooks`, M*k* rows broadcast
    * at query time, and `codes`, the corpus's compressed form PLUS its
    * stored coarse IVF cluster in the [[pqCells]] layout.
    * The seed modulus is stored in the index meta (an index property a
    * probe must reuse, never re-derive).
    */
  private[graft] def corpusPqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val path = fixturePqIndexPath(dir)
    // training depth is part of the stored content — fold it into the
    // stamp so a depth change invalidates codebooks AND codes
    val stamp = s"lloyd$PqLloydSteps|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, path, stamp) {
      val (cents, assign) = corpusIvfIndex(s, dir)
      val t = PqCodes.train(table(s, dir, "embeddings"))
      IndexStore.write(s, path, stamp, pqCells(cents).tables(t.model,
        t.data.join(assign.select(col("vec_id"), col("cid")), Seq("vec_id"))), t.meta)
      t.release()
    }
    (graft.SessionCache.cached(s, s"sim:pqcb:$dir")(
        IndexStore.read(s, path, "codebooks")),
      IndexStore.read(s, path, "codes"))
  }

  /** q198: the corpus's PQ encoding, served from the persisted index —
    * the (vec_id, subspace, codeword) table that IS the compressed corpus
    * (the integer codes are the whole point: the output is hash-exact,
    * no float in sight). */
  def pqEncode(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (_, codes) = corpusPqIndex(s, dir)
    codes.select(col("vec_id"), col("j"), col("code"))
  }

  // Shared oracle CTEs (expect `flat` in scope): subvector decomposition,
  // seed codebooks, per-(vector, subspace, codeword) squared distances
  // (exact DECIMAL accumulation of the same double-rounded products the
  // native kernel sums), and the argmin encoding.
  private val pqSubSql =
    """psub AS (
      |  SELECT vec_id, CAST((pos-1) // 8 AS INT) AS j, (pos-1) % 8 AS spos, xd
      |  FROM flat)""".stripMargin
  // codebook training: seed pick -> PqLloydSteps unrolled rounds of
  // (argmin assignment -> per-(codeword, component) exact DECIMAL mean,
  // cast through REAL — the float32 the index stores — back to DOUBLE
  // for the distance arithmetic). The step count is the engine's
  // PqLloydSteps by construction: both sides of the contract come from
  // the same constant.
  private def pqCwSqlSteps(steps: Int): String = {
    val seed =
      """pcw0 AS (
        |  SELECT vec_id AS code, j, spos, xd AS cxd FROM psub
        |  WHERE vec_id % (SELECT CAST(ceil(COUNT(*) / 64.0) AS BIGINT) FROM embeddings) = 0)""".stripMargin
    val rounds = (1 to steps).map { t =>
      s"""pqd$t AS (
         |  SELECT s.vec_id, s.j, c.code,
         |         CAST(SUM(CAST((s.xd - c.cxd)*(s.xd - c.cxd) AS DECIMAL(38,20))) AS DOUBLE) AS d2
         |  FROM psub s JOIN pcw${t - 1} c ON c.j = s.j AND c.spos = s.spos
         |  GROUP BY s.vec_id, s.j, c.code),
         |pqa$t AS (
         |  SELECT vec_id, j, code FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY round(d2, 9), code) AS rn
         |    FROM pqd$t)
         |  WHERE rn = 1),
         |pcw$t AS (
         |  SELECT a.code, a.j, s.spos,
         |         CAST(CAST(CAST(SUM(CAST(s.xd AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS REAL) AS DOUBLE) AS cxd
         |  FROM pqa$t a JOIN psub s ON s.vec_id = a.vec_id AND s.j = a.j
         |  GROUP BY a.code, a.j, s.spos)""".stripMargin
    }
    val fin = s"pcw AS (SELECT code, j, spos, cxd FROM pcw$steps)"
    (seed +: rounds :+ fin).mkString(",\n")
  }
  private val pqCwSql = pqCwSqlSteps(PqLloydSteps)
  private val pqDistSql =
    """pdist AS (
      |  SELECT s.vec_id, s.j, c.code,
      |         CAST(SUM(CAST((s.xd - c.cxd)*(s.xd - c.cxd) AS DECIMAL(38,20))) AS DOUBLE) AS d2
      |  FROM psub s JOIN pcw c ON c.j = s.j AND c.spos = s.spos
      |  GROUP BY s.vec_id, s.j, c.code)""".stripMargin
  private val pqCodesSql =
    """pcodes AS (
      |  SELECT vec_id, j, code, d2 FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY round(d2, 9), code) AS rn
      |    FROM pdist)
      |  WHERE rn = 1)""".stripMargin

  private val pqEncodeSql =
    s"""WITH $flatSql,
       |$pqSubSql,
       |$pqCwSql,
       |$pqDistSql,
       |$pqCodesSql
       |SELECT vec_id, j, code FROM pcodes""".stripMargin

  /** q199: ADC (asymmetric distance computation) top-3 — the PQ serving
    * path: the 16 raw probe vectors expand to an M*k*-entry distance
    * table each (128 graft_sqdist calls per probe, broadcast), and every
    * corpus vector is scored by summing its M codes' table entries — the
    * corpus contributes ONLY its code table (1/32 of the embedding
    * bytes), never raw vectors. The (probe, vector) partial sums collapse
    * map-side, so the shuffle is one narrow row per scored pair. At
    * 100 TB this is the scan that replaces q64's raw-vector baseline:
    * same linear shape, 32x fewer bytes in, and the approximation error
    * is exactly what q201 gates.
    */
  def pqAdcTopk(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (cb, codes) = corpusPqIndex(s, dir)
    baseAdcTop3(s, dir, cb, codes)
  }

  /** The ADC distance table, written once: each probe row (qid,
    * embedding[, cid]) split into its M subvectors and scored against
    * every codeword of the broadcast codebook `cb` (code, j, csub) by
    * graft_sqdist — (qid[, cid], j, code, qd2). Probes that carry their
    * cell keep it as a table key, so a cell-pruned code row meets only
    * the probes of its own cell. */
  private def adcTable(probes: DataFrame, cb: DataFrame): DataFrame = {
    val keys = col("qid") +: probes.columns.toSeq.filter(_ == "cid").map(col)
    probes.select(keys :+ posexplode(subVecsCol(col("embedding"))).as(Seq("j", "qsub")): _*)
      .join(broadcast(cb), Seq("j"))
      .select(keys ++ Seq(col("j"), col("code"),
        expr("graft_sqdist(qsub, csub)").as("qd2")): _*)
  }

  /** The ADC scorer, written once: the distance table `dt` summed over
    * the codes frame (vec_id, j, code[, cid], carry...) — joined on the
    * table's keys — into one score per (qid, vid, carry...), adc0. The
    * (probe, vector) partial sums collapse map-side. Callers choose the
    * table's broadcast, and rank or reduce the raw scores on top. */
  private def adcScores(codes: DataFrame, dt: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val key = Seq("cid", "j", "code").filter(dt.columns.contains)
    val out = col("qid") +: col("vid") +: carry.map(col)
    codes.select(key.map(col) ++ (col("vec_id").as("vid") +: carry.map(col)): _*)
      .join(dt, key)
      .groupBy(out: _*)
      .agg(sum(col("qd2")).as("adc0"))
  }

  /** Each probe's ADC top-3 over its scores, self excluded, ranked by
    * the ROUNDED distance then vid (the q191 cross-engine tie contract):
    * (qid, vid, carry..., adc, rn). */
  private def adcTop3(scores: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(round(col("adc0"), 9).asc, col("vid"))
    scores.filter(col("qid") =!= col("vid"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select((col("qid") +: col("vid") +: carry.map(col)) ++
        Seq(round(col("adc0"), 9).as("adc"), col("rn")): _*)
  }

  /** The full-scan ADC top-3 of the 16 [[BaseProbes]] over an arbitrary
    * (codebooks, codes) pair — every prober of a PQ code store
    * (q199/q226/q230/q233) is a call (q233's oracle PINS bit-equality
    * between the masked and physical probes, so the two code paths must
    * be the same code). */
  private def baseAdcTop3(s: SparkSession, dir: String,
      cb: DataFrame, codes: DataFrame): DataFrame =
    adcTop3(adcScores(codes, broadcast(adcTable(table(s, dir, "embeddings")
      .filter(BaseProbes).select(col("vec_id").as("qid"), col("embedding")), cb))))

  private val pqAdcSql =
    s"""WITH $flatSql,
       |$pqSubSql,
       |$pqCwSql,
       |$pqDistSql,
       |$pqCodesSql,
       |padc AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vid,
       |         CAST(SUM(CAST(q.d2 AS DECIMAL(38,20))) AS DOUBLE) AS adc0
       |  FROM pdist q JOIN pcodes c ON c.j = q.j AND c.code = q.code AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id BETWEEN 0 AND 15
       |  GROUP BY q.vec_id, c.vec_id)
       |SELECT qid, vid, round(adc0, 9) AS adc, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(adc0, 9), vid) AS INT) AS rn
       |  FROM padc)
       |WHERE rn <= 3""".stripMargin

  // ---- q226: takedown over the persisted PQ code store ----

  /** The post-takedown BRANCH of the PQ code store ([[vecTakedownBranch]])
    * — the SAME request slice as q224 (vec_id % 89 = 17 minus IVF
    * centroid seeds), so one erasure request provably leaves BOTH vector
    * serving structures. Codebooks are kept: after [[PqLloydSteps]] Lloyd
    * rounds every codeword is a cluster MEAN over subvectors — a trained
    * aggregate with no vec_id linkage — the same "the quantizer keeps its
    * trained geometry" trade as q224's centroids (the residual caveat,
    * stated rather than hidden: a codeword whose training cluster had
    * exactly one member IS that member's subvector; retraining is the
    * rebuild op). The `mq` meta and cid provenance carry through
    * unchanged. */
  private[graft] def takedownPqBranch(s: SparkSession, dir: String): String = {
    corpusPqIndex(s, dir)
    val (cents, _) = corpusIvfIndex(s, dir)
    val src = fixturePqIndexPath(dir)
    vecTakedownBranch(s, pqCells(cents), src, IndexStore.workPath(src + "_takedown"),
      s"takedown1|lloyd$PqLloydSteps|" +
        IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet")))(
      fixtureTakedownRequest(s, dir))
  }

  /** q226: the q199 ADC top-3 answered from the post-takedown code
    * store, plus the audits: `n_vecs` (distinct encoded vectors left)
    * and `removed_traces` (code rows for erased ids — pinned 0). The
    * erased vectors cannot be scored because their CODES are gone; the
    * distance tables, built from probes + codebooks alone, are
    * unchanged — which is why the retained rankings are bit-identical
    * to a filtered re-encode, and the oracle proves it from raw text. */
  def pqTakedown(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = takedownPqBranch(s, dir)
    val cb = graft.SessionCache.cached(s, s"sim:tkpqcb:$dir")(
      IndexStore.read(s, path, "codebooks"))
    val codes = graft.SessionCache.cached(s, s"sim:tkpqc:$dir")(
      IndexStore.read(s, path, "codes"))
    eraseAudited(codes, PqCodes, vecErased(IndexStore
      .readMeta(s, fixtureIvfIndexPath(dir))("m").toLong))(baseAdcTop3(s, dir, cb, _))
  }

  /** q226's oracle: the q199 chain with erased ids removed from the CODE
    * side only (codebooks trained over the full corpus — the quantizer
    * kept its geometry), audits pinned. */
  private[graft] val pqTakedownSql =
    s"""WITH $flatSql,
       |$pqSubSql,
       |$pqCwSql,
       |$pqDistSql,
       |$pqCodesSql,
       |erased AS (
       |  SELECT vec_id FROM embeddings
       |  WHERE vec_id % 89 = 17
       |    AND vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) <> 0),
       |padc AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vid,
       |         CAST(SUM(CAST(q.d2 AS DECIMAL(38,20))) AS DOUBLE) AS adc0
       |  FROM pdist q JOIN pcodes c ON c.j = q.j AND c.code = q.code AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id BETWEEN 0 AND 15
       |    AND c.vec_id NOT IN (SELECT vec_id FROM erased)
       |  GROUP BY q.vec_id, c.vec_id)
       |SELECT qid, vid, adc, rn,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
       |         - (SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_vecs,
       |       CAST(0 AS BIGINT) AS removed_traces
       |FROM (
       |  SELECT qid, vid, round(adc0, 9) AS adc,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(adc0, 9), vid) AS INT) AS rn
       |  FROM padc)
       |WHERE rn <= 3""".stripMargin

  // ---- q230: feed-driven sync of the PQ code store ----

  /** The feed-synced PQ code store ([[vecSyncStore]]) — the substrate
    * of [[feedSyncedAdc]] (q230), completing the lake→index sync loop for
    * the FOURTH and last serving family (search q227, dedup q228, IVF
    * q229; the PQ gap VERDICT r14 ranked first): codebooks trained from
    * the v1 snapshot (the q198 build), deleted codes anti-joined
    * (codebooks untouched: trained means, no id linkage), arrivals
    * encoded against the STORED codebooks (the q208 refresh path). */
  private[graft] def pqSyncStore(s: SparkSession, dir: String): String =
    vecSyncStore(s, dir, PqCodes, "pq_sync_", "pqsync", s"pqsync1|lloyd$PqLloydSteps|")

  /** q230: the q199 full-scan ADC top-3 answered from the feed-synced PQ
    * code store, plus the audit columns of the q229 convention: `n_vecs`
    * (distinct encoded vectors after the sync), `removed_traces` (code
    * rows for erased ids — pinned 0), and the feed's insert/delete
    * counts (from the store meta). The oracle recomputes the whole chain
    * from the lake's current logical state with the codebooks held at
    * their v1 training — so a stale code, a leaked deleted vector, or a
    * mis-encoded arrival (the negated embeddings re-quantize to
    * DIFFERENT codewords — sign flips are lossless in IEEE, so both
    * engines derive the same fresh codes) all hash-mismatch. */
  def feedSyncedAdc(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = pqSyncStore(s, dir)
    val cb = graft.SessionCache.cached(s, s"sim:pqsynccb:$dir")(
      IndexStore.read(s, path, "codebooks"))
    feedSyncedProbe(s, path, PqCodes)(baseAdcTop3(s, dir, cb, _))
  }

  /** q230's oracle: codes recomputed from the lake's current logical
    * state with codebooks held at their v1 training — retained vectors
    * keep their original codes (the codebooks did not move), arrivals
    * encode fresh against the same codebooks from their negated
    * components. */
  private[graft] val feedSyncedAdcSql =
    s"""WITH $flatSql,
       |$pqSubSql,
       |$pqCwSql,
       |$pqDistSql,
       |$pqCodesSql,
       |erased AS (
       |  SELECT vec_id FROM embeddings
       |  WHERE vec_id % 89 = 17
       |    AND vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) <> 0),
       |psub_n AS (
       |  SELECT vec_id + 500000 AS vec_id, CAST((pos-1) // 8 AS INT) AS j,
       |         (pos-1) % 8 AS spos, -xd AS xd
       |  FROM flat WHERE vec_id % 31 = 2),
       |pdist_n AS (
       |  SELECT s.vec_id, s.j, c.code,
       |         CAST(SUM(CAST((s.xd - c.cxd)*(s.xd - c.cxd) AS DECIMAL(38,20))) AS DOUBLE) AS d2
       |  FROM psub_n s JOIN pcw c ON c.j = s.j AND c.spos = s.spos
       |  GROUP BY s.vec_id, s.j, c.code),
       |pcodes_n AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY round(d2, 9), code) AS rn
       |    FROM pdist_n)
       |  WHERE rn = 1),
       |codes_all AS (
       |  SELECT vec_id, j, code FROM pcodes
       |  WHERE vec_id NOT IN (SELECT vec_id FROM erased)
       |  UNION ALL SELECT vec_id, j, code FROM pcodes_n),
       |padc AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vid,
       |         CAST(SUM(CAST(q.d2 AS DECIMAL(38,20))) AS DOUBLE) AS adc0
       |  FROM pdist q JOIN codes_all c ON c.j = q.j AND c.code = q.code AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id BETWEEN 0 AND 15
       |  GROUP BY q.vec_id, c.vec_id)
       |SELECT qid, vid, adc, rn,
       |       (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM codes_all) AS n_vecs,
       |       CAST(0 AS BIGINT) AS removed_traces,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id % 31 = 2)
       |         AS n_feed_inserts,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_feed_deletes
       |FROM (
       |  SELECT qid, vid, round(adc0, 9) AS adc,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(adc0, 9), vid) AS INT) AS rn
       |  FROM padc)
       |WHERE rn <= 3""".stripMargin

  // ---- q233: feed sync with O(delta) MASKED deletes for the PQ codes ----

  /** The mask-synced PQ code store ([[vecMaskSyncStore]]): q230's store
    * with the delete leg landed as the delete-mask sidecar instead of the
    * codes rewrite — the q231/q232 pattern completing the sidecar for the
    * THIRD index family. */
  private[graft] def pqMaskSyncStore(s: SparkSession, dir: String): String =
    vecMaskSyncStore(s, dir, PqCodes, "pq_msync_", "pqmasksync",
      s"pqmasksync1|lloyd$PqLloydSteps|")

  /** q233: the q199 full-scan ADC top-3 over the mask-synced code store.
    * Masked vectors drop from CANDIDATES via the broadcast anti-join on
    * the codes scan; the ADC distance tables are built from probes +
    * codebooks alone, so — like the vector family and unlike BM25 —
    * there are no corpus-level statistics to go stale: the masked probe
    * is bit-equal to q230's physically-rewritten one even before the
    * fold (MaskFoldSpec pins the fold anyway). */
  def maskedFeedSyncedAdc(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = pqMaskSyncStore(s, dir)
    val cb = graft.SessionCache.cached(s, s"sim:pqmsynccb:$dir")(
      IndexStore.read(s, path, "codebooks"))
    maskedSyncedProbe(s, path, PqCodes)(baseAdcTop3(s, dir, cb, _))
  }

  /** q233's oracle: q230's chain verbatim with the trace audit swapped
    * for the mask size. */
  private[graft] val maskedFeedSyncedAdcSql = {
    val anchor = "CAST(0 AS BIGINT) AS removed_traces"
    require(feedSyncedAdcSql.contains(anchor), "q233 oracle anchor drifted")
    feedSyncedAdcSql.replace(anchor,
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_mask_rows")
  }

  /** q200: IVFADC — the full IVF-PQ probe (the architecture FAISS ships
    * for web-scale ANN): the coarse quantizer (persisted IVF index)
    * prunes candidates to the probe's cluster, and the fine quantizer
    * (PQ codes) scores them by ADC. The probe reads the probed clusters'
    * code bytes ONLY — cid-pruned via the same driver-side cluster cover
    * as q184 (≤16 longs), against the cid-sorted code files — so the
    * per-query cost is (N/K clusters) * (M code bytes), the product of
    * both compressions. Recall vs the exact baseline is gated the q188
    * way; rank quality vs full-scan ADC is q199's cheaper-by-K cousin.
    */
  def ivfPqProbe(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (cb, codes) = corpusPqIndex(s, dir)
    val (cents, assign) = corpusIvfIndex(s, dir)
    // nprobe — THE IVF recall/latency dial: search the top-P clusters per
    // probe instead of only its own. Default 1 reproduces the stored
    // assignment bit-for-bit (same cosine argmax, same tie-break), which
    // is what the registered oracle pins; deployments raise it
    // (spec-covered, the q196/q197 knob pattern) to buy back the
    // coarse-cluster recall loss q203 measures at P * the probe cost.
    val np = s.conf.getOption("spark.graft.ivfpq.nprobe").map(_.toInt).getOrElse(1)
    val qa = topCells(assign.filter(BaseProbes)
        .select(col("vec_id"), col("embedding"), col("nrm")), cents, np)
      .select(col("vec_id").as("qid"), col("cid"), col("embedding"))
    // driver-side cluster cover: <= 16 * nprobe longs, the q184 pattern
    adcTop3(adcScores(codes.filter(col("cid").isInCollection(cellCover(qa))),
      broadcast(adcTable(qa, cb))))
  }

  // cluster-pruned ADC pairs (expects assign + pdist + pcodes in scope) —
  // shared by the q200 probe and the q203 recall gate
  private val pqPadcCidSql =
    """padc AS (
      |  SELECT qa.vec_id AS qid, va.vec_id AS vid,
      |         CAST(SUM(CAST(q.d2 AS DECIMAL(38,20))) AS DOUBLE) AS adc0
      |  FROM assign qa
      |  JOIN assign va ON va.cid = qa.cid AND va.vec_id <> qa.vec_id
      |  JOIN pdist q ON q.vec_id = qa.vec_id
      |  JOIN pcodes c ON c.vec_id = va.vec_id AND c.j = q.j AND c.code = q.code
      |  WHERE qa.vec_id BETWEEN 0 AND 15
      |  GROUP BY qa.vec_id, va.vec_id)""".stripMargin

  private val ivfPqSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$pqSubSql,
       |$pqCwSql,
       |$pqDistSql,
       |$pqCodesSql,
       |$pqPadcCidSql
       |SELECT qid, vid, round(adc0, 9) AS adc, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(adc0, 9), vid) AS INT) AS rn
       |  FROM padc)
       |WHERE rn <= 3""".stripMargin

  /** ADC admission threshold: an arrival whose nearest in-cluster ADC
    * distance is below this is a semantic near-duplicate. Sits between
    * the fixture's typical self-quantization error (a byte copy scores
    * its original's quantization error, mean ~0.37 after Lloyd
    * refinement) and the nearest genuine neighbor (~1.0) — production
    * would tune it from the q201 MSE gate exactly like q78's 0.8 cosine.
    */
  private val PqScreenEps = 0.8

  /** Screen one arriving vector batch against the persisted PQ index by
    * ADC — the PQ family's per-micro-batch ingest entry (the
    * [[LshScreen.screen]] role, L2/code-space instead of sign-LSH):
    *  1. coarse-assign each arrival to its stored IVF centroid (cosine
    *     argmax against the broadcast centroid table — the metric the
    *     index was built with, and the stored-centroid contract: nothing
    *     is re-derived from the corpus);
    *  2. expand each arrival to its M*k* ADC distance table (batch-sized
    *     broadcast — bounded by the micro-batch, never the corpus);
    *  3. score ONLY the probed clusters' code bytes (driver-side cover →
    *     cid pruning, the q184/q200 path) and take the per-arrival min.
    * Decision: ADC below [[PqScreenEps]] → "near" (semantic dup), else
    * "accept". A decision depends only on the arrival vs the frozen
    * index, so any micro-batch partitioning yields identical decisions —
    * streaming == batch by construction (q205 oracles against the same
    * SQL as the one-shot q204).
    */
  private[graft] def pqScreenBatch(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    val (cb, codes) = corpusPqIndex(s, dir)
    val (cents, _) = corpusIvfIndex(s, dir)
    // spread before the coarse-assign expansion (batch x centroids dot
    // products) — a staged micro-batch file is one scan task (guide §2,
    // the q214 re-slice); decisions are per-vector, the q204/q205
    // oracles pin partitioning-independence
    val acid = IvfCells.encode(cents, graft.Engine.spread(batch))
    val dtable = adcTable(acid.select(col("vec_id").as("qid"), col("cid"), col("embedding")), cb)
    // driver-side cluster cover of the BATCH (metadata-scale, q184 style);
    // the same pass counts arrivals to size-gate the dtable broadcast
    val coverRows = acid.groupBy(col("cid")).agg(count(lit(1)).as("cnt")).collect()
    val cover = coverRows.map(_.getLong(0)).toSeq
    val nArrivals = coverRows.map(_.getLong(1)).sum
    // the dtable is batch * M * k* rows: broadcast for normal micro-batches
    // (the serving shape); an oversized batch (e.g. the 10x rung replay)
    // falls back to a shuffle join rather than shipping a so-called
    // "broadcast" of hundreds of MB to every task
    val dt = if (nArrivals <= 2048) broadcast(dtable) else dtable
    adcScores(codes.filter(col("cid").isInCollection(cover)), dt)
      .groupBy(col("qid"))
      .agg(min(round(col("adc0"), 9)).as("min_adc"))
      .select(col("qid").as("vec_id"), col("min_adc"),
        when(col("min_adc") < PqScreenEps, lit("near"))
          .otherwise(lit("accept")).as("decision"))
  }

  /** Per-slice rollup shared by the one-shot q204 and streaming q205
    * (which MUST agree with it row-for-row). */
  private[graft] def pqScreenSummary(decisions: DataFrame): DataFrame =
    decisions
      .groupBy(expr("vec_id div 100000").as("slice"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("decision") === "near", 1).otherwise(0)).as("n_near"),
        sum(when(col("decision") === "accept", 1).otherwise(0)).as("n_accept"))

  /** q204: the one-shot batch form — screen the q140 synthetic arrival
    * set by ADC against the persisted PQ index. Byte copies land "near"
    * (they score their original's quantization error); 2x-scaled and
    * negated variants land "accept" — DIFFERENT from the cosine-metric
    * screens (q140 calls a 2x scale cosine-identical), which is the
    * point: the admission metric is a policy choice, and the engine
    * ships both. */
  def pqScreen(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    pqScreenSummary(pqScreenBatch(s, dir, syntheticVecBatch(s, dir)))
  }

  private[graft] val pqScreenSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$pqSubSql,
       |$pqCwSql,
       |$pqDistSql,
       |$pqCodesSql,
       |newb AS (
       |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
       |  UNION ALL
       |  SELECT vec_id + 200000, list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))
       |  FROM embeddings WHERE vec_id % 7 = 0
       |  UNION ALL
       |  SELECT vec_id + 300000, list_transform(embedding, x -> CAST(-x AS FLOAT))
       |  FROM embeddings WHERE vec_id % 11 = 0),
       |nflat AS (
       |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS xd
       |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS i FROM newb)),
       |nnorm AS (
       |  SELECT vec_id, sqrt(CAST(SUM(CAST(xd*xd AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
       |  FROM nflat GROUP BY vec_id),
       |nadots AS (
       |  SELECT f.vec_id, c.cid, CAST(SUM(CAST(f.xd*c.cx AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM nflat f JOIN cent c ON f.pos = c.pos
       |  GROUP BY f.vec_id, c.cid),
       |nacos AS (
       |  SELECT d.vec_id, d.cid, d.dot / (cn.nrm * an.nrm) AS cosim
       |  FROM nadots d JOIN norms cn ON cn.vec_id = d.cid
       |                JOIN nnorm an ON an.vec_id = d.vec_id),
       |nassign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rn
       |    FROM nacos)
       |  WHERE rn = 1),
       |nsub AS (
       |  SELECT vec_id, CAST((pos-1) // 8 AS INT) AS j, (pos-1) % 8 AS spos, xd
       |  FROM nflat),
       |ndist AS (
       |  SELECT s.vec_id, s.j, c.code,
       |         CAST(SUM(CAST((s.xd - c.cxd)*(s.xd - c.cxd) AS DECIMAL(38,20))) AS DOUBLE) AS d2
       |  FROM nsub s JOIN pcw c ON c.j = s.j AND c.spos = s.spos
       |  GROUP BY s.vec_id, s.j, c.code),
       |nadc AS (
       |  SELECT na.vec_id AS aid, a.vec_id AS vid,
       |         CAST(SUM(CAST(q.d2 AS DECIMAL(38,20))) AS DOUBLE) AS adc0
       |  FROM nassign na
       |  JOIN assign a ON a.cid = na.cid
       |  JOIN ndist q ON q.vec_id = na.vec_id
       |  JOIN pcodes c ON c.vec_id = a.vec_id AND c.j = q.j AND c.code = q.code
       |  GROUP BY na.vec_id, a.vec_id),
       |ndec AS (
       |  SELECT aid, MIN(round(adc0, 9)) AS min_adc FROM nadc GROUP BY aid)
       |SELECT aid // 100000 AS slice, CAST(COUNT(*) AS BIGINT) AS n,
       |       CAST(SUM(CASE WHEN min_adc < $PqScreenEps THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       |       CAST(SUM(CASE WHEN min_adc >= $PqScreenEps THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
       |FROM ndec
       |GROUP BY 1""".stripMargin

  private[graft] def seqPqPath(dir: String): String =
    "target/graft_index/pqseq_" + IndexStore.dirTag(dir)

  /** q208: SEQUENTIAL PQ refresh — the q195 segment pattern applied to
    * the CODE store, completing ingest symmetry for the PQ family (the
    * r10 verdict's demand, already met for MinHash/sign-LSH/lexical/IVF):
    * segment 0 branches the frozen primary codes file-for-file; batch 1
    * (byte copies) and batch 2 (float-exact 2x scales + negations) are
    * each coarse-assigned against the STORED centroids and encoded
    * against the STORED codebooks — the index-property contract twice
    * over: re-training codebooks on refresh would move codewords and
    * silently invalidate every previously stored code — then appended
    * cid-sorted with their segment id. The stamp flips from "building"
    * only after both appends land (crash mid-sequence rebuilds, never
    * serves). The probe (base multiples of 35, so a byte copy — 35%5=0 —
    * provably co-resides) ADC-scores the MERGED table via the usual
    * cluster cover and returns each hit's segment: rank 1 is the seg-1
    * byte copy at exactly its original's quantization error (identical
    * codes), while the seg-2 scale/negation variants land far by L2 —
    * the metric contrast with q195's cosine probe, on purpose.
    */
  def pqRefreshSeq(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    seqPqProbe(s, ensureSeqPq(s, dir), dir)
  }

  /** q212: PQ code-store segment compaction — q211's twin for the q208
    * store (the two landed together: every segment family now has a
    * collapse path). Branch, compact to one cid-sorted segment, answer
    * q208's exact ADC probe from the branch; oracle = q208's chain with
    * seg pinned 0 / n_segments pinned 1, n_segments audited from the
    * store.
    */
  def pqSeqCompact(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = compactedSeqBranch(s, ensureSeqPq(s, dir), "codes",
      Seq("cid", "vec_id", "j"))
    val nseg = IndexStore.read(s, path, "codes")
      .agg(countDistinct(col("seg")).as("n_segments"))
    seqPqProbe(s, path, dir).crossJoin(broadcast(nseg))
  }

  /** Build-if-absent the q208/q212 sequential PQ code store
    * ([[seqStore]], cell-keyed codes); returns its path. */
  private def ensureSeqPq(s: SparkSession, dir: String): String =
    seqStore(s, dir, pqCells(corpusIvfIndex(s, dir)._1), seqPqPath(dir),
      s"pqseq1|lloyd$PqLloydSteps|")(corpusPqIndex(s, dir))

  /** The ADC cluster-cover probe over a sequential PQ code store (q208
    * full store, q212 compacted branch): the [[SeqProbes]] scored
    * against the probed clusters' code bytes, top-3 with segment. */
  private def seqPqProbe(s: SparkSession, path: String, dir: String): DataFrame = {
    val (cents, _) = corpusIvfIndex(s, dir)
    val (cb, _) = corpusPqIndex(s, dir)
    val qa = IvfCells.encode(cents, table(s, dir, "embeddings").filter(SeqProbes))
      .select(col("vec_id").as("qid"), col("cid"), col("embedding"))
    adcTop3(adcScores(IndexStore.read(s, path, "codes").filter(col("cid").isInCollection(
      cellCover(qa))), broadcast(adcTable(qa, cb)), Seq("seg")), Seq("seg"))
  }

  private val pqRefreshSeqSql =
    s"""WITH flat0 AS (
       |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS xd
       |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS i
       |        FROM embeddings)),
       |bflat AS (
       |  SELECT vec_id + 100000 AS vec_id, pos, xd FROM flat0 WHERE vec_id % 5 = 0
       |  UNION ALL
       |  SELECT vec_id + 200000, pos, xd * 2 FROM flat0 WHERE vec_id % 7 = 0
       |  UNION ALL
       |  SELECT vec_id + 300000, pos, -xd FROM flat0 WHERE vec_id % 11 = 0),
       |flatall AS (SELECT * FROM flat0 UNION ALL SELECT * FROM bflat),
       |norms AS (
       |  SELECT vec_id, sqrt(CAST(SUM(CAST(xd*xd AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
       |  FROM flatall GROUP BY vec_id),
       |cent AS (SELECT vec_id AS cid, pos, xd AS cx FROM flat0
       |         WHERE vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) = 0),
       |adots AS (
       |  SELECT f.vec_id, c.cid, CAST(SUM(CAST(f.xd*c.cx AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM flatall f JOIN cent c ON f.pos = c.pos
       |  GROUP BY f.vec_id, c.cid),
       |acos AS (
       |  SELECT a.vec_id, a.cid, a.dot / (n2.nrm * n1.nrm) AS cosim
       |  FROM adots a JOIN norms n1 ON n1.vec_id = a.vec_id JOIN norms n2 ON n2.vec_id = a.cid),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rn
       |    FROM acos)
       |  WHERE rn = 1),
       |psub AS (
       |  SELECT vec_id, CAST((pos-1) // 8 AS INT) AS j, (pos-1) % 8 AS spos, xd
       |  FROM flat0),
       |$pqCwSql,
       |asub AS (
       |  SELECT vec_id, CAST((pos-1) // 8 AS INT) AS j, (pos-1) % 8 AS spos, xd
       |  FROM flatall),
       |adist AS (
       |  SELECT s.vec_id, s.j, c.code,
       |         CAST(SUM(CAST((s.xd - c.cxd)*(s.xd - c.cxd) AS DECIMAL(38,20))) AS DOUBLE) AS d2
       |  FROM asub s JOIN pcw c ON c.j = s.j AND c.spos = s.spos
       |  GROUP BY s.vec_id, s.j, c.code),
       |acodes AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY round(d2, 9), code) AS rn
       |    FROM adist)
       |  WHERE rn = 1),
       |qa AS (SELECT vec_id AS qid, cid FROM assign
       |       WHERE vec_id >= 0 AND vec_id < 560 AND vec_id % 35 = 0),
       |padc AS (
       |  SELECT qa.qid, va.vec_id AS vid,
       |         CAST(CASE WHEN va.vec_id >= 200000 THEN 2
       |                   WHEN va.vec_id >= 100000 THEN 1 ELSE 0 END AS INT) AS seg,
       |         CAST(SUM(CAST(q.d2 AS DECIMAL(38,20))) AS DOUBLE) AS adc0
       |  FROM qa
       |  JOIN assign va ON va.cid = qa.cid AND va.vec_id <> qa.qid
       |  JOIN adist q ON q.vec_id = qa.qid
       |  JOIN acodes c ON c.vec_id = va.vec_id AND c.j = q.j AND c.code = q.code
       |  GROUP BY qa.qid, va.vec_id)
       |SELECT qid, vid, seg, round(adc0, 9) AS adc, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(adc0, 9), vid) AS INT) AS rn
       |  FROM padc)
       |WHERE rn <= 3""".stripMargin

  /** q212's oracle: q208's identical chain with seg pinned to 0 and
    * n_segments pinned to 1 — what a lossless compaction must serve. */
  private val pqSeqCompactSql = sqlReplaced(pqRefreshSeqSql,
    "SELECT qid, vid, seg, round(adc0, 9) AS adc, rn FROM (",
    "SELECT qid, vid, CAST(0 AS INT) AS seg, CAST(1 AS BIGINT) AS n_segments, round(adc0, 9) AS adc, rn FROM (")

  /** q202: brute-force exact L2 top-5 — the Euclidean twin of q64's
    * cosine baseline and the comparator the PQ family is graded against
    * (ADC approximates SQUARED DISTANCE, so gating it on cosine ranks
    * would measure the metric mismatch, not the quantization). Same
    * linear shape: 16 probes broadcast, one corpus scan, the native
    * graft_sqdist kernel per pair, WindowGroupLimit top-k — no shuffle on
    * the distance computation. */
  def l2Knn(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val v = e.select(col("vec_id").as("vid"), col("embedding").as("vemb"))
    val q = e.filter(col("vec_id").between(0, 15))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val d = v.join(broadcast(q), col("qid") =!= col("vid"))
      .withColumn("d20", expr("graft_sqdist(qemb, vemb)"))
    val w = Window.partitionBy(col("qid")).orderBy(round(col("d20"), 9).asc, col("vid"))
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vid"), round(col("d20"), 9).as("d2"), col("rn"))
  }

  // exact L2 pair distances for the 16 probes (expects flat in scope)
  private val l2dSql =
    """l2d AS (
      |  SELECT q.vec_id AS qid, v.vec_id AS vid,
      |         CAST(SUM(CAST((q.xd - v.xd)*(q.xd - v.xd) AS DECIMAL(38,20))) AS DOUBLE) AS d20
      |  FROM flat q JOIN flat v ON q.pos = v.pos AND q.vec_id <> v.vec_id
      |  WHERE q.vec_id BETWEEN 0 AND 15
      |  GROUP BY q.vec_id, v.vec_id)""".stripMargin

  private val l2KnnSql =
    s"""WITH $flatSql,
       |$l2dSql
       |SELECT qid, vid, round(d20, 9) AS d2, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(d20, 9), vid) AS INT) AS rn
       |  FROM l2d)
       |WHERE rn <= 5""".stripMargin

  /** q203: the IVF-PQ quality gate — recall@3 of the cluster-pruned ADC
    * probe (q200) against the exact L2 top-3 (q202), per probe: the q188
    * pattern for the compressed index. This single number folds BOTH
    * approximation losses — neighbors outside the probed coarse cluster
    * AND ADC rank flips from quantization noise — so it is the
    * acceptance test a pipeline runs before switching retrieval from raw
    * vectors to codes, and the signal that drives nprobe / k* / M
    * tuning. Costs one exact baseline scan, exactly like q188; at 100 TB
    * it runs on this same fixed probe sample. */
  def ivfPqRecall(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val exact = l2Knn(s, dir).filter(col("rn") <= 3).select(col("qid"), col("vid"))
    val approx = ivfPqProbe(s, dir)
      .select(col("qid").as("aqid"), col("vid").as("avid"))
    exact.join(approx,
        col("qid") === col("aqid") && col("vid") === col("avid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("avid")).as("hits"))
      .withColumn("recall", col("hits").cast("double") / 3.0)
  }

  private val ivfPqRecallSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$pqSubSql,
       |$pqCwSql,
       |$pqDistSql,
       |$pqCodesSql,
       |$pqPadcCidSql,
       |ipq3 AS (
       |  SELECT qid, vid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(adc0, 9), vid) AS rn
       |    FROM padc)
       |  WHERE rn <= 3),
       |$l2dSql,
       |exact3 AS (
       |  SELECT qid, vid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(d20, 9), vid) AS rn
       |    FROM l2d)
       |  WHERE rn <= 3)
       |SELECT e.qid, CAST(COUNT(i.vid) AS BIGINT) AS hits, COUNT(i.vid) / 3.0 AS recall
       |FROM exact3 e LEFT JOIN ipq3 i ON i.qid = e.qid AND i.vid = e.vid
       |GROUP BY e.qid""".stripMargin

  /** q201: the PQ quality gate — per-subspace quantization error and
    * codebook utilization from the stored codes (d2 rode along at encode
    * time, so this costs a code-table scan, no corpus re-read). This is
    * the datacard row a pipeline checks before trusting ADC rankings:
    * mean squared error per subspace is the ADC noise floor, and a
    * subspace using few of its codewords is under-trained (the signal to
    * re-seed or Lloyd-refine that codebook, exactly the q188 role for
    * the coarse index). Sums go through the DECIMAL accumulator so the
    * means are partition-order independent.
    */
  def pqQuantError(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (_, codes) = corpusPqIndex(s, dir)
    codes.groupBy(col("j"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("code")).as("codes_used"),
        dsum(col("d2"), 10).as("sum_d2"))
      .withColumn("mean_d2", round(col("sum_d2") / col("n_vecs"), 9))
      .select(col("j"), col("n_vecs"), col("codes_used"), col("mean_d2"))
  }

  private val pqQuantErrorSql =
    s"""WITH $flatSql,
       |$pqSubSql,
       |$pqCwSql,
       |$pqDistSql,
       |$pqCodesSql
       |SELECT j, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |       CAST(COUNT(DISTINCT code) AS BIGINT) AS codes_used,
       |       round(CAST(SUM(CAST(d2 AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 9) AS mean_d2
       |FROM pcodes
       |GROUP BY j""".stripMargin

  /** Target size of the q192 diversity subset. */
  private val DiversityBudget = 100L

  /** q192: cluster-balanced diversity sampling — select a fixed budget
    * spread across the persisted IVF clusters (quota proportional to
    * cluster size with a floor of 1), the subset-selection step that
    * follows SemDeDup pruning in an embedding-curation pipeline: random
    * sampling over-represents dense modes; per-cluster quotas guarantee
    * every semantic region survives into the subset. Within a cluster
    * the picks are ordered by the portable md5 digest of the vector id —
    * a deterministic shuffle, so the "random" sample is reproducible
    * cross-engine and cross-run (the q44 hash-sampling principle applied
    * per-cluster). One shuffle on cid for the rank window (the persisted
    * index is already cid-partitioned); quotas are a K-row broadcast.
    */
  def diversitySample(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val (_, assign) = corpusIvfIndex(s, dir)
    val n = table(s, dir, "embeddings").count()
    val quotas = assign.groupBy(col("cid")).agg(count(lit(1)).as("csize"))
      .withColumn("quota",
        greatest(lit(1L), expr(s"(csize * $DiversityBudget) div $n")))
      .select(col("cid"), col("quota"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(md5Long(concat(lit("ds"), col("vec_id").cast("string"))), col("vec_id"))
    assign.select(col("cid"), col("vec_id"))
      .withColumn("pick", row_number().over(w))
      .join(broadcast(quotas), Seq("cid"))
      .filter(col("pick") <= col("quota"))
      .select(col("cid"), col("vec_id"), col("pick"), col("quota"))
  }

  private val diversitySampleSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |quotas AS (
       |  SELECT cid, GREATEST(1, (CAST(COUNT(*) AS BIGINT) * $DiversityBudget)
       |                          // (SELECT COUNT(*) FROM embeddings)) AS quota
       |  FROM assign GROUP BY cid),
       |picks AS (
       |  SELECT a.cid, a.vec_id,
       |         CAST(ROW_NUMBER() OVER (
       |           PARTITION BY a.cid
       |           ORDER BY (('0x' || substr(md5('ds' || CAST(a.vec_id AS VARCHAR)), 1, 15))::BIGINT),
       |                    a.vec_id) AS INT) AS pick
       |  FROM assign a)
       |SELECT p.cid, p.vec_id, p.pick, q.quota
       |FROM picks p JOIN quotas q ON q.cid = p.cid
       |WHERE p.pick <= q.quota""".stripMargin

  private[graft] def refreshedIvfPath(dir: String): String =
    "target/graft_index/ivfr_" + IndexStore.dirTag(dir)

  /** q191: incremental IVF refresh — the missing symmetry in the IVF
    * family (dedup q131, vector-LSH q145, search q166 all ingest
    * incrementally; IVF only built). An arriving batch (the q140 rigs'
    * deterministic synthetic arrivals: byte copies, float-exact 2x
    * scales, negations) is assigned against the STORED centroids — the
    * index-property contract: a refresh must reuse the index's centroid
    * set verbatim, never re-derive centroids from whatever corpus is
    * around, or cluster ids silently renumber and every persisted
    * assignment dangles. Cost is O(batch): K ~ sqrt(N) centroids
    * broadcast to the batch only; the corpus assignment is reused from
    * the store untouched. The merged assignment lands in a BRANCH store
    * (cid-range-partitioned like the primary), leaving the corpus-stamped
    * q184 index intact. The probe then serves top-3 from the refreshed
    * branch for the batch's byte-copy probes — each probe's source vector
    * and its float-exact variants surface at cosine exactly ±1, proving
    * new and old members co-reside in the right clusters. Ranking orders
    * by the ROUNDED cosine (then vid): the exact-tier ties (source vs 2x
    * copy, both cosine 1) are broken identically in both engines instead
    * of by sub-ulp fold noise.
    */
  def ivfRefresh(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = refreshedIvfPath(dir)
    val stamp = "r1|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, path, stamp) {
      val (cents, assign) = corpusIvfIndex(s, dir)
      IndexStore.write(s, path, stamp, Seq("assign" -> IvfCells.laid(
        assign.select(IvfCells.cols.map(col): _*)
          .unionByName(IvfCells.encode(cents, syntheticVecBatch(s, dir))))))
    }
    cellProbe(IndexStore.read(s, path, "assign"),
      col("vec_id") >= 100000L && col("vec_id") < 100016L, 3, RoundedCos)
  }

  private val ivfRefreshSql =
    """WITH flat0 AS (
      |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS xd
      |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS i
      |        FROM embeddings)),
      |bflat AS (
      |  SELECT vec_id + 100000 AS vec_id, pos, xd FROM flat0 WHERE vec_id % 5 = 0
      |  UNION ALL
      |  SELECT vec_id + 200000, pos, xd * 2 FROM flat0 WHERE vec_id % 7 = 0
      |  UNION ALL
      |  SELECT vec_id + 300000, pos, -xd FROM flat0 WHERE vec_id % 11 = 0),
      |flat AS (SELECT * FROM flat0 UNION ALL SELECT * FROM bflat),
      |norms AS (
      |  SELECT vec_id, sqrt(CAST(SUM(CAST(xd*xd AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
      |  FROM flat GROUP BY vec_id),
      |cent AS (SELECT vec_id AS cid, pos, xd AS cx FROM flat0
      |         WHERE vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) = 0),
      |adots AS (
      |  SELECT f.vec_id, c.cid, CAST(SUM(CAST(f.xd*c.cx AS DECIMAL(38,20))) AS DOUBLE) AS dot
      |  FROM flat f JOIN cent c ON f.pos = c.pos
      |  GROUP BY f.vec_id, c.cid),
      |acos AS (
      |  SELECT a.vec_id, a.cid, a.dot / (n2.nrm * n1.nrm) AS cosim
      |  FROM adots a JOIN norms n1 ON n1.vec_id = a.vec_id JOIN norms n2 ON n2.vec_id = a.cid),
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rn
      |    FROM acos)
      |  WHERE rn = 1),
      |qa AS (SELECT vec_id AS qid, cid FROM assign
      |       WHERE vec_id >= 100000 AND vec_id < 100016),
      |pairs AS (
      |  SELECT q.qid, v.vec_id AS vid
      |  FROM qa q JOIN assign v ON v.cid = q.cid AND v.vec_id <> q.qid),
      |pdots AS (
      |  SELECT p.qid, p.vid, CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
      |  FROM pairs p
      |  JOIN flat a ON a.vec_id = p.qid
      |  JOIN flat b ON b.vec_id = p.vid AND b.pos = a.pos
      |  GROUP BY p.qid, p.vid),
      |pcos AS (
      |  SELECT d.qid, d.vid, d.dot / (n1.nrm * n2.nrm) AS cosim
      |  FROM pdots d JOIN norms n1 ON n1.vec_id = d.qid JOIN norms n2 ON n2.vec_id = d.vid)
      |SELECT qid, vid, round(cosim, 9) AS cosim, rn FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(cosim, 9) DESC, vid) AS INT) AS rn
      |  FROM pcos)
      |WHERE rn <= 3""".stripMargin

  private[graft] def seqIvfPath(dir: String): String =
    "target/graft_index/ivfsq_" + IndexStore.dirTag(dir)

  /** q195: SEQUENTIAL incremental IVF refresh — q191 generalized from one
    * arrival batch to a batch SEQUENCE, the q166 segment pattern applied
    * to the vector index: batch k+1 lands beside batch k as a tagged
    * segment append, no rebuild anywhere. Segment 0 is the frozen primary
    * assignment (branched file-for-file); batch 1 (byte copies) and then
    * batch 2 (float-exact 2x scales + negations) are each assigned
    * against the STORED centroids (the index-property contract — q191's
    * doc) and appended with their segment id, cid-sorted so parquet
    * min/max pruning keeps working on the refreshed files. The stamp
    * flips from "building" to final only after BOTH appends land, so a
    * crash mid-sequence is rebuilt, never served. The probe (the q184
    * cluster-cover path) runs over the merged table and returns each
    * hit's SEGMENT: probes are base vectors whose id is a multiple of 35,
    * so BOTH a segment-1 byte copy (id+100000, cosine exactly 1) and a
    * segment-2 float-exact 2x copy (id+200000, cosine exactly 1) are
    * guaranteed to exist — the top-3 provably contains members of BOTH
    * arrival batches co-resident in the probe's cluster. Probe set capped
    * at 16 — fixed probe budget, O(batch) refresh cost per arriving
    * batch at any corpus size.
    */
  def ivfRefreshSeq(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    seqIvfProbe(s, ensureSeqIvf(s, dir), maxSeg = 2)
  }

  /** q210: the SAME probe AS OF an earlier segment horizon — time travel
    * for the vector index (the snapshot table's capability applied to
    * the index store): candidates are restricted to segments <= 1, i.e.
    * the store as it stood BEFORE batch 2 landed. This is the audit
    * replay a production retrieval system needs — "reproduce exactly
    * what yesterday's index returned" — and the tagged segment ids make
    * it a FILTER, not a restore: the horizon probe runs against the live
    * store with zero extra state. Visibly different from q195's output
    * by construction: every probe's cluster contains a segment-2
    * float-exact 2x copy at cosine 1 that the horizon excludes, so
    * rank 2/3 shift to older members. Oracled with the same SQL chain,
    * candidates bounded by the horizon's id range.
    */
  def ivfProbeAsOf(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    seqIvfProbe(s, ensureSeqIvf(s, dir), maxSeg = 1)
  }

  /** The deterministic arrival-batch SEQUENCE shared by every sequential
    * refresh rig — the q195 IVF and q208 PQ batch builds and the q215
    * streaming twin: batch 1 = byte copies of the %5 slice (+100000),
    * batch 2 = float-exact 2x scales of the %7 slice (+200000) plus
    * negations of the %11 slice (+300000). ONE definition so the Spark
    * builds and the DuckDB oracle chain (bflat in [[ivfRefreshSeqSql]])
    * cannot drift apart. */
  private[graft] def seqArrivalBatches(s: SparkSession, dir: String): Seq[(Int, DataFrame)] = {
    val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    Seq(
      1 -> base.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")),
      2 -> base.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 200000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))")
            .as("embedding"))
        .unionByName(base.filter(col("vec_id") % 11 === 0)
          .select((col("vec_id") + 300000L).as("vec_id"),
            expr("transform(embedding, x -> CAST(-x AS FLOAT))").as("embedding"))))
  }

  /** The probe vectors of the sequential stores (q195/q208 and their
    * as-of, compaction and streaming twins): base multiples of 35, so a
    * segment-1 byte copy (35 % 5 = 0) and a segment-2 2x copy provably
    * co-reside in each probe's cell; 16 probes. */
  private val SeqProbes: Column =
    col("vec_id") >= 0L && col("vec_id") < 560L && col("vec_id") % 35 === 0

  /** Build-if-absent a sequential tagged-segment store of quantizer `q`
    * at `path` (q195 IVF, q208 PQ): segment 0 is the fixture store's
    * data (`fixture` = its (model, data)) branched whole; each
    * [[seqArrivalBatches]] batch is encoded against the STORED model —
    * the index-property contract twice over: re-deriving centroids or
    * re-training codebooks on refresh would renumber cells or move
    * codewords and silently invalidate every stored row — and appended
    * with its segment id in the quantizer's layout, so parquet min/max
    * pruning keeps working on the refreshed files. The stamp flips from
    * "building" to `stamp` + source stamp only after every append lands
    * (a crash mid-sequence is rebuilt, never served). */
  private def seqStore(s: SparkSession, dir: String, q: VecQuantizer, path: String,
      stamp: String)(fixture: => (DataFrame, DataFrame)): String = {
    val st = stamp + IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, path, st) {
      val (model, data) = fixture
      def seg(rows: DataFrame, id: Int): DataFrame =
        q.laid(rows.select(q.cols.map(col) :+ lit(id).as("seg"): _*))
      IndexStore.write(s, path, st + "|building", Seq(q.data -> seg(data, 0)))
      seqArrivalBatches(s, dir).foreach { case (segId, b) =>
        IndexStore.append(s, path, q.data, seg(q.encode(model, b), segId))
      }
      IndexStore.writeStamp(s, path, st)
    }
    path
  }

  /** Build-if-absent the q195/q210 sequential IVF store ([[seqStore]]);
    * returns its path. */
  private def ensureSeqIvf(s: SparkSession, dir: String): String =
    seqStore(s, dir, IvfCells, seqIvfPath(dir), "seq2|")(corpusIvfIndex(s, dir))

  /** The q215 streaming store's path — process-unique (the rig rebuilds
    * it fresh per call, so two JVMs sharing target/ must not interleave
    * on one directory) and reaped at JVM exit. */
  private[graft] def seqIvfStreamPath(dir: String): String =
    IndexStore.workPath(seqIvfPath(dir) + "_stream")

  /** The q215 streaming store: one `assign` table, cid-range-sorted. */
  private[graft] val SeqIvfLedger = IndexStore.Ledger("seg",
    Seq(IndexStore.LedgerTable("assign", "cid", "vec_id")))

  /** Fresh-seed the q215 streaming store, PARTITION-DIR-FIRST: the seed
    * corpus assignment lands as committed segment directory `seg=0` via
    * [[IndexStore.appendSegmentIfAbsent]] — the SAME commit
    * path every later micro-batch uses — so the store is hive-partitioned
    * from its first byte and can never mix flat files with partition dirs
    * under one table root (the layout hazard ADVICE r13 flagged). Stamp
    * written last (a crashed seed never validates). Rebuilt from scratch
    * per call: the registered query measures the full seed+stream cost,
    * the q178 discipline. */
  private[graft] def seedSeqIvfStream(s: SparkSession, dir: String): String = {
    val path = seqIvfStreamPath(dir)
    val (_, assign) = corpusIvfIndex(s, dir)
    SeqIvfLedger.seed(s, path)(Seq("assign" ->
      IvfCells.laid(assign.select(IvfCells.cols.map(col): _*))))
    IndexStore.writeStamp(s, path, "seqstream1|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet")))
    path
  }

  /** Commit one arriving micro-batch into the q215 streaming store as
    * tagged segment `segId` — coarse-assigned against the STORED
    * centroids (O(batch) — the corpus is never rescanned) — and replay
    * it ([[IndexStore.Ledger.commit]]): (1, 0) for a fresh segment, the
    * replay a marker-only no-op. */
  private[graft] def seqIvfStreamCommit(s: SparkSession, dir: String, path: String,
      segId: Long, batch: DataFrame): ((Int, Int), Map[String, Long]) =
    SeqIvfLedger.commit(s, path, segId) {
      val (cents, _) = corpusIvfIndex(s, dir)
      (Seq("assign" -> IvfCells.laid(IvfCells.encode(cents, batch))), Map.empty)
    }

  /** q215's answer frame, read back over the committed segment set
    * (uncommitted partial segments are invisible, their files never
    * opened): q195's exact
    * probe over the streamed store, plus the two audit columns the
    * oracle pins — n_segments counted FROM the store (3 = seed + one
    * per micro-batch) and the replay flag the rig observed. */
  private[graft] def seqIvfStreamResult(s: SparkSession, path: String,
      replayNoop: Boolean): DataFrame = {
    val assign = SeqIvfLedger.read(s, path, "assign", SeqIvfLedger.visible(s, path))
    val nseg = assign.agg(countDistinct(col("seg")).as("n_segments"))
    seqIvfProbeOn(assign, maxSeg = 2)
      .crossJoin(broadcast(nseg))
      .withColumn("replay_was_noop", lit(replayNoop))
  }

  /** q217's answer frame: the marker-gated probe over the COMPACTED
    * streaming store (identical read path to q215 — tombstoned segments
    * contribute markers to the ledger and zero rows to the scan), with
    * n_segments audited from the store (1 after a lossless collapse) and
    * the post-compaction replay flag the rig observed. */
  private[graft] def seqIvfStreamCompactResult(s: SparkSession, path: String,
      replayNoop: Boolean): DataFrame =
    seqIvfStreamResult(s, path, replayNoop)
      .withColumnRenamed("replay_was_noop", "replay_after_compact")

  /** q218's answer frame: the SAME probe at two horizons of the STREAMED
    * store, each leg read over [[IndexStore.Ledger.asOf]]'s segment set —
    * the horizon bounds the explicit partition-dir path list, so segment
    * 2's directory is never listed into the as-of scan's file index
    * (planning-time directory skipping, the 100 TB shape of `seg <= h`),
    * while the full leg reads every committed segment. Both legs share
    * one probe definition; the q210 fixture property (a segment-2
    * float-exact 2x copy at cosine 1 in every probe cluster) guarantees
    * the horizons differ by construction. */
  private[graft] def seqIvfStreamAsOfResult(s: SparkSession, path: String): DataFrame = {
    def leg(h: Long, name: String): DataFrame =
      seqIvfProbeOn(SeqIvfLedger.read(s, path, "assign", SeqIvfLedger.asOf(s, path, h)),
          maxSeg = 2)
        .select(lit(name).as("horizon"), col("qid"), col("vid"),
          col("seg"), col("cosim"), col("rn"))
    leg(Long.MaxValue, "full").unionByName(leg(1L, "asof1"))
  }

  /** The q184-style cluster-cover probe over the sequential store,
    * candidates bounded by `maxSeg` (2 = the full store, q195; 1 = the
    * pre-batch-2 horizon, q210). The horizon filter is applied only when
    * it bites, so the full probe's plan is unchanged. */
  private[graft] def seqIvfProbe(s: SparkSession, path: String, maxSeg: Int): DataFrame =
    seqIvfProbeOn(IndexStore.read(s, path, "assign"), maxSeg)

  /** The same probe over an ALREADY-OPENED assign frame — the q215
    * streaming store reads through [[IndexStore.Ledger.read]]
    * (marker-gated partition dirs), the flat stores through a plain read;
    * the probe is the one [[cellProbe]] either way, carrying `seg`.
    * Requires columns (cid, vec_id, embedding, nrm, seg); `seg` is
    * normalized to INT (a partition-discovered column arrives as whatever
    * type inference picked). The horizon bounds the whole frame: the
    * probes are base vectors of segment 0, so it bites on candidates
    * only. */
  private[graft] def seqIvfProbeOn(assignIn: DataFrame, maxSeg: Int): DataFrame = {
    val assign = assignIn.withColumn("seg", col("seg").cast("int"))
    cellProbe(if (maxSeg >= 2) assign else assign.filter(col("seg") <= maxSeg),
      SeqProbes, 3, RoundedCos, Seq("seg"))
  }

  /** Derive an oracle by string surgery with a drift guard: the anchor
    * MUST occur in the base SQL or the derivation silently degrades to
    * the base query (ADVICE r11's failure mode). */
  private def sqlReplaced(base: String, anchor: String, repl: String): String = {
    require(base.contains(anchor), s"oracle derivation anchor drifted: $anchor")
    base.replace(anchor, repl)
  }

  /** Public API: compact a sequential tagged-segment store table in
    * place — [[LshScreen.compact]] / [[graft.operators.Search.compactSearchIndex]]'s
    * twin for the q195/q210 IVF store and the q208 PQ code store, the
    * maintenance op an append-forever segment refresh eventually needs
    * (VERDICT r11 item 2). All segments collapse into segment 0 and the
    * rows land in FRESH cid-range-sorted files, restoring the parquet
    * min/max pruning that many small appends erode (each append writes
    * its own files, so a probe's cid range matches a file per segment
    * instead of one). Content is untouched — segment ids are provenance,
    * not data — so any probe over the compacted store returns exactly
    * the pre-compact rows (q211/q212 pin this against the SAME oracle
    * chain as q195/q208 with seg pinned to 0). Stamp and meta preserved;
    * readers mid-compact see old or new, never a mix (write's
    * stage-then-swap). Every OTHER table of the store is carried through
    * unchanged (the whole-directory rewrite enumerates them — a
    * multi-table store loses nothing), and the range-partition key is
    * the caller's `rangeCols`, not an assumed layout. NOTE: compaction deliberately forfeits as-of
    * horizon reads (q210) below the compaction point — the same trade a
    * snapshot table's expire/vacuum makes; compact once horizons older
    * than the retention window are no longer served.
    *
    * SCOPE: flat-layout stores only. A PARTITION-DIR store (the q215
    * streaming layout, [[IndexStore.appendSegmentIfAbsent]])
    * is refused outright — a read-and-rewrite would flatten its
    * partition directories and drop the `_COMMITTED` markers, silently
    * breaking the exactly-once replay contract a recovering stream
    * depends on (ADVICE r13). Compacting a streaming store needs a
    * commit-ledger-aware rewrite (carry the committed-segment set in
    * store meta so replays of pre-compaction segments stay no-ops);
    * until that exists, refusing loudly beats corrupting quietly.
    */
  def compactSeqSegments(s: SparkSession, path: String, tbl: String,
      sortCols: Seq[String], rangeCols: Seq[String] = Seq("cid", "vec_id")): Unit = {
    IndexStore.tableNames(s, path).foreach { t =>
      require(!IndexStore.isPartitionedTable(s, path, t),
        s"compactSeqSegments: table '$t' at $path is partition-dir layout " +
          "(streaming tagged-segment store); flat rewrite would drop its " +
          "partition dirs and _COMMITTED markers")
    }
    // localCheckpoint first: the rewrite reads the very files it replaces;
    // every OTHER table rides along through IndexStore.rewrite (ADVICE r12)
    val rows = IndexStore.read(s, path, tbl)
      .withColumn("seg", lit(0)).localCheckpoint()
    IndexStore.rewrite(s, path, Seq(
      tbl -> rows.repartitionByRange(rangeCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)))
  }

  /** The process-unique compaction-branch path for the sequential store
    * at `src` — one definition so the rigs that WRITE the branch and the
    * specs that audit its file layout can never drift apart (ADVICE r13:
    * the spec hardcoded the pre-pid-tag `src + "_cpt"` path and read
    * stale or missing data on a clean checkout). */
  private[graft] def seqCptBranchPath(src: String): String =
    IndexStore.workPath(src + "_cpt")

  /** Branch-if-stale the sequential store at `src` to its
    * [[seqCptBranchPath]] and compact the branch (every call — compaction
    * cost is what the registered query measures, the q178 discipline).
    * The primary store stays intact, segments and all, so q195/q210 keep
    * their horizons. The branch is a [[IndexStore.workPath]]: two JVMs
    * sharing a working dir (Verify and Bench racing on target/) never
    * copy/swap one live branch while the other probes it. */
  private def compactedSeqBranch(s: SparkSession, src: String, tbl: String,
      sortCols: Seq[String]): String = {
    val path = seqCptBranchPath(src)
    val stamp = IndexStore.readStamp(s, src).getOrElse(
      throw new IllegalStateException(s"sequential store at $src has no stamp"))
    IndexStore.withPathLock(path) {
      IndexStore.stamped(s, path, stamp)(IndexStore.copy(s, src, path))
      compactSeqSegments(s, path, tbl, sortCols)
    }
    path
  }

  /** q211: sequential-IVF segment compaction, audited end-to-end — the
    * q178 rig applied to the vector store: build the 3-segment q195
    * store, BRANCH it, compact the branch to one cid-sorted segment, and
    * answer q195's exact probe from the compacted branch. The oracle is
    * q195's identical SQL chain with seg pinned to 0 and n_segments
    * pinned to 1: a compaction that lost or duplicated an assignment row
    * changes some probe's top-3 (cosim/rn hash-mismatch); one that
    * failed to collapse segments fails on seg/n_segments. n_segments is
    * audited from the STORE (countDistinct over the compacted table),
    * not assumed.
    */
  def ivfSeqCompact(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = compactedSeqBranch(s, ensureSeqIvf(s, dir), "assign",
      Seq("cid", "vec_id"))
    val nseg = IndexStore.read(s, path, "assign")
      .agg(countDistinct(col("seg")).as("n_segments"))
    seqIvfProbe(s, path, maxSeg = 2).crossJoin(broadcast(nseg))
  }

  private[graft] val ivfRefreshSeqSql =
    """WITH flat0 AS (
      |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS xd
      |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS i
      |        FROM embeddings)),
      |bflat AS (
      |  SELECT vec_id + 100000 AS vec_id, pos, xd FROM flat0 WHERE vec_id % 5 = 0
      |  UNION ALL
      |  SELECT vec_id + 200000, pos, xd * 2 FROM flat0 WHERE vec_id % 7 = 0
      |  UNION ALL
      |  SELECT vec_id + 300000, pos, -xd FROM flat0 WHERE vec_id % 11 = 0),
      |flat AS (SELECT * FROM flat0 UNION ALL SELECT * FROM bflat),
      |norms AS (
      |  SELECT vec_id, sqrt(CAST(SUM(CAST(xd*xd AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
      |  FROM flat GROUP BY vec_id),
      |cent AS (SELECT vec_id AS cid, pos, xd AS cx FROM flat0
      |         WHERE vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) = 0),
      |adots AS (
      |  SELECT f.vec_id, c.cid, CAST(SUM(CAST(f.xd*c.cx AS DECIMAL(38,20))) AS DOUBLE) AS dot
      |  FROM flat f JOIN cent c ON f.pos = c.pos
      |  GROUP BY f.vec_id, c.cid),
      |acos AS (
      |  SELECT a.vec_id, a.cid, a.dot / (n2.nrm * n1.nrm) AS cosim
      |  FROM adots a JOIN norms n1 ON n1.vec_id = a.vec_id JOIN norms n2 ON n2.vec_id = a.cid),
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rn
      |    FROM acos)
      |  WHERE rn = 1),
      |qa AS (SELECT vec_id AS qid, cid FROM assign
      |       WHERE vec_id >= 0 AND vec_id < 560 AND vec_id % 35 = 0),
      |pairs AS (
      |  SELECT q.qid, v.vec_id AS vid
      |  FROM qa q JOIN assign v ON v.cid = q.cid AND v.vec_id <> q.qid),
      |pdots AS (
      |  SELECT p.qid, p.vid, CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
      |  FROM pairs p
      |  JOIN flat a ON a.vec_id = p.qid
      |  JOIN flat b ON b.vec_id = p.vid AND b.pos = a.pos
      |  GROUP BY p.qid, p.vid),
      |pcos AS (
      |  SELECT d.qid, d.vid, d.dot / (n1.nrm * n2.nrm) AS cosim
      |  FROM pdots d JOIN norms n1 ON n1.vec_id = d.qid JOIN norms n2 ON n2.vec_id = d.vid)
      |SELECT qid, vid,
      |       CAST(CASE WHEN vid >= 200000 THEN 2 WHEN vid >= 100000 THEN 1 ELSE 0 END AS INT) AS seg,
      |       round(cosim, 9) AS cosim, rn FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(cosim, 9) DESC, vid) AS INT) AS rn
      |  FROM pcos)
      |WHERE rn <= 3""".stripMargin

  /** q215's oracle: q195's IDENTICAL chain (segment provenance included)
    * plus the streaming rig's pinned audit columns — n_segments 3 (the
    * seed partition + one committed segment per micro-batch) and the
    * replay flag TRUE (every deliberate re-commit was a ledger no-op).
    * Streaming == batch for the refresh loop, machine-checked. */
  private[graft] val ivfRefreshSeqStreamSql = sqlReplaced(ivfRefreshSeqSql,
    "AS seg,",
    "AS seg, CAST(3 AS BIGINT) AS n_segments, TRUE AS replay_was_noop,")

  /** q211's oracle: q195's identical chain with seg pinned to 0 and
    * n_segments pinned to 1 — what a lossless compaction must serve. */
  private val ivfSeqCompactSql = sqlReplaced(ivfRefreshSeqSql,
    "CAST(CASE WHEN vid >= 200000 THEN 2 WHEN vid >= 100000 THEN 1 ELSE 0 END AS INT) AS seg",
    "CAST(0 AS INT) AS seg, CAST(1 AS BIGINT) AS n_segments")

  /** q217's oracle: q211's compaction pins (seg=0, n_segments=1 — a
    * lossless collapse serving the identical probe) PLUS the tombstone-
    * ledger audit: replay_after_compact TRUE means re-driving both
    * micro-batch commits against the compacted store was a metadata
    * no-op (a ledger the rewrite dropped would re-write the segments,
    * duplicate every streamed row, and shift the probe's cosim/rn). */
  private[graft] val ivfStreamCompactSql = sqlReplaced(ivfRefreshSeqSql,
    "CAST(CASE WHEN vid >= 200000 THEN 2 WHEN vid >= 100000 THEN 1 ELSE 0 END AS INT) AS seg",
    "CAST(0 AS INT) AS seg, CAST(1 AS BIGINT) AS n_segments, TRUE AS replay_after_compact")

  /** q218's oracle: ONE probe chain (every CTE shared), answered at two
    * horizons in the final select — the full leg is q195's exact
    * ranking, the asof1 leg re-ranks with candidates bounded to the
    * pre-batch-2 id range (vid < 200000 == segments 0/1, the segment-id
    * contract [[seqArrivalBatches]] pins). A horizon read that leaked a
    * segment-2 row would surface the cosine-1 2x copy at rank 1 of some
    * asof1 probe and hash-mismatch. */
  private[graft] val ivfStreamAsOfSql = sqlReplaced(ivfRefreshSeqSql,
    """SELECT qid, vid,
      |       CAST(CASE WHEN vid >= 200000 THEN 2 WHEN vid >= 100000 THEN 1 ELSE 0 END AS INT) AS seg,
      |       round(cosim, 9) AS cosim, rn FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(cosim, 9) DESC, vid) AS INT) AS rn
      |  FROM pcos)
      |WHERE rn <= 3""".stripMargin,
    """SELECT 'full' AS horizon, qid, vid,
      |       CAST(CASE WHEN vid >= 200000 THEN 2 WHEN vid >= 100000 THEN 1 ELSE 0 END AS INT) AS seg,
      |       round(cosim, 9) AS cosim, rn FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(cosim, 9) DESC, vid) AS INT) AS rn
      |  FROM pcos)
      |WHERE rn <= 3
      |UNION ALL
      |SELECT 'asof1' AS horizon, qid, vid,
      |       CAST(CASE WHEN vid >= 100000 THEN 1 ELSE 0 END AS INT) AS seg,
      |       round(cosim, 9) AS cosim, rn FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY round(cosim, 9) DESC, vid) AS INT) AS rn
      |  FROM pcos WHERE vid < 200000)
      |WHERE rn <= 3""".stripMargin)

  /** q210's oracle: q195's identical chain with candidates bounded by
    * the pre-batch-2 id range (segments 0 and 1 — the horizon). The
    * anchor must exist in the base SQL — if it drifts, the replace would
    * silently no-op and q210's oracle would become q195's full probe
    * (ADVICE r11), so the derivation is asserted. */
  private val ivfProbeAsOfSql = {
    val asOf = ivfRefreshSeqSql.replace(
      "AND v.vec_id <> q.qid)", "AND v.vec_id <> q.qid AND v.vec_id < 200000)")
    require(asOf != ivfRefreshSeqSql,
      "ivfProbeAsOfSql anchor drifted: horizon bound not applied")
    asOf
  }

  /** Deterministic random-hyperplane weights, derived from md5 so DuckDB
    * reproduces them bit-for-bit: w(j,pos) = md5_60("j_pos") % 2001 - 1000,
    * used as w/1000.0.
    */
  private def hyperplaneWeights(count: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    (0 until count).map(j => (1 to 64).map(pos => h60(s"${j}_$pos") % 2001L - 1000L))
  }

  /** Signature bits per LSH band, derived from corpus size:
    * clamp(ceil(log2 N), 8, 24). Buckets per band then track N, keeping
    * expected bucket occupancy O(1) — a fixed width (round 3 pinned 8 bits
    * = 256 buckets) makes candidate volume Sum(bucket^2) quadratic once N
    * outgrows the bucket space. Integer formula chosen to agree exactly
    * with DuckDB's ceil(log2(n)) at every n (including powers of two).
    */
  private[graft] def lshBits(n: Long): Int =
    math.min(24, math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(math.max(2L, n) - 1)))

  private val LshBands = 4

  /** Embedding-cosine near-dup via BANDED sign-LSH (random hyperplane)
    * bucketing: each vector gets [[LshBands]] independent sign-bit
    * signatures of [[lshBits]] bits each; vectors are candidates if ANY
    * band's bucket matches (the classic OR-of-ANDs construction — one wide
    * signature alone loses recall as bits grow, multiple bands restore it).
    * Only candidate pairs are compared exactly. At scale the (band, bucket)
    * id is the shuffle key and candidate volume is the sum of per-bucket
    * squares with O(1) expected occupancy, not corpus^2.
    *
    * Exact-duplicate top-off, same defense as the text-LSH family: vectors
    * are grouped by the embedding itself, LSH runs over one representative
    * per unique vector, and member pairs are reconstructed afterwards — an
    * identical-embedding flood (a default/zero-ish vector emitted by a
    * broken encoder, the realistic skew case) collapses to one rep before
    * any bucket exists. Identical embeddings give identical signatures and
    * identical cosines, so the output equals the per-vector formulation,
    * which is exactly what the DuckDB oracle computes.
    */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    // the pair frame is the shared substrate of the embedding near-dup
    // family (q78 output, q128 degree diagnostic, q129 clusters) — build
    // once per session+dir, like the text-LSH substrate in Dedup
    graft.SessionCache.cached(s, s"sim:pairs:$dir")(buildEmbeddingNearDup(s, dir))
  }

  /** Byte-identity vector groups (exact-dup top-off substrate). The group
    * SHUFFLE is keyed on a 96-bit hash pair of the vector (xxhash64 +
    * murmur3), not the 256-byte float array itself — collision odds
    * ~n^2/2^96 are immaterial, and the exchange sorts/compares 12-byte
    * keys. One representative embedding per unique key still crosses the
    * wire (the `first` partial agg) — intrinsic, the LSH needs it. The
    * hash pair stays as (`k1`, `k2`): it is the screen's digest key.
    */
  private[graft] def vecGroups(vecs: DataFrame): DataFrame =
    vecs.groupBy(xxhash64(col("embedding")).as("k1"), hash(col("embedding")).as("k2"))
      .agg(min(col("vec_id")).as("gid"), collect_list(col("vec_id")).as("ids"),
           first(col("embedding")).as("embedding"))

  /** Banded sign-LSH rows for a (vec_id, embedding, nrm) rep frame: one row
    * per (rep, band) with the band's bucket id. Shared by the q78 pair
    * build and the q140 index/batch sides — the bit width is ALWAYS the
    * index side's (an index property, not a per-batch one).
    */
  private def signBands(reps: DataFrame, bits: Int): DataFrame = {
    val nH = LshBands * bits
    val ws = hyperplaneWeights(nH)
    val dots = (0 until nH).map { j =>
      expr(s"aggregate(zip_with(embedding, array(${ws(j).mkString(",")}), " +
        "(x, w) -> CAST(x AS DOUBLE) * (CAST(w AS DOUBLE) / 1000.0)), " +
        "CAST(0 AS DOUBLE), (acc, p) -> acc + p)").as(s"d$j")
    }
    val withDots = reps.select(col("vec_id") +: col("embedding") +: col("nrm") +: dots: _*)
    val bucketStructs = (0 until LshBands).map { k =>
      val bk = (0 until bits)
        .map(i => s"(CASE WHEN d${k * bits + i} >= 0 THEN ${1L << i}L ELSE 0L END)")
        .mkString(" + ")
      s"struct($k AS band, $bk AS bucket)"
    }
    withDots.select(col("vec_id"), col("embedding"), col("nrm"),
        explode(expr(s"array(${bucketStructs.mkString(", ")})")).as("bs"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("bs.band").as("band"), col("bs.bucket").as("bucket"))
  }

  private def buildEmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val bits = lshBits(base.count())
    val groups = graft.SessionCache.cached(s, s"sim:grp:$dir")(
      vecGroups(base).drop("k1", "k2"))
    val reps = withNorm(groups.select(col("gid").as("vec_id"), col("embedding")))
    val bands = signBands(reps, bits)
    val a = bands.select(col("vec_id").as("ga"), col("embedding").as("qemb"),
      col("nrm").as("na"), col("band"), col("bucket"))
    val c = bands.select(col("vec_id").as("gb"), col("embedding").as("vemb"),
      col("nrm").as("nb"), col("band"), col("bucket"))
    val repPairs = a.join(c, Seq("band", "bucket"))
      .filter(col("ga") < col("gb"))
      .select(col("ga"), col("gb"), col("qemb"), col("vemb"), col("na"), col("nb"))
      .dropDuplicates("ga", "gb") // a pair may collide in several bands
      .withColumn("cosim0", dotExpr / (col("na") * col("nb")))
      .select(col("ga"), col("gb"), round(col("cosim0"), 9).as("cosim"))
    val cross = Dedup.expandPairs(repPairs, Dedup.membersOf(groups))
      .select(col("da"), col("db"), col("cosim"))
    // intra-group pairs: cosine of a vector with itself, through the SAME
    // arithmetic as the oracle (not a literal 1.0, so degenerate vectors
    // behave identically on both engines)
    val selfCos = reps.select(col("vec_id").as("gid"),
      round(expr("graft_dot(embedding, embedding)") / (col("nrm") * col("nrm")), 9).as("cosim"))
    val self = Dedup.selfPairs(
        groups.select(col("gid"), col("ids")).join(selfCos, "gid"))
      .select(col("da"), col("db"), col("cosim"))
    cross.unionByName(self)
      .select(col("da"), col("db"), col("cosim"), (col("cosim") >= 0.8).as("is_dup"))
  }

  /** The vector index's stored bit width — an index property every probe
    * must reuse verbatim, never re-derived from a batch. */
  private def bitsOf(meta: Map[String, String]): Int =
    meta.getOrElse("bits", throw new IllegalStateException("vec index has no bits meta")).toInt

  /** The sign-LSH vector screen as an [[LshScreen]], the text screen's
    * vector form: the two-long byte digest (`k1`, `k2`; the sidecar key
    * `k1#k2`), rep vectors with norms (`reps`), [[LshBands]] sign-LSH
    * bands at the bit width derived from corpus size at build and stored
    * as `bits` meta, and near = band collision verified at rounded cosine
    * >= 0.8 (q78's production threshold). Its fixture store is the
    * embeddings corpus, stamped with the bare source stamp. */
  val VecScreen: LshScreen[VecIndex] = LshScreen(
    id = "vec_id",
    groups = vecGroups,
    keys = Seq("k1" -> xxhash64(col("embedding")), "k2" -> hash(col("embedding"))),
    bloomKey = concat_ws("#", col("k1"), col("k2")),
    repTable = "reps",
    reps = g => withNorm(g.select(col("gid").as("vec_id"), col("embedding"))),
    bands = (r, m) => signBands(r, bitsOf(m)).select(col("vec_id"), col("band"), col("bucket")),
    bandCols = Seq("band", "bucket"),
    cap = None,
    near = round(dotOf("a_embedding", "b_embedding") / (col("a_nrm") * col("b_nrm")), 9) >= 0.8,
    meta = c => Map("bits" -> lshBits(c.count()).toString),
    index = (d, r, b, m) => VecIndex(d, r, b, bitsOf(m)),
    store = "vec_",
    source = "embeddings.parquet",
    stampTag = "",
    corpus = (s, dir) => table(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
    extra = _ => Nil,
    loopStore = "vidx_loop_",
    loopTag = "vecloop1|",
    cachedLoop = false)

  /** The deterministic synthetic arrival batch of the q140/q144 rigs:
    * byte-copies (+100000, exact tier), 2x-scaled copies (+200000, near
    * tier — power-of-two scaling is float-exact and sign-preserving),
    * negated vectors (+300000, accept tier). */
  private[graft] def syntheticVecBatch(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    base.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .unionByName(base.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 200000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))")
            .as("embedding")))
      .unionByName(base.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 300000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(-x AS FLOAT))").as("embedding")))
  }

  /** Per-slice admission rollup shared by q140 and the streaming q144
    * (which MUST agree with it row-for-row). */
  private[graft] def vecScreenSummary(decisions: DataFrame): DataFrame =
    LshScreen.tally(decisions.groupBy(expr("vec_id div 100000").as("slice")),
      "n", "n_exact", "n_near", "n_accept")

  /** Incremental embedding screening — q131's pattern for the vector side:
    * new vectors arriving at ingest are classified against a FROZEN
    * sign-LSH index as exact duplicates (byte-identical to a corpus
    * vector), near duplicates (band collision with a corpus rep verified
    * at cosine >= 0.8, q78's production threshold), or accepted. The
    * index — corpus byte-digest set, rep norms, band rows — is PERSISTED
    * as parquet signature tables ([[IndexStore]]) and
    * loaded thereafter, so "corpus never re-bucketed" holds across
    * process restarts, not just across queries; per-batch cost is the
    * batch's own signatures plus two equi-joins.
    *
    * The synthetic batch exercises every tier DETERMINISTICALLY:
    * byte-copies (+100000, exact), 2x-scaled copies (+200000 — scaling
    * by a power of two is float-EXACT, preserves every sign-LSH bit and
    * yields cosine exactly 1.0, so the near tier fires by construction),
    * and negated vectors (+300000 — every hyperplane sign flips, so the
    * copy never meets its own source; cosine to anything it does meet is
    * the negated original, far below 0.8 on this fixture). The bit width
    * comes from the CORPUS size (an index property), exactly as the
    * oracle derives it.
    */
  def embeddingScreen(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    vecScreenSummary(VecScreen.screenFixture(s, dir, syntheticVecBatch(s, dir)))
  }

  /** The vector family's full ingest LOOP, oracled end-to-end — q143's
    * twin: screen batch 1 against the persisted fixture index, BRANCH
    * the index (pure file copy), refresh the branch with the vectors
    * batch 1 accepted ([[LshScreen.refresh]] appends their digests, reps,
    * and band rows), then screen batch 2 — byte-copies of batch 1,
    * vec_id + 400000 — against the refreshed branch. The sequencing is
    * observable: copies of ACCEPTED batch-1 vectors (the negated
    * family) now screen `exact`, while copies of rejected ones
    * re-classify exactly as their originals did. The DuckDB oracle
    * recomputes both stages from scratch, index mutation included
    * (its refreshed index carries per-doc entries where the engine
    * appends one rep per unique vector — decision sets are identical,
    * the same equivalence the q143 oracle uses).
    */
  def screenVecLoop(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val b1 = syntheticVecBatch(s, dir)
    val b2 = b1.select((col("vec_id") + 400000L).as("vec_id"), col("embedding"))
    // warm-substrate convention (VERDICT r15 item 6, q143's twin): the
    // branch copy + refresh land once per (process, corpus) behind a
    // stamp; the recurring benched cost is the two delta-sized screens,
    // with batch 2 served from the DURABLE refreshed branch.
    VecScreen.loop(s, dir, b1, b2)((d, _) => vecScreenSummary(d))
  }

  /** Oracle CTEs shared by the vector screens (q140/q145/q149): the
    * corpus `base`, the synthetic arrival batch ([[syntheticVecBatch]])
    * as `batch`, the bit width `bits` from corpus size, the hyperplanes
    * `H`, and the corpus side `c` of [[vecSideSql]]. */
  private def vecScreenCtes(batch: String): String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
       |$batch AS (
       |  SELECT vec_id + 100000 AS vec_id, embedding FROM base WHERE vec_id % 5 = 0
       |  UNION ALL
       |  SELECT vec_id + 200000, list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))
       |  FROM base WHERE vec_id % 7 = 0
       |  UNION ALL
       |  SELECT vec_id + 300000, list_transform(embedding, x -> CAST(-x AS FLOAT))
       |  FROM base WHERE vec_id % 11 = 0),
       |bits AS (SELECT CAST(least(24, greatest(8, ceil(log2(COUNT(*))))) AS INT) AS b
       |         FROM base),
       |H AS (SELECT j, pos,
       |        (('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(pos AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000) AS w
       |      FROM range(96) t(j), range(1, 65) p(pos)
       |      WHERE j < $LshBands * (SELECT b FROM bits)),
       |${vecSideSql("c", "base")}""".stripMargin

  /** The oracle's rep norms and sign-LSH bands of the vectors in `src`:
    * `flat_<side>` elements, `norms_<side>`, hyperplane `dots_<side>` and
    * band `buckets_<side>`. */
  private def vecSideSql(side: String, src: String): String =
    s"""flat_$side AS (
       |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS xd
       |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding)+1)) AS i
       |        FROM $src)),
       |norms_$side AS (
       |  SELECT vec_id, sqrt(CAST(SUM(CAST(xd*xd AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
       |  FROM flat_$side GROUP BY vec_id),
       |dots_$side AS (SELECT f.vec_id, h.j,
       |    CAST(SUM(CAST(f.xd * (CAST(h.w AS DOUBLE) / 1000.0) AS DECIMAL(38,20))) AS DOUBLE) AS d
       |  FROM flat_$side f JOIN H h ON f.pos = h.pos
       |  GROUP BY f.vec_id, h.j),
       |buckets_$side AS (SELECT vec_id, j // (SELECT b FROM bits) AS band,
       |    CAST(SUM(CASE WHEN d >= 0 THEN (1::BIGINT << (j % (SELECT b FROM bits))) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots_$side GROUP BY vec_id, j // (SELECT b FROM bits))""".stripMargin

  private val screenVecLoopSql = {
    def summaryOf(name: String, tag: String, newb: String, exact: String, near: String) =
      s"""$name AS (
         |  SELECT '$tag' AS batch, n.vec_id // 100000 AS slice, COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
         |  CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
         |  FROM $newb n
         |  LEFT JOIN $exact e ON e.nid = n.vec_id
         |  LEFT JOIN $near nr ON nr.nid = n.vec_id
         |  GROUP BY 2)""".stripMargin
    s"""${vecScreenCtes("newb1")},
       |newb2 AS (SELECT vec_id + 400000 AS vec_id, embedding FROM newb1),
       |${vecSideSql("n1", "newb1")},
       |${vecSideSql("n2", "newb2")},
       |exact1 AS (SELECT DISTINCT n.vec_id AS nid
       |           FROM newb1 n JOIN base c ON n.embedding = c.embedding),
       |cand1 AS (SELECT DISTINCT n.vec_id AS nid, c.vec_id AS cid
       |          FROM buckets_n1 n JOIN buckets_c c
       |          ON n.band = c.band AND n.bucket = c.bucket),
       |pd1 AS (SELECT p.nid, p.cid,
       |          CAST(SUM(CAST(x.xd * y.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |        FROM cand1 p
       |        JOIN flat_n1 x ON x.vec_id = p.nid
       |        JOIN flat_c y ON y.vec_id = p.cid AND y.pos = x.pos
       |        GROUP BY p.nid, p.cid),
       |near1 AS (SELECT DISTINCT pd1.nid FROM pd1
       |          JOIN norms_n1 a ON a.vec_id = pd1.nid
       |          JOIN norms_c b ON b.vec_id = pd1.cid
       |          WHERE round(pd1.dot / (a.nrm * b.nrm), 9) >= 0.8),
       |acc1 AS (SELECT vec_id FROM newb1
       |         WHERE vec_id NOT IN (SELECT nid FROM exact1)
       |           AND vec_id NOT IN (SELECT nid FROM near1)),
       |flat_idx AS (SELECT * FROM flat_c
       |             UNION ALL
       |             SELECT f.* FROM flat_n1 f JOIN acc1 a ON a.vec_id = f.vec_id),
       |norms_idx AS (SELECT * FROM norms_c
       |              UNION ALL
       |              SELECT f.* FROM norms_n1 f JOIN acc1 a ON a.vec_id = f.vec_id),
       |buckets_idx AS (SELECT * FROM buckets_c
       |                UNION ALL
       |                SELECT f.* FROM buckets_n1 f JOIN acc1 a ON a.vec_id = f.vec_id),
       |exact2 AS (SELECT DISTINCT n.vec_id AS nid
       |           FROM newb2 n JOIN base c ON n.embedding = c.embedding
       |           UNION
       |           SELECT DISTINCT n.vec_id
       |           FROM newb2 n
       |           JOIN newb1 m ON m.embedding = n.embedding
       |           JOIN acc1 a ON a.vec_id = m.vec_id),
       |cand2 AS (SELECT DISTINCT n.vec_id AS nid, c.vec_id AS cid
       |          FROM buckets_n2 n JOIN buckets_idx c
       |          ON n.band = c.band AND n.bucket = c.bucket),
       |pd2 AS (SELECT p.nid, p.cid,
       |          CAST(SUM(CAST(x.xd * y.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |        FROM cand2 p
       |        JOIN flat_n2 x ON x.vec_id = p.nid
       |        JOIN flat_idx y ON y.vec_id = p.cid AND y.pos = x.pos
       |        GROUP BY p.nid, p.cid),
       |near2 AS (SELECT DISTINCT pd2.nid FROM pd2
       |          JOIN norms_n2 a ON a.vec_id = pd2.nid
       |          JOIN norms_idx b ON b.vec_id = pd2.cid
       |          WHERE round(pd2.dot / (a.nrm * b.nrm), 9) >= 0.8),
       |${summaryOf("s1", "b1", "newb1", "exact1", "near1")},
       |${summaryOf("s2", "b2", "newb2", "exact2", "near2")}
       |SELECT * FROM s1 UNION ALL SELECT * FROM s2""".stripMargin
  }

  private[graft] val embeddingScreenSql = {
    s"""${vecScreenCtes("newb")},
       |${vecSideSql("n", "newb")},
       |exact_g AS (SELECT DISTINCT n.vec_id AS nid
       |            FROM newb n JOIN base c ON n.embedding = c.embedding),
       |cand AS (SELECT DISTINCT n.vec_id AS nid, c.vec_id AS cid
       |         FROM buckets_n n JOIN buckets_c c
       |         ON n.band = c.band AND n.bucket = c.bucket),
       |pd AS (SELECT p.nid, p.cid,
       |         CAST(SUM(CAST(x.xd * y.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |       FROM cand p
       |       JOIN flat_n x ON x.vec_id = p.nid
       |       JOIN flat_c y ON y.vec_id = p.cid AND y.pos = x.pos
       |       GROUP BY p.nid, p.cid),
       |near_g AS (SELECT DISTINCT pd.nid FROM pd
       |           JOIN norms_n a ON a.vec_id = pd.nid
       |           JOIN norms_c b ON b.vec_id = pd.cid
       |           WHERE round(pd.dot / (a.nrm * b.nrm), 9) >= 0.8)
       |SELECT n.vec_id // 100000 AS slice, COUNT(*) AS n,
       |CAST(SUM(CASE WHEN e.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       |CAST(SUM(CASE WHEN e.nid IS NULL AND nr.nid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
       |FROM newb n
       |LEFT JOIN exact_g e ON e.nid = n.vec_id
       |LEFT JOIN near_g nr ON nr.nid = n.vec_id
       |GROUP BY 1""".stripMargin
  }

  /** q149: q140's screen with the bloom sidecar's negative fast path on
    * the exact tier, audited per-vector against the plain probe in the
    * same frame — [[graft.operators.Dedup.bloomScreen]]'s vector twin,
    * so the sidecar contract (decisions identical, join input shrinks)
    * holds symmetrically for both screening families. */
  def vecBloomScreen(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    VecScreen.bloomAudit(s, dir, syntheticVecBatch(s, dir))(vecScreenSummary)
  }

  private val vecBloomScreenSql =
    s"SELECT t.*, TRUE AS bloom_equals_plain FROM ($embeddingScreenSql) t"

  /** CTE block ending in `pcs(da, db, cosim)` — the rounded cosine pair
    * frame shared by q78/q128/q129 oracles (mirror of the session-cached
    * Spark substrate).
    */
  private val embPairCtes =
    s"""$flatSql,
       |$normsSql,
       |bits AS (SELECT CAST(least(24, greatest(8, ceil(log2(COUNT(*))))) AS INT) AS b
       |         FROM embeddings),
       |H AS (SELECT j, pos,
       |        (('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(pos AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000) AS w
       |      FROM range(96) t(j), range(1, 65) p(pos)
       |      WHERE j < $LshBands * (SELECT b FROM bits)),
       |dots AS (SELECT f.vec_id, h.j,
       |           CAST(SUM(CAST(f.xd * (CAST(h.w AS DOUBLE) / 1000.0) AS DECIMAL(38,20))) AS DOUBLE) AS d
       |         FROM flat f JOIN H h ON f.pos = h.pos
       |         GROUP BY f.vec_id, h.j),
       |buckets AS (SELECT vec_id, j // (SELECT b FROM bits) AS band,
       |              CAST(SUM(CASE WHEN d >= 0 THEN (1::BIGINT << (j % (SELECT b FROM bits))) ELSE 0 END) AS BIGINT) AS bucket
       |            FROM dots GROUP BY vec_id, j // (SELECT b FROM bits)),
       |pairs AS (SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
       |          FROM buckets a JOIN buckets b
       |          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |pd AS (SELECT p.da, p.db,
       |         CAST(SUM(CAST(x.xd * y.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |       FROM pairs p
       |       JOIN flat x ON x.vec_id = p.da
       |       JOIN flat y ON y.vec_id = p.db AND y.pos = x.pos
       |       GROUP BY p.da, p.db),
       |pcs AS (SELECT da, db, round(cosim, 9) AS cosim
       |        FROM (SELECT pd.da, pd.db, pd.dot / (na.nrm * nb.nrm) AS cosim
       |              FROM pd JOIN norms na ON na.vec_id = pd.da JOIN norms nb ON nb.vec_id = pd.db))""".stripMargin

  private val embeddingNearDupSql =
    s"""WITH $embPairCtes
       |SELECT da, db, cosim, cosim >= 0.8 AS is_dup FROM pcs""".stripMargin

  /** The diagnostic graph's edge threshold. The fixture embeddings are
    * (by design) near-uniform random vectors — LSH-colliding pairs top out
    * near cosim 0.5 and q78's is_dup=0.8 production threshold matches
    * nothing — so the rollout diagnostics read the top of the actual
    * candidate distribution instead of an empty graph. On a real corpus
    * this knob IS the production threshold.
    */
  private val DiagThreshold = 0.25

  /** Embedding near-dup degree histogram (q128) — the embedding-family
    * analog of q127's text diagnostic: how many vectors have k near-dup
    * neighbors in the cosine graph (cosim >= [[DiagThreshold]], NOT q78's
    * is_dup=0.8 — see the design note above). One groupBy over the
    * session-cached q78 pair frame, no new shuffle shape.
    */
  def embeddingDegreeHistogram(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val pairs = embeddingNearDup(s, dir).filter(col("cosim") >= DiagThreshold)
      .select(col("da"), col("db"))
    val deg = pairs.select(col("da").as("d"))
      .unionByName(pairs.select(col("db").as("d")))
      .groupBy(col("d")).agg(count(lit(1)).as("k"))
    deg.groupBy(col("k"))
      .agg(count(lit(1)).as("n_vecs"), min(col("d")).as("min_vec"))
  }

  private val embeddingDegreeHistogramSql =
    s"""WITH $embPairCtes,
       |dup AS (SELECT da, db FROM pcs WHERE cosim >= $DiagThreshold),
       |deg AS (SELECT d, COUNT(*) AS k FROM (
       |          SELECT da AS d FROM dup UNION ALL SELECT db FROM dup)
       |        GROUP BY d)
       |SELECT k, COUNT(*) AS n_vecs, MIN(d) AS min_vec
       |FROM deg GROUP BY k""".stripMargin

  /** Embedding near-dup clusters (q129) — the embedding-family analog of
    * q90's text cluster formation: connected components over the cosine
    * near-dup graph at [[DiagThreshold]] (0.25, NOT q78's is_dup=0.8: the
    * fixture's near-uniform random vectors never reach 0.8, so clusters
    * form at the diagnostic threshold — on a real corpus this knob is the
    * production threshold), per-cluster canonical pick. Reuses the shared
    * [[graft.operators.Dedup.connectedComponents]] two-tier engine over
    * the session-cached q78 pair frame.
    */
  def embeddingClusters(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val pairs = embeddingNearDup(s, dir).filter(col("cosim") >= DiagThreshold)
      .select(col("da"), col("db"))
    Dedup.connectedComponents(pairs)
      .groupBy(col("lab").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
           min(col("n")).as("min_vec"),
           max(col("n")).as("max_vec"))
  }

  private val embeddingClustersSql =
    s"""WITH RECURSIVE $embPairCtes,
       |dup AS (SELECT da, db FROM pcs WHERE cosim >= $DiagThreshold),
       |edges AS (SELECT da AS n, db AS m FROM dup UNION SELECT db, da FROM dup),
       |reach(n, lab) AS (
       |  SELECT n, n FROM (SELECT DISTINCT n FROM edges)
       |  UNION
       |  SELECT e.n, r.lab FROM edges e JOIN reach r ON r.n = e.m),
       |labels AS (SELECT n, MIN(lab) AS lab FROM reach GROUP BY n)
       |SELECT lab AS cluster_id, COUNT(*) AS n_members,
       |MIN(n) AS min_vec, MAX(n) AS max_vec
       |FROM labels GROUP BY lab""".stripMargin

  /** Symmetric int8 quantization of the embedding column — the storage
    * compression step an embedding lake actually runs (4x smaller than
    * float32) — with per-vector absmax scaling and exact reconstruction
    * error accounting. Entirely row-local double arithmetic; rounding is
    * spelled floor(x*scale + 0.5) explicitly so both engines compute
    * bit-identical quantized values and errors (library round() ties
    * differ across engines: HALF_UP vs HALF_EVEN).
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("mx", expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"))
      .filter(col("mx") > 0)
      .withColumn("scale", expr("CAST(127 AS DOUBLE) / mx"))
      .withColumn("maxerr", expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE) - " +
          "greatest(CAST(-127 AS DOUBLE), least(CAST(127 AS DOUBLE), " +
          "floor(CAST(x AS DOUBLE) * scale + 0.5D))) / scale)))"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           round(davg(col("maxerr"), 12), 9).as("avg_maxerr"),
           round(max(col("maxerr")), 9).as("worst_err"))
  }

  private val quantizeInt8Sql =
    s"""WITH f AS (
       |  SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS xd
       |  FROM (SELECT vec_id, label, embedding, unnest(range(1, len(embedding)+1)) AS i
       |        FROM embeddings)),
       |m AS (SELECT vec_id, MAX(abs(xd)) AS mx FROM f GROUP BY vec_id),
       |sc AS (SELECT vec_id, CAST(127 AS DOUBLE) / mx AS scale FROM m WHERE mx > 0),
       |err AS (
       |  SELECT f.vec_id, f.label,
       |    MAX(abs(f.xd - greatest(CAST(-127 AS DOUBLE), least(CAST(127 AS DOUBLE),
       |        floor(f.xd * s.scale + 0.5))) / s.scale)) AS maxerr
       |  FROM f JOIN sc s USING (vec_id) GROUP BY f.vec_id, f.label)
       |SELECT label, COUNT(*) AS n_vecs,
       |round(${DAVG("maxerr", 12)}, 9) AS avg_maxerr,
       |round(MAX(maxerr), 9) AS worst_err
       |FROM err GROUP BY label""".stripMargin

  /** Array/vector column breadth (F16): structural access to the embedding
    * column — dims, first/last elements — no float arithmetic, so values
    * pass through from parquet bit-identically.
    */
  def arrayOps(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_x"),
        element_at(col("embedding"), -1).as("last_x"))
  }

  private val arrayOpsSql =
    """SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
      |embedding[1] AS first_x, embedding[-1] AS last_x
      |FROM embeddings""".stripMargin

  /** Higher-order-function breadth (F16/X3): filter / exists / forall /
    * transform over the embedding arrays — the lambda surface for array
    * columns beyond the dot-product fold (which DotProductRewrite lowers
    * to the native kernel).
    */
  def hofOps(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    table(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
        // compare in double on both engines: 0.15 has no exact float, and a
        // float-vs-double threshold flips for values inside the gap
        expr("exists(embedding, x -> CAST(x AS DOUBLE) > 0.15D)").as("any_big"),
        expr("forall(embedding, x -> abs(x) < 1)").as("all_small"),
        expr("CAST(element_at(transform(embedding, x -> x * CAST(2 AS FLOAT)), 1) AS DOUBLE)").as("first_doubled"))
      .filter(col("vec_id") % 10 === 0)
  }

  private val hofOpsSql =
    """SELECT vec_id,
      |CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
      |len(list_filter(embedding, x -> x > 0.15)) > 0 AS any_big,
      |len(list_filter(embedding, x -> abs(x) < 1)) = len(embedding) AS all_small,
      |CAST(embedding[1] AS DOUBLE) * 2 AS first_doubled
      |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin

  // ---- q236: manifest symmetry — the ops DESCRIBE surface for every
  // serving store beside search (VERDICT r15 item 3; q235 covers search) ----

  /** q236: one row per (family, table, cardinality) across every OTHER
    * serving store — dedup/IVF/PQ, the kNN graph, its np2 serving
    * branch, and the mixing admission policy store — the structural
    * audit a deployment runs over ALL its indexes, not just search
    * (q235). Tables are enumerated from
    * each store's own directory listing, minus the documented OPTIONAL
    * sidecars (bloom blobs and delete masks exist only when their
    * workload ran — their audits live with their own queries q147/
    * q231–q234); a core table the build forgot, or a stray extra one,
    * changes the ROW SET. Every count is oracled from the raw corpus /
    * embeddings: digests are the fixture corpus's distinct texts, sigs
    * the shingled reps, bands the per-bucket-capped LSH rows, keys the
    * member rows; assign is one row per vector, centroids the sqrt-N
    * seed pick; codes is M rows per vector, codebooks the codewords the
    * Lloyd rounds left populated. Cost at scale: metadata listings plus
    * one map-side-collapsed count per table. */
  def storeManifests(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val dedupPath = graft.operators.Dedup.ensureCorpusIndex(s, dir)
    corpusIvfIndex(s, dir)
    corpusPqIndex(s, dir)
    // the fifth serving family (VERDICT r16 item 3): the persisted
    // kNN-graph store joins the manifest — its edge count is the q239
    // graph's cardinality, re-derived from raw embeddings by the oracle
    val knngPath = knnGraphStore(s, dir)
    // round-18 additions: the np2 SERVING branch (q253's substrate — its
    // edge count is the widened q247 build, re-derived by the oracle) and
    // the mixing admission policy store (q258's substrate — corpus
    // digests + per-source rates, re-derived from the raw corpus)
    val knng2Path = knnGraphNp2Store(s, dir)
    val mixadmPath = graft.operators.ScaleOps.mixAdmitStore(s, dir)
    val optional = Set("bloom", IndexStore.DeleteMaskTable,
      "mask_gone", "mask_reps", "mask_stale")
    def rows(family: String, path: String): Seq[DataFrame] =
      IndexStore.tableNames(s, path).filterNot(optional)
        .map(t => IndexStore.read(s, path, t)
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(family).as("family"), lit(t).as("tbl"), col("n_rows")))
    (rows("dedup", dedupPath) ++
      rows("ivf", fixtureIvfIndexPath(dir)) ++
      rows("pq", fixturePqIndexPath(dir)) ++
      rows("knng", knngPath) ++
      rows("knng2", knng2Path) ++
      rows("mixadm", mixadmPath))
      .reduce(_ unionByName _)
  }

  /** q236's oracle: every table's cardinality re-derived from raw data —
    * the dedup counts ride the corpus-side signature chain the q131
    * oracle uses; the PQ codebook count re-runs the Lloyd rounds and
    * counts the surviving (code, j) cells. */
  private val storeManifestsSql = {
    import graft.operators.Dedup.{augmentedDocsSql, sideSigsSql, BandCap}
    s"""WITH $augmentedDocsSql,
       |corpus AS (SELECT * FROM docs WHERE doc_id < 100000),
       |rep_cor AS (SELECT MIN(doc_id) AS doc_id, text FROM corpus GROUP BY text),
       |${sideSigsSql("cor")},
       |$flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$knnGChainSql,
       |$knnNp2ChainSql,
       |$pqSubSql,
       |$pqCwSql
       |SELECT 'dedup' AS family, 'bands' AS tbl,
       |       (SELECT CAST(SUM(LEAST(c, $BandCap)) AS BIGINT)
       |        FROM (SELECT band, bk, COUNT(*) AS c FROM bands_cor GROUP BY band, bk)) AS n_rows
       |UNION ALL SELECT 'dedup', 'digests',
       |       (SELECT CAST(COUNT(DISTINCT text) AS BIGINT) FROM corpus)
       |UNION ALL SELECT 'dedup', 'keys',
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus)
       |UNION ALL SELECT 'dedup', 'sigs',
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM sigs_cor)
       |UNION ALL SELECT 'ivf', 'assign',
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
       |UNION ALL SELECT 'ivf', 'centroids',
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
       |        WHERE vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) = 0)
       |UNION ALL SELECT 'pq', 'codebooks',
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT DISTINCT code, j FROM pcw))
       |UNION ALL SELECT 'pq', 'codes',
       |       (SELECT CAST($PqM * COUNT(*) AS BIGINT) FROM embeddings)
       |UNION ALL SELECT 'knng', 'edges',
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM g)
       |UNION ALL SELECT 'knng2', 'edges',
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM g2)
       |UNION ALL SELECT 'mixadm', 'digests',
       |       (SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) FROM documents)
       |UNION ALL SELECT 'mixadm', 'rates',
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM (
       |          SELECT source FROM (
       |            SELECT source,
       |                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
       |            FROM documents) WHERE NOT is_dup GROUP BY source))""".stripMargin
  }

  // ---- q239: kNN-graph construction (VERDICT r15 item 7) ----

  /** q239: the corpus's k-nearest-neighbor GRAPH — every vector's top-3
    * cosine neighbors, not a fixed probe set's (q64/q184 serve probes;
    * this is the curation structure SemDeDup clustering quality,
    * diversity analysis, and graph-based filtering consume). Candidates
    * are IVF-CELL-SCOPED from the persisted q184 assignment — pair
    * volume is Σ cell², the q186 shape, never corpus² — and the salted
    * cell join ([[saltedCellJoin]], VERDICT r16 item 2) bounds PER-TASK
    * pair volume too, so a skewed mega-cell spreads over ceil(g²/target)
    * tasks instead of serializing through one. Singleton cells contribute no rows (their
    * vector has no in-cell neighbor), which the oracle reproduces; a
    * recall-complete deployment would probe adjacent cells exactly like
    * q184's multi-probe serving path, the same trade SemDeDup documents.
    * Cosines gate on the rounded value (q186 pattern) so the fold-order
    * ulp can't flip a rank cross-engine. */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    knnGraphFrame(s, dir)
      .select(col("src").as("vec_id"), col("nbr"), col("cosim"), col("rn"))
  }

  /** The cell-scoped top-3 neighbor frame (src, nbr, cosim, rn) shared
    * by q239 and the q240 mutual-kNN symmetrization.
    *
    * `spark.graft.knn.nprobe` (default 1) is the recall dial for the
    * graph: at P>1 each SOURCE gathers candidates from its top-P coarse
    * cells (re-derived against the broadcast STORED centroids — the
    * q200 nprobe pattern), which closes the singleton-cell recall hole
    * (a vector alone in its cell gets neighbors from its next-nearest
    * cells) at P× the pair volume. Default 1 keeps the oracled,
    * plan-locked stored-assignment path byte-identical; the widened
    * mode is spec-covered (never worsens any vector's best neighbor,
    * never loses a default-mode edge — SimilaritySpec). */
  private def knnGraphFrame(s: SparkSession, dir: String): DataFrame =
    knnGraphFrameNp(s, dir,
      s.conf.getOption("spark.graft.knn.nprobe").map(_.toInt).getOrElse(1))

  /** [[knnGraphFrame]] with the probe width as an EXPLICIT parameter —
    * the q247 registered widened graph passes 2 directly instead of
    * mutating the session knob (the ADVICE r16 concurrency rule: build
    * parameters travel as parameters). */
  private[graft] def knnGraphFrameNp(s: SparkSession, dir: String, np: Int): DataFrame = {
    val (cents, assign) = corpusIvfIndex(s, dir)
    knnGraphFrameNpOn(cents, assign, np)
  }

  /** [[knnGraphFrameNp]] over an explicit (centroids, assignment) pair —
    * refined-quantizer edges (PLANS.md "Round-20: the Lloyd-refined
    * quantizer measured") are built through this. */
  private[graft] def knnGraphFrameNpOn(cents: DataFrame, assign: DataFrame,
      np: Int): DataFrame = {
    val a = assign.select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
    val w = Window.partitionBy(col("src"))
      .orderBy(round(col("cosim0"), 9).desc, col("nbr"))
    if (np <= 1) {
      cellGraph(a)
    } else {
      // top-P cells per source against the broadcast stored centroids
      // (same metric + tie-break as the stored assignment, so P=2's cell
      // set is a superset of the stored cell). Candidate pairs need NO
      // dedup: IVF cells PARTITION the corpus (assignment is argmax with
      // a total tie-break), so a neighbor belongs to exactly one probed
      // cell and each (src, nbr) meets once — the widened build is one
      // salted cell join with the source embedding carried along, the
      // cellGraphFor shape with probed (not home) cells on the left
      val srcCells = topCells(a.select(col("vec_id"), col("embedding"), col("nrm")), cents, np)
        .select(col("vec_id").as("src"), col("cid"), col("embedding").as("qemb"),
          col("nrm").as("nq"))
      saltedCellJoin(srcCells,
          a.select(col("cid"), col("vec_id").as("nbr"),
            col("embedding").as("vemb"), col("nrm").as("nv")), "nbr")
        .filter(col("src") =!= col("nbr"))
        .withColumn("cosim0", dotExpr / (col("nq") * col("nv")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("src"), col("nbr"), round(col("cosim0"), 9).as("cosim"), col("rn"))
    }
  }

  /** The cell-scoped top-3 edges of an arbitrary `(cid, vec_id,
    * embedding, nrm)` membership frame — the graph core under the q239
    * default path, the q244 sync store's build, and any caller with its
    * own population. Per-task pair volume is bounded by the salted join
    * ([[saltedCellJoin]] — VERDICT r16 item 2). */
  private def cellGraph(a: DataFrame): DataFrame = cellGraphFor(a, a)

  /** Target in-cell pair rows per task for the kNN-graph joins — the
    * [[graft.operators.Dedup.selfPairTarget]] dial for the vector
    * family, sized down because each pair costs a 64-dim dot product,
    * not a comparison. Configurable so the flood spec can exercise the
    * scaling law at fixture scale. */
  private[graft] def knnPairTarget(s: SparkSession): Long =
    s.conf.get("spark.graft.knn.targetPairsPerTask", "4000000").toLong

  /** Salted in-cell candidate join — the q239 family's skew guard
    * (VERDICT r16 item 2, the [[graft.operators.Dedup.selfPairs]]
    * pattern keyed by IVF cell). `u.join(v, Seq("cid"))` routes a whole
    * cell's pair volume through ONE task: with balanced ~sqrt(N) cells
    * that is the standard IVF budget, but a skewed mega-cell (the
    * boilerplate-flood shape q196's capped SemDeDup exists for) makes
    * one cell's cell² dominate a single task. Here `right` (the
    * candidate membership) lands in bucket pmod(id, nb) within its
    * cell; `left` (the sources) replicates to every bucket and is
    * REPARTITIONED on (cid, bucket) with an explicit partition count
    * (AQE sizes coalescing from the tiny pre-join map output and cannot
    * see the cell² expansion behind it). Each (src, nbr) pair meets
    * exactly once — results are BIT-IDENTICAL to the unsalted join, so
    * every oracle is unchanged; what changes is that a cell of size g
    * spreads over nb = ceil(g²/target) tasks, bounding per-task pairs
    * at ~[[knnPairTarget]] for any g (when `left` is a subset of the
    * membership, the repair/arrival legs' case, the bound only
    * tightens). nb is 1 below the target — small cells pay one
    * kilobyte-scale size-lookup broadcast and nothing else. The bucket
    * count sizing costs one driver-side max() over the ~K-row cell-size
    * frame (metadata-scale, the selfPairs precedent). */
  private[graft] def saltedCellJoin(left: DataFrame, right: DataFrame,
      rightIdCol: String): DataFrame = {
    val reserved = Set("__kg", "__knb", "__kbkt")
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"saltedCellJoin reserves columns ${reserved.mkString(", ")}")
    val s = left.sparkSession
    val target = knnPairTarget(s).toDouble
    val gCol = col("__kg").cast("double")
    val sz = right.groupBy(col("cid")).agg(count(lit(1)).as("__kg"))
      .withColumn("__knb",
        least(col("__kg"),
          greatest(lit(1L), ceil(gCol * gCol / lit(target)).cast("long"))).cast("int"))
      .select(col("cid"), col("__knb"))
    val maxNb = sz.agg(max(col("__knb"))).head().get(0) match {
      case null   => 1
      case i: Int => i
    }
    // fast path — no cell exceeds the target: the plain cid join IS the
    // bounded plan (largest task ≤ target by the nb=1 verdict just
    // measured), so pay zero extra exchanges. The size probe that makes
    // this decision is one map-side-collapsed count over ~K cells — the
    // measured-tier pattern (Dedup.connectedComponents); the salt below
    // engages exactly when skew exists.
    if (maxNb <= 1) left.join(right, Seq("cid"))
    else {
      // 4x the largest fan-out: (cid, bucket) keys place by HASH, so the
      // per-task bound carries a small pigeonhole factor (k keys into np
      // partitions co-locates a few); 4x keeps the expected max keys per
      // partition near 1 — the flood spec asserts the resulting <= ~4T cap
      val np = math.max(s.sparkContext.defaultParallelism,
        math.min(4 * maxNb, 1 << 20))
      val l = left.join(broadcast(sz), Seq("cid"))
        .withColumn("__kbkt", explode(expr("sequence(0, __knb - 1)")))
        .drop("__knb")
        .repartition(np, col("cid"), col("__kbkt"))
      val r = right.join(broadcast(sz), Seq("cid"))
        .withColumn("__kbkt", pmod(col(rightIdCol), col("__knb")).cast("int"))
        .drop("__knb")
      l.join(r, Seq("cid", "__kbkt")).drop("__kbkt")
    }
  }

  /** q240: MUTUAL-kNN pairs — the graph symmetrization curation actually
    * consumes: (a, b) is a candidate only when each is in the OTHER's
    * top-3 (reciprocity is the standard high-precision filter over a
    * directed kNN graph — a hub vector that merely appears in many
    * top-k lists without reciprocating is excluded, which is exactly
    * the failure mode direction-blind near-dup candidates have). One
    * checkpointed q239 graph, self-joined on the reversed edge — the
    * join keys are the (src, nbr) pairs, kilobyte-scale against the
    * corpus. Output carries both ranks; cosine is symmetric by
    * construction (same rounded value on both directions). */
  def mutualKnn(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val g = knnGraphFrame(s, dir).localCheckpoint()
    val fwd = g.select(col("src").as("va"), col("nbr").as("vb"),
      col("cosim"), col("rn").as("rank_ab"))
    val rev = g.select(col("nbr").as("va"), col("src").as("vb"),
      col("rn").as("rank_ba"))
    fwd.join(rev, Seq("va", "vb")).filter(col("va") < col("vb"))
      .select(col("va"), col("vb"), col("cosim"), col("rank_ab"), col("rank_ba"))
  }

  /** The g-chain BODY (in-cell pairs → exact dots → rounded cosines →
    * top-3 `g`; expects flat/norms/assign in scope) — split out so the
    * q236 manifest oracle can splice it into a WITH chain that already
    * carries `flat`. */
  // lazy: spliced into storeManifestsSql, which initializes EARLIER in
  // declaration order — a plain val would interpolate null
  private lazy val knnGChainSql =
    s"""gpairs AS (
       |  SELECT u.vec_id AS src, v.vec_id AS nbr
       |  FROM assign u JOIN assign v ON u.cid = v.cid AND u.vec_id <> v.vec_id),
       |gdots AS (
       |  SELECT p.src, p.nbr,
       |         CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM gpairs p
       |  JOIN flat a ON a.vec_id = p.src
       |  JOIN flat b ON b.vec_id = p.nbr AND b.pos = a.pos
       |  GROUP BY p.src, p.nbr),
       |gcos AS (
       |  SELECT d.src, d.nbr, round(d.dot / (n1.nrm * n2.nrm), 9) AS cosim
       |  FROM gdots d
       |  JOIN norms n1 ON n1.vec_id = d.src
       |  JOIN norms n2 ON n2.vec_id = d.nbr),
       |g AS (
       |  SELECT src, nbr, cosim, rn FROM (
       |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosim DESC, nbr) AS INT) AS rn
       |    FROM gcos)
       |  WHERE rn <= 3)""".stripMargin

  /** The shared kNN-graph CTE chain (flat → norms → assign → the
    * g-chain) under q239, q240, and the q241 clusters. */
  private val knnGraphCtes =
    s"""$flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$knnGChainSql""".stripMargin

  private val mutualKnnSql =
    s"""WITH $knnGraphCtes
       |SELECT a.src AS va, a.nbr AS vb, a.cosim, a.rn AS rank_ab, b.rn AS rank_ba
       |FROM g a JOIN g b ON b.src = a.nbr AND b.nbr = a.src
       |WHERE a.src < a.nbr""".stripMargin

  /** q241: semantic near-dup CLUSTERS over the mutual-kNN graph — the
    * reciprocity-filtered edges (q240) closed under connectivity by the
    * measured three-tier [[graft.operators.Dedup.connectedComponents]],
    * labels = minimum member id (the canonical-pick convention every
    * cluster family here uses). This is the kNN-graph alternative to
    * SemDeDup's drop-against-lower-id policy: reciprocity keeps the
    * candidate set high-precision, connectivity turns it into the
    * cluster ledger (sizes + id range per cluster) that soft-dedup
    * weighting and diversity sampling consume. Edge volume is the
    * top-k graph's (≤ 3N), so the CC input is corpus-linear however
    * large the cells were. */
  def knnClusters(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val g = knnGraphFrame(s, dir).localCheckpoint()
    // g holds one row per directed (src, nbr) edge, so the reversed-edge
    // join is 1:1 — the semi-join keeps exactly the reciprocated pairs
    val fwd = g.select(col("src").as("va"), col("nbr").as("vb"))
    val rev = g.select(col("nbr").as("va"), col("src").as("vb"))
    val pairs = fwd.join(rev, Seq("va", "vb"), "left_semi")
      .filter(col("va") < col("vb"))
    graft.operators.Dedup.connectedComponents(pairs)
      .groupBy(col("lab").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("n")).as("min_vec"), max(col("n")).as("max_vec"))
  }

  /** q242: label-noise audit via kNN neighborhood agreement — the
    * confident-learning-style screen a labeled training set runs before
    * fitting anything: a vector whose graph neighbors MOSTLY carry a
    * different label is a suspected mislabel (or an off-distribution
    * sample). Per-vector agreement counts ride the q239 graph (one
    * checkpointed build, two broadcast-scale label joins); `suspect` is
    * the strict-minority integer gate `2*n_agree < n_nbrs` (no float
    * thresholds to drift cross-engine). Rolled up per label: corpus
    * size, how many were scorable (had an in-cell neighbor — the
    * isolated remainder is the q239 recall trade, countable here), and
    * the suspect count. At 100 TB the audit costs the graph build plus
    * two kilobyte-wide label joins — nothing label-side ever shuffles
    * the embedding bytes. */
  def labelNoise(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val g = knnGraphFrame(s, dir).localCheckpoint()
    val lab = table(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val scored = g
      .join(lab.select(col("vec_id").as("src"), col("label").as("src_label")), Seq("src"))
      .join(lab.select(col("vec_id").as("nbr"), col("label").as("nbr_label")), Seq("nbr"))
      .groupBy(col("src"), col("src_label"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("src_label") === col("nbr_label"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("suspect", lit(2L) * col("n_agree") < col("n_nbrs"))
    lab.join(scored.select(col("src").as("vec_id"), col("n_nbrs"), col("suspect")),
        Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n_nbrs").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("suspect") === true, 1L).otherwise(0L)).as("n_suspect"))
  }

  private val labelNoiseSql =
    s"""WITH $knnGraphCtes,
       |scored AS (
       |  SELECT g.src, ls.label AS src_label,
       |         CAST(COUNT(*) AS BIGINT) AS n_nbrs,
       |         CAST(SUM(CASE WHEN ls.label = ln.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM g
       |  JOIN embeddings ls ON ls.vec_id = g.src
       |  JOIN embeddings ln ON ln.vec_id = g.nbr
       |  GROUP BY g.src, ls.label)
       |SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |       CAST(SUM(CASE WHEN sc.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
       |       CAST(SUM(CASE WHEN 2*sc.n_agree < sc.n_nbrs THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
       |FROM embeddings e LEFT JOIN scored sc ON sc.src = e.vec_id
       |GROUP BY e.label""".stripMargin

  // ---- q243: takedown over the persisted kNN graph (O(affected) repair) ----

  private[graft] def knnGraphStorePath(dir: String): String =
    "target/graft_index/knng_" + IndexStore.dirTag(dir)

  /** Build-if-stale the persisted kNN-graph store — the q239 graph as a
    * serving artifact (one `edges` table, the layout every graph
    * consumer here probes) so maintenance ops have something durable to
    * maintain. Stamped on the embeddings fingerprint like every vector
    * store. */
  private[graft] def knnGraphStore(s: SparkSession, dir: String): String = {
    val path = knnGraphStorePath(dir)
    // the nprobe dial changes the graph CONTENT — bake it into the stamp
    // so a store built under a widened session never serves (or is
    // served by) the default path
    val np = s.conf.getOption("spark.graft.knn.nprobe").getOrElse("1")
    val stamp = s"knng1|np$np|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, path, stamp) {
      IndexStore.write(s, path, stamp,
        Seq("edges" -> knnGraphFrame(s, dir)))
    }
    path
  }

  /** Build-if-stale the post-takedown BRANCH of the graph store. The
    * erasure request is the q224 slice (vec_id % 89 = 17). What makes a
    * GRAPH takedown more than an anti-join: deleting a vector also
    * invalidates the top-3 lists it appeared IN — those sources must be
    * re-ranked. The repair is provably O(affected), not O(graph):
    * removal only SHRINKS candidate sets, so a list that never
    * contained a deleted id is still exactly the top-3 of the shrunken
    * set and carries through untouched (rows and ranks); only sources
    * whose list intersects the delete set recompute, each against its
    * own IVF cell minus the deleted ids ([[knnDeleteLeg]], the delete
    * leg every kNN sync shares). The branch is therefore bit-equal to a
    * from-scratch rebuild over the filtered corpus — which is exactly
    * what the oracle pins. */
  private[graft] def knnTakedownBranch(s: SparkSession, dir: String): String = {
    val np = s.conf.getOption("spark.graft.knn.nprobe").getOrElse("1")
    // the O(affected) repair recomputes against a source's own cell —
    // the default graph's candidate rule. A widened (nprobe>1) graph
    // needs the widened candidate set; refuse rather than under-repair
    // (and before building a graph the repair cannot serve)
    require(np == "1", "knnTakedownBranch: the cell-scoped repair serves the " +
      "default graph; a widened (spark.graft.knn.nprobe>1) graph must be " +
      "rebuilt from the filtered corpus instead")
    val src = knnGraphStore(s, dir)
    val path = IndexStore.workPath(src + "_takedown")
    val stamp = s"knngtd1|np$np|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, path, stamp) {
      IndexStore.copy(s, src, path)
      val del = table(s, dir, "embeddings")
        .filter(col("vec_id") % 89 === 17).select(col("vec_id")).localCheckpoint()
      // the stored assignment keeps its geometry (the q224 centroid trade)
      val (_, assign) = corpusIvfIndex(s, dir)
      val d = knnDeleteLeg(assign, IndexStore.read(s, path, "edges"), del)
      // pin the repaired rows before the swap reads-vs-writes the table
      IndexStore.replaceTable(s, path, "edges", d.afterDel.localCheckpoint())
      IndexStore.writeStamp(s, path, stamp, Map(
        "n_del" -> del.count().toString,
        "n_repaired" -> d.affected.count().toString))
    }
    path
  }

  /** q243: the repaired graph served from the post-takedown branch, with
    * the erasure audited in-frame: zero surviving traces (no edge
    * touches a deleted id, either side), the request size, and how many
    * sources the repair actually re-ranked — the O(affected) bound made
    * visible. The oracle recomputes the WHOLE graph from the filtered
    * pair set (same cells, deleted ids absent from both sides) and
    * re-derives both audit counts from raw data, so an under-repaired
    * source (stale rank), an over-repair, or a leaked edge all
    * hash-mismatch. */
  def knnTakedown(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = knnTakedownBranch(s, dir)
    val meta = IndexStore.readMeta(s, path)
    val edges = IndexStore.read(s, path, "edges")
    val audit = knnTraces(edges, table(s, dir, "embeddings")
        .filter(col("vec_id") % 89 === 17).select(col("vec_id")).localCheckpoint())
      .withColumn("n_del", lit(meta("n_del").toLong))
      .withColumn("n_repaired", lit(meta("n_repaired").toLong))
    edges.select(col("src").as("vec_id"), col("nbr"), col("cosim"), col("rn"))
      .crossJoin(broadcast(audit))
  }

  private val knnTakedownSql =
    s"""WITH $knnGraphCtes,
       |del AS (SELECT vec_id FROM embeddings WHERE vec_id % 89 = 17),
       |g2 AS (
       |  SELECT src, nbr, cosim, rn FROM (
       |    SELECT src, nbr, cosim,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosim DESC, nbr) AS INT) AS rn
       |    FROM gcos
       |    WHERE src NOT IN (SELECT vec_id FROM del)
       |      AND nbr NOT IN (SELECT vec_id FROM del))
       |  WHERE rn <= 3)
       |SELECT src AS vec_id, nbr, cosim, rn,
       |       CAST(0 AS BIGINT) AS removed_traces,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM del) AS n_del,
       |       (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM g
       |        WHERE src NOT IN (SELECT vec_id FROM del)
       |          AND nbr IN (SELECT vec_id FROM del)) AS n_repaired
       |FROM g2""".stripMargin

  // ---- q244: feed-driven sync of the kNN-graph store ----

  /** Build-if-stale the feed-synced kNN-graph store — the graph joins
    * the "every serving structure follows the lake" arc (q227–q230):
    * v1 commits the embeddings, the graph (plus its IVF substrate)
    * builds FROM the lake, and the v1→v3 change feed applies through
    * [[knnSyncLegs]] (shared with q245/q246) in O(delta + affected),
    * never O(graph):
    *  - DELETE leg: the q243 repair — untouched lists carry through
    *    (removal only shrinks candidate sets); only sources whose top-3
    *    lost a member re-rank against their cell minus the deletes.
    *  - INSERT leg: arrivals coarse-assign against the STORED centroids
    *    (O(batch)); each arrival's own list computes against its cell's
    *    survivors ∪ co-arriving batch-mates; existing survivors MERGE —
    *    insertion only ADDS candidates, so a survivor's new top-3 can
    *    only contain its old list members or arrivals, and re-windowing
    *    (old edges ∪ cross-edges to same-cell arrivals) is exactly the
    *    top-3 of the updated cell. No survivor ever re-scores against
    *    its whole cell for an insert.
    * The O(delta + affected) claim is about re-SCORING compute (who
    * recomputes dot products against whom); the table-swap WRITE is one
    * O(edges) rewrite per sync — both legs fold into a single
    * [[IndexStore.replaceTable]] (ADVICE r16; edges are
    * top-k-bounded ≤ 3N rows of ids+scores, never embedding bytes). The
    * delta-byte write path is the masked sibling q245. The final stamp
    * is written only after both legs; a crash mid-sync rebuilds. The
    * oracle recomputes the WHOLE graph from the lake's current logical
    * state (survivors keep their v1 cells, arrivals assign against the
    * v1 centroids), so a stale rank, an unmerged cross-edge, or a
    * leaked deleted id all hash-mismatch. */
  private[graft] def knnSyncStore(s: SparkSession, dir: String): String = {
    val idxPath = IndexStore.workPath("target/tmp/knn_sync_" + IndexStore.dirTag(dir))
    val stamp = "knnsync1|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, idxPath, stamp) {
      val (f, _) = embeddingFeedFixture(s, dir, "knnsync")
      val (cents0, assign0, m) = buildIvfIndex(f.base)
      IndexStore.write(s, idxPath, "knnsync-building", Seq(
        "edges" -> cellGraph(assign0),
        "centroids" -> cents0,
        "assign" -> IvfCells.laid(assign0)))
      val del = f.deletes.localCheckpoint()
      val legs = knnSyncLegs(s, idxPath, IndexStore.read(s, idxPath, "assign"),
        IndexStore.read(s, idxPath, "edges"), del, f.inserts)
      IndexStore.replaceTable(s, idxPath, "assign", IvfCells.laid(legs.deleted.live))
      // both legs fold into ONE edges rewrite (ADVICE r16 — the write
      // cost per sync is one O(edges) rewrite; the O(affected) claim is
      // about re-SCORING compute): a restated source's post-delete list
      // is superseded by its `entering` restatement
      IndexStore.replaceTable(s, idxPath, "edges",
        legs.deleted.afterDel.join(broadcast(legs.restated), Seq("src"), "left_anti")
          .unionByName(legs.entering).localCheckpoint())
      IndexStore.append(s, idxPath, "assign", legs.arrivals)
      IndexStore.writeStamp(s, idxPath, stamp, f.counts ++ Map(
        "m" -> m.toString,
        "n_repaired_del" -> legs.deleted.affected.count().toString))
    }
    idxPath
  }

  /** [[cellGraph]] restricted to a SOURCE subset: `srcs` rank against
    * the full candidate membership `cand` (same cells) — the repair and
    * arrival legs' scoped form. The in-cell join is salted
    * ([[saltedCellJoin]]), so per-task pair volume stays bounded under
    * a skewed mega-cell; each pair meets exactly once, results
    * bit-identical to the plain cid join. */
  private def cellGraphFor(cand: DataFrame, srcs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(round(col("cosim0"), 9).desc, col("nbr"))
    saltedCellJoin(
        srcs.select(col("cid"), col("vec_id").as("src"),
          col("embedding").as("qemb"), col("nrm").as("nq")),
        cand.select(col("cid"), col("vec_id").as("nbr"),
          col("embedding").as("vemb"), col("nrm").as("nv")),
        "nbr")
      .filter(col("src") =!= col("nbr"))
      .withColumn("cosim0", dotExpr / (col("nq") * col("nv")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("src"), col("nbr"), round(col("cosim0"), 9).as("cosim"), col("rn"))
  }

  /** q244: the synced graph served from the store, audits in-frame —
    * feed counts, the delete leg's repair size (the O(affected) bound
    * made visible), and zero surviving traces of the deleted ids on
    * either edge side. */
  def feedSyncedKnn(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = knnSyncStore(s, dir)
    val meta = IndexStore.readMeta(s, path)
    val edges = IndexStore.read(s, path, "edges")
    val audit = withKnnFeedCounts(knnErasedTraces(s, dir, edges, meta("m").toLong), meta)
    edges.select(col("src").as("vec_id"), col("nbr"), col("cosim"), col("rn"))
      .crossJoin(broadcast(audit))
  }

  /** The synced-state CTE chain (erased feed slice → negated arrivals →
    * current members → the whole-graph rebuild `g4`; expects the
    * [[knnGraphCtes]] names in scope) — split out so the q248 as-of
    * oracle can pair the current-state leg with a horizon leg over the
    * same WITH chain. */
  private lazy val knnSyncedChainSql =
    s"""erased AS (
       |  SELECT vec_id FROM embeddings
       |  WHERE vec_id % 89 = 17
       |    AND vec_id % (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings) <> 0),
       |flat_n AS (SELECT vec_id + 500000 AS vec_id, pos, -xd AS xd FROM flat WHERE vec_id % 31 = 2),
       |norms_n AS (SELECT vec_id + 500000 AS vec_id, nrm FROM norms WHERE vec_id % 31 = 2),
       |adots_n AS (
       |  SELECT f.vec_id, c.cid, CAST(SUM(CAST(f.xd*c.cx AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM flat_n f JOIN cent c ON f.pos = c.pos
       |  GROUP BY f.vec_id, c.cid),
       |acos_n AS (
       |  SELECT a.vec_id, a.cid, a.dot / (n2.nrm * n1.nrm) AS cosim
       |  FROM adots_n a JOIN norms_n n1 ON n1.vec_id = a.vec_id JOIN norms n2 ON n2.vec_id = a.cid),
       |assign_n AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rn
       |    FROM acos_n)
       |  WHERE rn = 1),
       |members AS (
       |  SELECT vec_id, cid FROM assign WHERE vec_id NOT IN (SELECT vec_id FROM erased)
       |  UNION ALL SELECT vec_id, cid FROM assign_n),
       |flat_all AS (
       |  SELECT vec_id, pos, xd FROM flat WHERE vec_id NOT IN (SELECT vec_id FROM erased)
       |  UNION ALL SELECT vec_id, pos, xd FROM flat_n),
       |norms_all AS (
       |  SELECT vec_id, nrm FROM norms WHERE vec_id NOT IN (SELECT vec_id FROM erased)
       |  UNION ALL SELECT vec_id, nrm FROM norms_n),
       |g4pairs AS (
       |  SELECT u.vec_id AS src, v.vec_id AS nbr
       |  FROM members u JOIN members v ON u.cid = v.cid AND u.vec_id <> v.vec_id),
       |g4dots AS (
       |  SELECT p.src, p.nbr,
       |         CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM g4pairs p
       |  JOIN flat_all a ON a.vec_id = p.src
       |  JOIN flat_all b ON b.vec_id = p.nbr AND b.pos = a.pos
       |  GROUP BY p.src, p.nbr),
       |g4cos AS (
       |  SELECT d.src, d.nbr, round(d.dot / (n1.nrm * n2.nrm), 9) AS cosim
       |  FROM g4dots d
       |  JOIN norms_all n1 ON n1.vec_id = d.src
       |  JOIN norms_all n2 ON n2.vec_id = d.nbr),
       |g4 AS (
       |  SELECT src, nbr, cosim, rn FROM (
       |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosim DESC, nbr) AS INT) AS rn
       |    FROM g4cos)
       |  WHERE rn <= 3)""".stripMargin

  /** q244's oracle: the whole graph recomputed from the lake's current
    * logical state — survivors keep their v1 cells (centroids did not
    * move), arrivals assign fresh against the v1 centroids (the q229
    * chain), and the delete leg's repair count re-derives from the BASE
    * graph (sources surviving whose top-3 touched the erased set). */
  private val feedSyncedKnnSql =
    s"""WITH $knnGraphCtes,
       |$knnSyncedChainSql
       |SELECT src AS vec_id, nbr, cosim, rn,
       |       CAST(0 AS BIGINT) AS removed_traces,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id % 31 = 2)
       |         AS n_feed_inserts,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_feed_deletes,
       |       (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM g
       |        WHERE src NOT IN (SELECT vec_id FROM erased)
       |          AND nbr IN (SELECT vec_id FROM erased)) AS n_repaired_del
       |FROM g4""".stripMargin

  // ---- q245: feed sync with O(delta) MASKED deletes for the kNN graph
  // (VERDICT r16 item 3 — the fifth family gets the sidecar treatment) ----

  /** The kNN graph's SECOND mask table: `(src, seq)` rows naming sources
    * whose stored top-3 list was SUPERSEDED by a later-seg restatement
    * (delete-leg repairs at seq 0, insert-leg merges at seq 1). The
    * standard `deletes` sidecar can't carry these — a repaired source is
    * still a live MEMBER (its assign row must survive the mask) while
    * its old EDGE rows must hide — so the graph family splits "the
    * vector is gone" from "the list was restated", the same multi-mask
    * split as the dedup family's mask_gone/mask_reps. */
  private[graft] val KnnStaleMaskTable = "mask_stale"

  private[graft] def knnStaleMask(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    IndexStore.readTableOrEmpty(s, path, KnnStaleMaskTable,
      StructType(Seq(StructField("src", LongType), StructField("seq", LongType))))
  }

  /** The masked LIVE edges of the q245 store: rows hide when their
    * SOURCE is a deleted vector (`deletes` mask `del` — those lists are
    * gone with the vector) or a restated source (`mask_stale` — a newer
    * seg carries the current list), both seq-scoped so a re-appended
    * source's newer rows stay visible. */
  private[graft] def knnLiveEdges(s: SparkSession, path: String,
      del: DataFrame): DataFrame = {
    val stale = knnStaleMask(s, path).localCheckpoint()
    IndexStore.maskedRead(
      IndexStore.maskedRead(IndexStore.read(s, path, "edges"),
        del, "src", "vec_id", "seg"),
      stale, "src", "src", "seg")
  }

  /** The kNN-graph family's fold — MaskFoldSpec pins the folded edges
    * content equal to q244's physically-synced store's. Edges keep their
    * seg column (provenance, like the vector family's fold); assign is
    * re-laid cid-sorted. */
  private[graft] val KnnMaskFold = IndexStore.MaskFold(
    Seq(IndexStore.DeleteMaskTable, KnnStaleMaskTable), { (s, path) =>
      val del = IndexStore.readDeleteMaskOrEmpty(s, path, "vec_id")
        .localCheckpoint()
      Seq("edges" -> knnLiveEdges(s, path, del),
        "assign" -> IvfCells.laid(IndexStore.maskedRead(
            IndexStore.read(s, path, "assign"), del, "vec_id", "vec_id", "seg")))
    })

  /** The two legs of one kNN feed apply over a visible graph state —
    * `members` (cid, vec_id, embedding, nrm) and their top-3 `lists`
    * (src, nbr, cosim, rn) — shared by the physical batch sync (q244,
    * one rewrite), the masked one (q245, which lands them as seg 1 and
    * seg 2) and the stream (q246, one segment):
    *  - DELETE leg: [[knnDeleteLeg]].
    *  - INSERT leg (the q245 entering-edge restatement): `arrivals`
    *    coarse-assign against the centroids stored at `path`; survivors
    *    whose top-3 GAINS a cross-edge to an arrival (cosine ≥ their
    *    post-delete third-best — ties on the rounded cosine resolve by
    *    nbr id, so >= is over-inclusive, which is harmless: a restated
    *    list that didn't change masks identical rows — or fewer than 3
    *    edges) are `restated`; insertion only ADDS candidates, so
    *    re-windowing (post-delete list ∪ that source's cross-edges) IS
    *    the updated top-3, and no survivor re-scores its cell.
    *    `entering` = those lists plus the arrivals' own (ranked against
    *    survivors ∪ co-arrivals).
    * The state is pinned here, so a caller may rewrite or grow the
    * tables it was read from once this returns. */
  private final case class KnnLegs(deleted: KnnDeleteLeg, arrivals: DataFrame,
      restated: DataFrame, entering: DataFrame)

  /** The DELETE leg alone (the q243 O(affected) repair) over `members`
    * (cid, vec_id, embedding, nrm) and their top-3 `lists` (src, nbr,
    * cosim, rn): `live` = the surviving membership; `affected` =
    * surviving sources whose list lost a member to `del`; `repaired` =
    * their lists re-ranked against `live`, each within its own cell (the
    * default graph's candidate rule); `afterDel` = the post-delete lists
    * (untouched lists carry through, since removal only shrinks
    * candidate sets, plus `repaired`). The state is pinned here, so a
    * caller may rewrite the tables it was read from once this returns. */
  private final case class KnnDeleteLeg(live: DataFrame, affected: DataFrame,
      repaired: DataFrame, afterDel: DataFrame)

  private def knnDeleteLeg(members: DataFrame, lists: DataFrame,
      del: DataFrame): KnnDeleteLeg = {
    val vis = lists.select(col("src"), col("nbr"), col("cosim"), col("rn"))
      .localCheckpoint()
    val live = members.select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .join(broadcast(del), Seq("vec_id"), "left_anti").localCheckpoint()
    val delSrc = broadcast(del.select(col("vec_id").as("src")))
    val affected = vis.join(delSrc, Seq("src"), "left_anti")
      .join(broadcast(del.select(col("vec_id").as("nbr"))), Seq("nbr"), "left_semi")
      .select(col("src")).distinct().localCheckpoint()
    val repaired = cellGraphFor(live,
      live.join(broadcast(affected.select(col("src").as("vec_id"))),
        Seq("vec_id"), "left_semi"))
    KnnDeleteLeg(live, affected, repaired,
      vis.join(delSrc, Seq("src"), "left_anti")
        .join(broadcast(affected), Seq("src"), "left_anti")
        .unionByName(repaired))
  }

  private def knnSyncLegs(s: SparkSession, path: String, members: DataFrame,
      lists: DataFrame, del: DataFrame, ins: DataFrame): KnnLegs = {
    val d = knnDeleteLeg(members, lists, del)
    val (live, afterDel) = (d.live, d.afterDel)
    val aa = IvfCells.encode(IndexStore.read(s, path, "centroids"), ins).localCheckpoint()
    val withArrivals = live.unionByName(aa)
    val arrivalEdges = cellGraphFor(withArrivals,
      withArrivals.join(broadcast(aa.select(col("vec_id"))),
        Seq("vec_id"), "left_semi"))
    val cross = saltedCellJoin(
        live.select(col("cid"), col("vec_id").as("src"),
          col("embedding").as("qemb"), col("nrm").as("nq")),
        aa.select(col("cid"), col("vec_id").as("nbr"),
          col("embedding").as("vemb"), col("nrm").as("nv")), "nbr")
      .withColumn("cosim0", dotExpr / (col("nq") * col("nv")))
      .select(col("src"), col("nbr"), round(col("cosim0"), 9).as("cosim"))
      .localCheckpoint()
    val third = afterDel.groupBy(col("src")).agg(
      count(lit(1)).as("n_edges"),
      max(when(col("rn") === 3, col("cosim"))).as("cosim3"))
    val restated = cross.join(third, Seq("src"), "left")
      .filter(col("n_edges").isNull || col("n_edges") < 3 ||
        col("cosim") >= col("cosim3"))
      .select(col("src")).distinct().localCheckpoint()
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosim").desc, col("nbr"))
    val lists2 = afterDel.join(broadcast(restated), Seq("src"), "left_semi")
      .select(col("src"), col("nbr"), col("cosim"))
      .unionByName(cross.join(broadcast(restated), Seq("src"), "left_semi")
        .select(col("src"), col("nbr"), col("cosim")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("src"), col("nbr"), col("cosim"), col("rn"))
    KnnLegs(d, aa, restated, lists2.unionByName(arrivalEdges))
  }

  /** Edge rows of the deleted ids `del` on either side
    * (`removed_traces`, must be 0 after any erasure). */
  private def knnTraces(edges: DataFrame, del: DataFrame): DataFrame =
    edges.join(broadcast(del.select(col("vec_id").as("src"))), Seq("src"))
      .agg(count(lit(1)).as("n"))
      .unionByName(edges.join(broadcast(del.select(col("vec_id").as("nbr"))), Seq("nbr"))
        .agg(count(lit(1)).as("n")))
      .agg(sum(col("n")).as("removed_traces"))

  /** The erased-id audit every served kNN sync carries: [[knnTraces]] of
    * the feed's deleted ids. */
  private def knnErasedTraces(s: SparkSession, dir: String, edges: DataFrame,
      m: Long): DataFrame =
    knnTraces(edges, table(s, dir, "embeddings").filter(vecErased(m))
      .select(col("vec_id")).localCheckpoint())

  /** `audit` plus the sync's feed counts from store meta. */
  private def withKnnFeedCounts(audit: DataFrame, meta: Map[String, String]): DataFrame =
    RoundTrip.withFeedCounts(meta)(audit)
      .withColumn("n_repaired_del", lit(meta("n_repaired_del").toLong))

  /** Build-if-stale the mask-synced kNN-graph store: the same lake and
    * v1→v3 feed as q244, with every leg's WRITE delta-sized — the
    * sidecar treatment the other four families got in q231–q234, so the
    * graph store no longer pays q244's O(edges) rewrite per sync. Both
    * legs ([[knnSyncLegs]]) run over the seed state:
    *  - DELETE leg: deleted ids land in the `deletes` mask (O(delta)
    *    bytes — hides their assign rows and their edge lists); affected
    *    sources land in `mask_stale` (seq 0) and their repaired lists
    *    append as seg 1 — O(affected) rows appended, nothing rewritten.
    *  - INSERT leg: arrivals append (assign seg 2) with their own lists;
    *    restated survivors land in `mask_stale` (seq 1) with their
    *    re-windowed lists appended at seg 2.
    * The served graph is bit-equal to q244's physically-synced one (the
    * oracle is q244's chain; MaskFoldSpec pins fold ≡ physical), and the
    * auto-fold policy is checked at apply time like every masked sync
    * (the fixture's ~1% deleted fraction stays below the 0.1 default). */
  private[graft] def knnMaskSyncStore(s: SparkSession, dir: String): String = {
    val idxPath = IndexStore.workPath("target/tmp/knn_msync_" + IndexStore.dirTag(dir))
    val stamp = "knnmasksync1|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, idxPath, stamp) {
      val (f, _) = embeddingFeedFixture(s, dir, "knnmasksync")
      val (cents0, assign0, m) = buildIvfIndex(f.base)
      IndexStore.write(s, idxPath, "knnmasksync-building", Seq(
        "centroids" -> cents0,
        "assign" -> IvfCells.laid(assign0.withColumn("seg", lit(0L))),
        "edges" -> cellGraph(assign0).withColumn("seg", lit(0L))))
      val del = f.deletes.localCheckpoint()
      val legs = knnSyncLegs(s, idxPath, IndexStore.read(s, idxPath, "assign"),
        IndexStore.read(s, idxPath, "edges"), del, f.inserts)
      // ---- DELETE leg: O(delta) mask bytes + O(affected) appended rows
      IndexStore.appendDeleteMask(s, idxPath, del.withColumn("seq", lit(0L)))
      IndexStore.append(s, idxPath, KnnStaleMaskTable,
        legs.deleted.affected.withColumn("seq", lit(0L)))
      IndexStore.append(s, idxPath, "edges", legs.deleted.repaired.withColumn("seg", lit(1L)))
      // ---- INSERT leg: appends + the entering-edge restatements
      IndexStore.append(s, idxPath, "assign", legs.arrivals.withColumn("seg", lit(2L)))
      IndexStore.append(s, idxPath, KnnStaleMaskTable,
        legs.restated.withColumn("seq", lit(1L)))
      IndexStore.append(s, idxPath, "edges", legs.entering.withColumn("seg", lit(2L)))
      // the auto-fold policy, same gate as every masked sync: ~1%
      // deleted sits below the 0.1 default, so the masks stay
      val folded = IndexStore.autoFoldIfNeeded(
        s, idxPath, "assign", "vec_id")(
        IndexStore.foldMasks(s, idxPath, KnnMaskFold))
      IndexStore.writeStamp(s, idxPath, stamp, f.counts ++ Map(
        "m" -> m.toString,
        "n_repaired_del" -> legs.deleted.affected.count().toString,
        "n_restated" -> legs.restated.count().toString,
        "auto_folded" -> folded.toString))
    }
    idxPath
  }

  /** q245: the synced graph served THROUGH the masks — q244's rows
    * bit-for-bit (the oracle is q244's chain), with the delete leg's
    * write cost now delta bytes instead of an edges rewrite. Audits:
    * zero surviving traces of the deleted ids through the masked view,
    * the mask size, the feed counts, and the repair bound. */
  def maskedFeedSyncedKnn(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val path = knnMaskSyncStore(s, dir)
    val meta = IndexStore.readMeta(s, path)
    val delMask = IndexStore.readDeleteMaskOrEmpty(s, path, "vec_id")
      .localCheckpoint()
    val edges = knnLiveEdges(s, path, delMask)
    val audit = withKnnFeedCounts(
      knnErasedTraces(s, dir, edges, meta("m").toLong)
        .crossJoin(broadcast(delMask.agg(count(lit(1)).as("n_mask_rows")))), meta)
    edges.select(col("src").as("vec_id"), col("nbr"), col("cosim"), col("rn"))
      .crossJoin(broadcast(audit))
  }

  /** q245's oracle: q244's chain verbatim (the masked view must be
    * bit-equal to the physical sync) plus the mask-size audit. */
  private[graft] lazy val maskedFeedSyncedKnnSql = sqlReplaced(feedSyncedKnnSql,
    "CAST(0 AS BIGINT) AS removed_traces,",
    "CAST(0 AS BIGINT) AS removed_traces,\n" +
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_mask_rows,")

  // ---- q246: the kNN sync as a STREAM through the exactly-once ledger
  // (VERDICT r16 item 4 — streaming == batch for the graph sync) ----

  /** The q246 streaming store's path — process-unique and reaped at JVM
    * exit, like every streaming store. */
  private[graft] def knnStreamPath(dir: String): String =
    IndexStore.workPath("target/tmp/knn_stream_" + IndexStore.dirTag(dir))

  /** The q246 store's four ledgered tables. `deletes`/`stale` are the
    * q245 masks as COMMITTED SEGMENTS — a mask row in segment N hides the
    * matching rows of strictly older segments (the partition value IS the
    * seq, so the Iceberg scoping rule needs no extra column): `deletes`
    * hides a deleted vector's edge lists and membership, `stale` a
    * restated source's superseded list. The cross-table visibility rule
    * makes each micro-batch's masks + appended lists appear atomically. */
  private[graft] val KnnStreamLedger = IndexStore.Ledger("segment", Seq(
      IndexStore.LedgerTable("edges", Seq("src", "rn"), Seq("src")),
      IndexStore.LedgerTable("assign", "cid", "vec_id"),
      IndexStore.LedgerTable("deletes", "vec_id"),
      IndexStore.LedgerTable("stale", "src")),
    masks = Seq(("deletes", "edges", "src", "vec_id"), ("stale", "edges", "src", "src"),
      ("deletes", "assign", "vec_id", "vec_id")))

  /** Fresh-seed the streaming graph store: centroids land as a flat
    * table (quantizer geometry, never segmented), and all four ledgered
    * tables commit segment 0 through the SAME exactly-once path every
    * micro-batch uses (edges = the base cell graph; assign = the base
    * membership; empty mask segments). Stamp written last. */
  private[graft] def seedKnnStream(s: SparkSession, dir: String,
      base: DataFrame): (String, Long) = {
    val path = knnStreamPath(dir)
    val (cents0, assign0, m) = buildIvfIndex(base)
    val assignSeed = assign0.localCheckpoint()
    KnnStreamLedger.seed(s, path)(Seq(
      "edges" -> cellGraph(assignSeed),
      "assign" -> IvfCells.laid(assignSeed),
      "deletes" -> assignSeed.select(col("vec_id")).limit(0),
      "stale" -> assignSeed.select(col("vec_id").as("src")).limit(0)))
    // the stored centroid table is the arrivals' coarse-assign target,
    // the same role as in every sync store
    IndexStore.replaceTable(s, path, "centroids",
      cents0.localCheckpoint())
    IndexStore.writeStamp(s, path, "knnstream-seeded|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet")),
      Map("m" -> m.toString))
    (path, m)
  }

  /** Commit one feed micro-batch as segment `segId` of ALL FOUR tables
    * and replay it ([[IndexStore.Ledger.commit]]). The frames are the
    * [[knnSyncLegs]] over the visible state of segments < segId — prior
    * committed segments never change, so a replay would recompute
    * identical frames; the ledger makes it a metadata no-op instead.
    * Returns the written-table counts of the two passes ((4, 0) for a
    * fresh segment) plus the batch's n_feed_inserts / n_feed_deletes /
    * n_repaired_del audit. */
  private[graft] def knnStreamCommit(s: SparkSession, path: String, segId: Long,
      batch: DataFrame): ((Int, Int), Map[String, Long]) =
    KnnStreamLedger.commit(s, path, segId) {
      val del = batch.filter(col("change") === "delete")
        .select(col("vec_id")).localCheckpoint()
      val ins = batch.filter(col("change") === "insert")
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val v = KnnStreamLedger.view(s, path,
        KnnStreamLedger.visible(s, path).filter(_ < segId))
      val legs = knnSyncLegs(s, path, v("assign"), v("edges"), del, ins)
      (Seq("edges" -> legs.deleted.repaired.unionByName(legs.entering),
          "assign" -> legs.arrivals,
          "deletes" -> del,
          "stale" -> legs.deleted.affected.unionByName(legs.restated)),
        Map("n_feed_inserts" -> ins.count(), "n_feed_deletes" -> del.count(),
          "n_repaired_del" -> legs.deleted.affected.count()))
    }

  /** q246's answer frame: q244's rows served THROUGH the ledgered masks
    * (cross-table visible segments only), with q244's audits plus the
    * observed replay flag. */
  private[graft] def knnStreamResult(s: SparkSession, dir: String, path: String,
      replayNoop: Boolean): DataFrame = {
    val meta = IndexStore.readMeta(s, path)
    val edges = KnnStreamLedger.view(s, path, KnnStreamLedger.visible(s, path))("edges")
    val audit = withKnnFeedCounts(knnErasedTraces(s, dir, edges, meta("m").toLong), meta)
      .withColumn("replay_was_noop", lit(replayNoop))
    edges.select(col("src").as("vec_id"), col("nbr"), col("cosim"), col("rn"))
      .crossJoin(broadcast(audit))
  }

  /** q246's oracle: q244's chain verbatim (streaming == batch for the
    * graph sync) with the replay verdict pinned TRUE. */
  private[graft] lazy val streamKnnSyncSql = sqlReplaced(feedSyncedKnnSql,
    "CAST(0 AS BIGINT) AS removed_traces,",
    "CAST(0 AS BIGINT) AS removed_traces,\nTRUE AS replay_was_noop,")

  /** q248's answer frame: the SAME masked-view read at two horizons of
    * the streamed store — `full` (every committed segment: the current
    * synced graph) and `asof1` (segments ≤ 1: the graph as it stood
    * after the delete batch, before the arrivals landed). The horizon
    * bounds the visible segment set itself ([[IndexStore.Ledger.asOf]],
    * which refuses horizons a compaction folded away), so segment 2's
    * directories never enter any table's file index — directory-level
    * pruning, the q218/q221 shape for the fifth family. The asof1 leg is
    * bit-equal to a rebuild over the filtered base pairs (the q243 repair
    * proof), the full leg to the q244 rebuild — both pinned by the
    * oracle. */
  private[graft] def knnStreamAsOfResult(s: SparkSession, path: String): DataFrame = {
    def leg(h: Long, name: String): DataFrame =
      KnnStreamLedger.view(s, path, KnnStreamLedger.asOf(s, path, h))("edges")
        .select(lit(name).as("horizon"), col("src").as("vec_id"),
          col("nbr"), col("cosim"), col("rn"))
    leg(Long.MaxValue, "full").unionByName(leg(1L, "asof1"))
  }

  // ---- q249: ledger-aware MASK-FOLDING compaction of the streamed
  // kNN-graph store ([[IndexStore.Ledger.compact]]) ----

  /** q249's answer frame: q246's served rows read from the COMPACTED
    * store (fold-on-compact must be invisible to the reader — the oracle
    * is q244's chain, so a row the fold lost or leaked hash-mismatches),
    * plus the maintenance audits: `replay_after_compact` (both feed
    * batches re-driven against the tombstoned ledger wrote nothing),
    * `n_data_segments` (data-bearing committed edge segments, counted
    * from the store's files — 1 after a full-set fold), and
    * `masks_folded` (both mask tables serve zero visible rows). */
  private[graft] def knnStreamCompactResult(s: SparkSession, path: String,
      replayNoop: Boolean): DataFrame = {
    val vis = KnnStreamLedger.visible(s, path)
    val edges = KnnStreamLedger.view(s, path, vis)("edges").select(col("src").as("vec_id"),
      col("nbr"), col("cosim"), col("rn"))
    val nMaskRows = Seq("deletes", "stale").map(t =>
      KnnStreamLedger.read(s, path, t, vis).count()).sum
    val audit = s.range(1).select(
      lit(replayNoop).as("replay_after_compact"),
      lit(KnnStreamLedger.dataSegments(s, path, "edges").size.toLong).as("n_data_segments"),
      lit(nMaskRows == 0L).as("masks_folded"))
    edges.crossJoin(broadcast(audit))
  }

  /** q249's oracle: q244's chain (compaction must not change one served
    * row) with the three maintenance audits pinned. */
  private[graft] lazy val streamKnnCompactSql =
    s"""WITH $knnGraphCtes,
       |$knnSyncedChainSql
       |SELECT src AS vec_id, nbr, cosim, rn,
       |       TRUE AS replay_after_compact,
       |       CAST(1 AS BIGINT) AS n_data_segments,
       |       TRUE AS masks_folded
       |FROM g4""".stripMargin

  /** q248's oracle: the current-state leg is q244's g4 chain; the
    * horizon leg re-derives the post-delete graph from the BASE pairs
    * with the erased ids absent from both sides (bit-equal to the
    * repaired state by the q243 argument: removal only shrinks
    * candidate sets). */
  private[graft] lazy val streamKnnAsOfSql =
    s"""WITH $knnGraphCtes,
       |$knnSyncedChainSql,
       |gh AS (
       |  SELECT src, nbr, cosim, rn FROM (
       |    SELECT src, nbr, cosim,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosim DESC, nbr) AS INT) AS rn
       |    FROM gcos
       |    WHERE src NOT IN (SELECT vec_id FROM erased)
       |      AND nbr NOT IN (SELECT vec_id FROM erased))
       |  WHERE rn <= 3)
       |SELECT 'full' AS horizon, src AS vec_id, nbr, cosim, rn FROM g4
       |UNION ALL
       |SELECT 'asof1' AS horizon, src AS vec_id, nbr, cosim, rn FROM gh""".stripMargin

  /** The v1→v3 embedding change feed staged for the q246 stream — one
    * schema for both legs (deletes carry a null embedding). Drained from
    * a REAL lake feed ([[embeddingFeedFixture]]), not re-derived, so the
    * stream consumes exactly what the batch sync consumed. */
  private[graft] def knnStreamFeedBatches(s: SparkSession, dir: String)
      : Seq[(Int, DataFrame)] = {
    val (f, _) = embeddingFeedFixture(s, dir, "knnstream")
    Seq(
      1 -> f.deletes.select(col("vec_id"),
        lit(null).cast("array<float>").as("embedding"),
        lit("delete").as("change")),
      2 -> f.inserts.select(col("vec_id"), col("embedding"),
        lit("insert").as("change")))
  }


  private val knnClustersSql =
    s"""WITH RECURSIVE $knnGraphCtes,
       |mpairs AS (
       |  SELECT a.src AS va, a.nbr AS vb
       |  FROM g a JOIN g b ON b.src = a.nbr AND b.nbr = a.src
       |  WHERE a.src < a.nbr),
       |edges AS (SELECT va AS n, vb AS m FROM mpairs UNION SELECT vb, va FROM mpairs),
       |reach(n, lab) AS (
       |  SELECT n, n FROM (SELECT DISTINCT n FROM edges)
       |  UNION
       |  SELECT e.n, r.lab FROM edges e JOIN reach r ON r.n = e.m),
       |labels AS (SELECT n, MIN(lab) AS lab FROM reach GROUP BY n)
       |SELECT lab AS cluster_id, COUNT(*) AS n_members,
       |MIN(n) AS min_vec, MAX(n) AS max_vec
       |FROM labels GROUP BY lab""".stripMargin

  private val knnGraphSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |gpairs AS (
       |  SELECT u.vec_id AS src, v.vec_id AS nbr
       |  FROM assign u JOIN assign v ON u.cid = v.cid AND u.vec_id <> v.vec_id),
       |gdots AS (
       |  SELECT p.src, p.nbr,
       |         CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM gpairs p
       |  JOIN flat a ON a.vec_id = p.src
       |  JOIN flat b ON b.vec_id = p.nbr AND b.pos = a.pos
       |  GROUP BY p.src, p.nbr),
       |gcos AS (
       |  SELECT d.src, d.nbr, round(d.dot / (n1.nrm * n2.nrm), 9) AS cosim
       |  FROM gdots d
       |  JOIN norms n1 ON n1.vec_id = d.src
       |  JOIN norms n2 ON n2.vec_id = d.nbr)
       |SELECT src AS vec_id, nbr, cosim, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosim DESC, nbr) AS INT) AS rn
       |  FROM gcos)
       |WHERE rn <= 3""".stripMargin

  // ---- q247: the WIDENED (nprobe=2) graph, oracled (VERDICT r16 item 5) ----

  /** q247: the q239 graph at nprobe=2 — the recall dial promoted from
    * spec-only to an ORACLED build path. Each source gathers candidates
    * from its top-2 coarse cells against the broadcast STORED centroids
    * (same metric and tie-break as the stored assignment, so the cell
    * set is a superset of the default's), which closes the
    * singleton-cell recall hole at ~2x the pair volume; candidate pairs
    * dedup before scoring so a neighbor shared by both probed cells is
    * ranked once. The probe width travels as an explicit parameter of
    * this query — never a session-conf mutation. The MAINTAINED store
    * stays nprobe=1 (q243's cell-scoped repair refuses a widened store
    * it would under-repair — the refusal is the documented contract;
    * this query makes the dial usable on the build path with a green
    * oracle, which re-derives the top-2 cell cover in SQL). */
  def knnGraphNp2(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    knnGraphFrameNp(s, dir, 2)
      .select(col("src").as("vec_id"), col("nbr"), col("cosim"), col("rn"))
  }

  /** The widened (top-2-cells) edge chain as CTEs (`src2`/`wcand`/
    * `wdots`/`wcos`/`g2` in scope) — shared by the q247 oracle and the
    * q253 beam-search oracle that hops over exactly these edges. */
  private lazy val knnNp2ChainSql =
    s"""src2 AS (
       |  SELECT vec_id AS src, cid FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rp
       |    FROM acos)
       |  WHERE rp <= 2),
       |wcand AS (
       |  SELECT DISTINCT s.src, a.vec_id AS nbr
       |  FROM src2 s JOIN assign a ON a.cid = s.cid AND a.vec_id <> s.src),
       |wdots AS (
       |  SELECT p.src, p.nbr,
       |         CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM wcand p
       |  JOIN flat a ON a.vec_id = p.src
       |  JOIN flat b ON b.vec_id = p.nbr AND b.pos = a.pos
       |  GROUP BY p.src, p.nbr),
       |wcos AS (
       |  SELECT d.src, d.nbr, round(d.dot / (n1.nrm * n2.nrm), 9) AS cosim
       |  FROM wdots d
       |  JOIN norms n1 ON n1.vec_id = d.src
       |  JOIN norms n2 ON n2.vec_id = d.nbr),
       |g2 AS (
       |  SELECT src, nbr, cosim, rn FROM (
       |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosim DESC, nbr) AS INT) AS rn
       |    FROM wcos)
       |  WHERE rn <= 3)""".stripMargin

  private val knnGraphNp2Sql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$knnNp2ChainSql
       |SELECT src AS vec_id, nbr, cosim, rn FROM g2""".stripMargin

  // ---- q253: graph-based ANN serving over the widened kNN graph ----

  /** q253: the kNN graph promoted from curation artifact to SERVING
    * index — batch beam search, the graph-ANN query shape (NSW/HNSW's
    * base layer, run breadth-synchronous over a query batch instead of
    * pointer-chasing one query at a time, which is what graph ANN looks
    * like on Spark). Each query (a ~4% held-out slice of the corpus,
    * searching for its own neighbors, self excluded) seeds with the
    * exact top-B of its IVF home cell, then takes H=2 hops: the beam's
    * members' stored edges propose candidates, candidates are rescored
    * with the TRUE cosine against the query, and the beam re-windows to
    * B. The hops run over the WIDENED (nprobe=2, q247) edges — this is
    * deliberate and the reason the dial exists: the default graph is
    * cell-scoped, so hops over it could never propose anything the
    * home-cell seed hasn't already ranked (beam search would be a
    * no-op); np2 edges cross cell boundaries, so each hop genuinely
    * extends recall past the seed cell at fixed per-hop cost (beam x
    * degree proposals per query, deduped before the one scoring join).
    * The oracle replays the identical unrolled search (same seed, same
    * two hops, same rounding and tie-breaks) and the exact top-3 audit —
    * a divergent beam anywhere hash-mismatches. The audit follows q188's
    * convention: ABSOLUTE recall is reported as measured data, not gated
    * — on this fixture it is a property of the quantizer (random-member
    * seed centroids make cells near-uncorrelated with true neighbors, so
    * any cell-seeded search's recall ~ cells-touched/cells; measured
    * ~0.2 here), and it is exactly the number that drives B/H/nprobe
    * tuning. What IS gated is the search's invariant: the beam contains
    * the seed's survivors, so hops can only add exact hits — per query
    * and in total, beam hits >= seed hits, pinned as a boolean. Scale:
    * queries broadcast everywhere (the probe-batch pattern); the per-hop
    * proposal frame is |Q| x B x degree rows; the one corpus-sized term
    * is the exact-audit leg (|Q| x N brute force, the q64 shape) — in
    * production that audit runs on a sampled slice exactly like this
    * one. */
  def graphAnnServe(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    // the widened edges, served from the PERSISTED np2 branch store
    // (stamp-guarded: warm calls and restarts read the edges table, only
    // an embeddings change re-runs q247's build path)
    val edges = IndexStore
      .read(s, knnGraphNp2Store(s, dir), "edges")
      .select(col("src"), col("nbr"))
    graphAnnServeAt(s, dir, 4, 2, edges)
  }

  /** q253's rig with its dials exposed (beam width B, hop count H, any
    * edge frame — wider nprobe graphs come from [[knnGraphFrameNp]]):
    * the measurement surface behind the B/H/nprobe recall table of
    * PLANS.md "Round-19: the q253 recall dial measured" (VERDICT r18
    * item 6 — the reported ~0.2 absolute recall should DRIVE tuning,
    * not just sit in the audit). NOT
    * registered: the registered q253 pins (B=4, H=2, np2-store edges)
    * and its oracle replays exactly that unrolled search. */
  private[graft] def graphAnnServeAt(s: SparkSession, dir: String,
      B: Int, hops: Int, edges: DataFrame,
      track: scala.collection.mutable.Buffer[DataFrame] = null,
      quantizer: String = "seed"): DataFrame = {
    // `quantizer` picks the ASSIGNMENT generation the search seeds from
    // ("seed" = the registered q253 substrate; "refined" = the q267
    // Lloyd store) — a sweep dial, never a session-conf mutation
    val assign = quantizer match {
      case "refined" => corpusRefinedIvfIndex(s, dir)._2
      case _         => corpusIvfIndex(s, dir)._2
    }
    // cachedValue + explicit unpersist: the frames are localCheckpointed
    // (lineage truncation for the loopy consumers), and cached() would
    // ADD an InMemoryRelation layer on top of the checkpoint blocks —
    // double-pinning corpus-sized data for the session lifetime
    val a = graft.SessionCache.cachedValue(s, s"sim:annserve:a:$quantizer:$dir")(
      assign.select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
        .localCheckpoint())(df => { df.unpersist(); () })
    // every per-call checkpoint registers with `track` (ADVICE r19: the
    // 18-cell sweep leaked all of them — blocks accumulated across cells);
    // a null tracker (the registered q253 path) keeps the old lifecycle,
    // where the frames die with the session
    def ck(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      if (track != null) track += c
      c
    }
    val queries = ck(a.filter(col("vec_id") % 23 === 3)
      .select(col("cid").as("qcid"), col("vec_id").as("qid"),
        col("embedding").as("qemb"), col("nrm").as("nq")))
    val qkeys = queries.select(col("qid"), col("qemb"), col("nq"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("cosim").desc, col("cand"))
    def score(cand: DataFrame): DataFrame =
      cand.join(broadcast(qkeys), Seq("qid"))
        .join(a.select(col("vec_id").as("cand"), col("embedding").as("vemb"),
          col("nrm").as("nv")), Seq("cand"))
        .select(col("qid"), col("cand"),
          round(dotExpr / (col("nq") * col("nv")), 9).as("cosim"))
    // seed: exact top-B of the query's stored home cell
    val seedCand = queries.select(col("qid"), col("qcid"))
      .join(a.select(col("cid").as("qcid"), col("vec_id").as("cand")), Seq("qcid"))
      .filter(col("cand") =!= col("qid"))
      .select(col("qid"), col("cand"))
    val seed = ck(score(seedCand)
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= B)
      .select(col("qid"), col("cand"), col("cosim")))
    var beam = seed
    for (_ <- 1 to hops) {
      val proposals = beam.select(col("qid"), col("cand").as("src"))
        .join(edges, Seq("src"))
        .select(col("qid"), col("nbr").as("cand"))
        .filter(col("cand") =!= col("qid"))
        .distinct()
        .join(beam.select(col("qid"), col("cand")), Seq("qid", "cand"), "left_anti")
      beam = ck(beam.unionByName(score(proposals))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= B)
        .select(col("qid"), col("cand"), col("cosim")))
    }
    val gtop = ck(beam.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 3))
    // the exact audit: brute-force top-3 per query (the q64 probe shape)
    val exact = a.select(col("vec_id").as("cand"), col("embedding").as("vemb"),
        col("nrm").as("nv"))
      .join(broadcast(queries.select(col("qid"), col("qemb"), col("nq"))),
        col("cand") =!= col("qid"))
      .select(col("qid"), col("cand"),
        round(dotExpr / (col("nq") * col("nv")), 9).as("cosim"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 3)
      .select(col("qid"), col("cand"))
    val exactCk = ck(exact)
    val seedTop = seed.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 3).select(col("qid"), col("cand"))
    def hitsOf(top: DataFrame, out: String): DataFrame =
      top.select(col("qid")).distinct()
        .join(top.join(exactCk, Seq("qid", "cand"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("nh")), Seq("qid"), "left")
        .select(col("qid"), coalesce(col("nh"), lit(0L)).as(out))
    val perq = ck(hitsOf(gtop.select(col("qid"), col("cand")), "n_exact_hits")
      .join(hitsOf(seedTop, "n_seed_hits"), Seq("qid")))
    val aud = perq.agg(sum(col("n_exact_hits")).as("recall_num"),
        sum(col("n_seed_hits")).as("seed_num"),
        (count(lit(1)) * 3).as("recall_den"))
      .withColumn("hops_no_loss", col("recall_num") >= col("seed_num"))
    gtop.select(col("qid").as("vec_id"), col("cand").as("nbr"),
        col("cosim"), col("rn"))
      .join(broadcast(perq.withColumnRenamed("qid", "vec_id")), Seq("vec_id"))
      .crossJoin(broadcast(aud))
  }

  /** The PERSISTED widened (nprobe=2) graph — q253's serving substrate as
    * a durable branch store, not a per-session rebuild (VERDICT r17 item
    * 3: "at 100 TB a serving index you rebuild per process isn't a
    * serving index"). A separate store path from [[knnGraphStore]]: the
    * probe width is baked into the stamp (the q247 convention — the dial
    * travels as a parameter, never session conf), so the np1 maintained
    * store and the np2 serving branch can never serve each other's
    * readers — and the version token is the branch store's OWN
    * (`knng2_1`, ADVICE r18: a format bump of the np2 edges table edits a
    * token named after THIS store, not the np1 one). Maintenance
    * contract: q243's cell-scoped O(affected) repair serves the DEFAULT
    * graph only (its candidate rule is the home cell); this branch is
    * read-only for takedown — an erasure on the widened graph re-stamps
    * and rebuilds from the filtered corpus (the refusal at
    * [[knnTakedownBranch]], unchanged). A restart therefore costs a
    * stamp check + an edges scan, not a graph build. */
  private[graft] def knnGraphNp2Store(s: SparkSession, dir: String): String = {
    val path = "target/graft_index/knng2_" + IndexStore.dirTag(dir)
    val stamp = "knng2_1|np2|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, path, stamp) {
      IndexStore.write(s, path, stamp,
        Seq("edges" -> knnGraphFrameNp(s, dir, 2)))
    }
    path
  }

  /** The beam-search body of the q253 oracle (expects `assign` + `g2`
    * in scope) — shared verbatim by the q268 refined-generation oracle,
    * which swaps only WHAT `assign`/`g2` mean. */
  private val graphAnnServeBodySql =
    s"""q AS (SELECT vec_id AS qid, cid AS qcid FROM assign WHERE vec_id % 23 = 3),
       |scand AS (
       |  SELECT q.qid, a.vec_id AS cand
       |  FROM q JOIN assign a ON a.cid = q.qcid AND a.vec_id <> q.qid),
       |sdots AS (
       |  SELECT p.qid, p.cand,
       |         CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM scand p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat b ON b.vec_id = p.cand AND b.pos = a.pos
       |  GROUP BY p.qid, p.cand),
       |seed AS (
       |  SELECT qid, cand, cosim FROM (
       |    SELECT d.qid, d.cand, round(d.dot / (n1.nrm * n2.nrm), 9) AS cosim,
       |           ROW_NUMBER() OVER (PARTITION BY d.qid
       |             ORDER BY round(d.dot / (n1.nrm * n2.nrm), 9) DESC, d.cand) AS rn
       |    FROM sdots d
       |    JOIN norms n1 ON n1.vec_id = d.qid
       |    JOIN norms n2 ON n2.vec_id = d.cand)
       |  WHERE rn <= 4),
       |h1cand AS (
       |  SELECT DISTINCT s.qid, e.nbr AS cand
       |  FROM seed s JOIN g2 e ON e.src = s.cand
       |  WHERE e.nbr <> s.qid
       |    AND NOT EXISTS (SELECT 1 FROM seed s2 WHERE s2.qid = s.qid AND s2.cand = e.nbr)),
       |h1dots AS (
       |  SELECT p.qid, p.cand,
       |         CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM h1cand p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat b ON b.vec_id = p.cand AND b.pos = a.pos
       |  GROUP BY p.qid, p.cand),
       |h1cos AS (
       |  SELECT d.qid, d.cand, round(d.dot / (n1.nrm * n2.nrm), 9) AS cosim
       |  FROM h1dots d
       |  JOIN norms n1 ON n1.vec_id = d.qid
       |  JOIN norms n2 ON n2.vec_id = d.cand),
       |beam1 AS (
       |  SELECT qid, cand, cosim FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, cand) AS rn
       |    FROM (SELECT * FROM seed UNION ALL SELECT * FROM h1cos))
       |  WHERE rn <= 4),
       |h2cand AS (
       |  SELECT DISTINCT b.qid, e.nbr AS cand
       |  FROM beam1 b JOIN g2 e ON e.src = b.cand
       |  WHERE e.nbr <> b.qid
       |    AND NOT EXISTS (SELECT 1 FROM beam1 b2 WHERE b2.qid = b.qid AND b2.cand = e.nbr)),
       |h2dots AS (
       |  SELECT p.qid, p.cand,
       |         CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM h2cand p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat b ON b.vec_id = p.cand AND b.pos = a.pos
       |  GROUP BY p.qid, p.cand),
       |h2cos AS (
       |  SELECT d.qid, d.cand, round(d.dot / (n1.nrm * n2.nrm), 9) AS cosim
       |  FROM h2dots d
       |  JOIN norms n1 ON n1.vec_id = d.qid
       |  JOIN norms n2 ON n2.vec_id = d.cand),
       |beam2 AS (
       |  SELECT qid, cand, cosim FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, cand) AS rn
       |    FROM (SELECT * FROM beam1 UNION ALL SELECT * FROM h2cos))
       |  WHERE rn <= 4),
       |gtop AS (
       |  SELECT qid, cand, cosim, CAST(rn AS INT) AS rn FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, cand) AS rn
       |    FROM beam2)
       |  WHERE rn <= 3),
       |ecand AS (
       |  SELECT q.qid, n.vec_id AS cand FROM q JOIN norms n ON n.vec_id <> q.qid),
       |edots AS (
       |  SELECT p.qid, p.cand,
       |         CAST(SUM(CAST(a.xd*b.xd AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM ecand p
       |  JOIN flat a ON a.vec_id = p.qid
       |  JOIN flat b ON b.vec_id = p.cand AND b.pos = a.pos
       |  GROUP BY p.qid, p.cand),
       |etop AS (
       |  SELECT qid, cand FROM (
       |    SELECT d.qid, d.cand,
       |           ROW_NUMBER() OVER (PARTITION BY d.qid
       |             ORDER BY round(d.dot / (n1.nrm * n2.nrm), 9) DESC, d.cand) AS rn
       |    FROM edots d
       |    JOIN norms n1 ON n1.vec_id = d.qid
       |    JOIN norms n2 ON n2.vec_id = d.cand)
       |  WHERE rn <= 3),
       |seed3 AS (
       |  SELECT qid, cand FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, cand) AS rn
       |    FROM seed)
       |  WHERE rn <= 3),
       |perq AS (
       |  SELECT g.qid, CAST(COUNT(e.cand) AS BIGINT) AS n_exact_hits
       |  FROM (SELECT DISTINCT qid, cand FROM gtop) g
       |  LEFT JOIN etop e ON e.qid = g.qid AND e.cand = g.cand
       |  GROUP BY g.qid),
       |sperq AS (
       |  SELECT s.qid, CAST(COUNT(e.cand) AS BIGINT) AS n_seed_hits
       |  FROM seed3 s
       |  LEFT JOIN etop e ON e.qid = s.qid AND e.cand = s.cand
       |  GROUP BY s.qid),
       |aud AS (
       |  SELECT CAST(SUM(p.n_exact_hits) AS BIGINT) AS recall_num,
       |         CAST(SUM(sp.n_seed_hits) AS BIGINT) AS seed_num,
       |         CAST(3 * COUNT(*) AS BIGINT) AS recall_den
       |  FROM perq p JOIN sperq sp ON sp.qid = p.qid)
       |SELECT t.qid AS vec_id, t.cand AS nbr, t.cosim, t.rn,
       |       p.n_exact_hits, sp.n_seed_hits,
       |       a.recall_num, a.seed_num, a.recall_den,
       |       (a.recall_num >= a.seed_num) AS hops_no_loss
       |FROM gtop t
       |JOIN perq p ON p.qid = t.qid
       |JOIN sperq sp ON sp.qid = t.qid
       |CROSS JOIN aud a""".stripMargin

  private val graphAnnServeSql =
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$knnNp2ChainSql,
       |$graphAnnServeBodySql""".stripMargin

  /** q268's oracle: the identical unrolled beam search + exact audit,
    * over the REFINED generation — `assign`/`acos` swap for the Lloyd
    * store's membership/scores (`rassign`/`acos2`), the widened chain
    * and the serve body stay byte-shared with q253's oracle (targeted
    * anchor replaces, each required), so the two generations can only
    * differ in the quantizer. */
  private val refinedGraphAnnServeSql = {
    val a1 = "FROM acos)"
    val a2 = "JOIN assign a ON a.cid = s.cid"
    require(knnNp2ChainSql.contains(a1) && knnNp2ChainSql.contains(a2),
      "q268 chain anchors drifted")
    val rchain = knnNp2ChainSql
      .replace(a1, "FROM acos2)")
      .replace(a2, "JOIN rassign a ON a.cid = s.cid")
    val b1 = "FROM assign WHERE vec_id % 23 = 3"
    val b2 = "JOIN assign a ON a.cid = q.qcid"
    require(graphAnnServeBodySql.contains(b1) &&
      graphAnnServeBodySql.contains(b2), "q268 body anchors drifted")
    val rbody = graphAnnServeBodySql
      .replace(b1, "FROM rassign WHERE vec_id % 23 = 3")
      .replace(b2, "JOIN rassign a ON a.cid = q.qcid")
    s"""WITH $flatSql,
       |$normsSql,
       |$ivfAssignSql,
       |$lloydCtes,
       |rassign AS (SELECT vec_id, cid_refined AS cid FROM assign2),
       |$rchain,
       |$rbody""".stripMargin
  }

  /** The PERSISTED widened (nprobe=2) graph over the REFINED quantizer —
    * q268's serving substrate, a sibling branch of [[knnGraphNp2Store]].
    * The stamp carries the branch format token AND the quantizer
    * generation (`knngr2_1|np2|ivfr1|lloyd1|`): bumping either the edge
    * format or the Lloyd depth re-keys this store, so a reader can never
    * mix a refined graph with seed centroids or vice versa (the ADVICE
    * r18/r19 version-token conventions composed). Same maintenance
    * contract as the np2 branch: read-only for takedown, rebuild on
    * embeddings change. */
  private[graft] def knnGraphRefinedNp2Store(s: SparkSession, dir: String): String = {
    val path = "target/graft_index/knngr2_" + IndexStore.dirTag(dir)
    val stamp = "knngr2_1|np2|ivfr1|lloyd1|" +
      IndexStore.sourceStamp(s, Seq(s"$dir/embeddings.parquet"))
    IndexStore.stamped(s, path, stamp) {
      val (rc, ra) = corpusRefinedIvfIndex(s, dir)
      IndexStore.write(s, path, stamp,
        Seq("edges" -> knnGraphFrameNpOn(rc, ra, 2)))
    }
    path
  }

  /** q268: q253's graph-ANN serving RE-POINTED at the Lloyd-refined
    * generation — the re-pointing the q267 gain licenses, measured
    * before registration (PLANS.md "Round-20: the Lloyd-refined
    * quantizer measured"): at the registered dials (B=4,
    * H=2, np2 edges) the refined substrate serves recall@3 0.169 vs the
    * seed generation's 0.134 at sf0.1 — the quantizer was the binding
    * constraint, exactly as the r19 sweep diagnosed. Same query shape,
    * same audits, same hops-never-lose-recall invariant; the seed
    * baseline (q253) stays registered so the generations are compared
    * query-to-query every round. Both stores are stamp-guarded branch
    * builds; serving reads the edges table only. */
  def refinedGraphAnnServe(s: SparkSession, dir: String): DataFrame = {
    tune(s)
    val edges = IndexStore
      .read(s, knnGraphRefinedNp2Store(s, dir), "edges")
      .select(col("src"), col("nbr"))
    graphAnnServeAt(s, dir, 4, 2, edges, quantizer = "refined")
  }

  override val queries: Seq[GQuery] = Seq(
    GQuery("q55_array_ops", "array column structural access (F16)", arrayOps, Some(arrayOpsSql)),
    GQuery("q59_hof_ops", "filter/exists/forall/transform higher-order array breadth (F16)",
      hofOps, Some(hofOpsSql)),
    GQuery("q64_cosine_knn", "brute-force exact cosine top-5, broadcast probes + per-row folds", cosineKnn, Some(cosineKnnSql)),
    GQuery("q126_hard_negatives", "contrastive hard-negative mining: top-4 most-similar wrong-label vectors",
      hardNegatives, Some(hardNegativesSql)),
    GQuery("q65_ivf_ann", "IVF-partitioned ANN: centroid assignment + in-cluster top-3", ivfAnn, Some(ivfAnnSql)),
    GQuery("q184_ivf_index",
      "IVF ANN served from the persisted index: probe reads only the probed clusters' cid-pruned bytes; same oracle as q65",
      ivfAnnIndexed, Some(ivfAnnSql)),
    GQuery("q236_store_manifests",
      "manifest symmetry: the q235 DESCRIBE surface extended to the dedup/IVF/PQ/kNN-graph stores — one row per (family, table, cardinality) enumerated from each store's own listing, every count re-derived from raw corpus/embeddings (the PQ codebook count re-runs the Lloyd rounds; the knng edge count re-derives the whole cell-scoped top-3 graph)",
      storeManifests, Some(storeManifestsSql)),
    GQuery("q239_knn_graph",
      "kNN-graph construction: every corpus vector's top-3 cosine neighbors, IVF-cell-scoped from the persisted assignment (pair volume tracks cluster sizes, never corpus squared), exact-oracled per cell",
      knnGraph, Some(knnGraphSql)),
    GQuery("q247_knn_graph_np2",
      "the widened (nprobe=2) kNN graph, oracled: each source gathers candidates from its top-2 coarse cells against the stored centroids (superset of the default cell — closes the singleton-cell recall hole at ~2x pair volume) through one salted cell join, no pair dedup (cells partition the corpus, so a pair cannot duplicate across probed cells); the recall dial promoted from spec-only to an oracled build path, width passed as an explicit parameter, maintained store stays nprobe=1 by the q243 repair contract",
      knnGraphNp2, Some(knnGraphNp2Sql)),
    GQuery("q253_graph_ann_serve",
      "graph-based ANN serving: IVF-seeded beam search (B=4, 2 hops) over the widened kNN graph's cross-cell edges, rescored with true cosine per hop; exact-top-3 recall reported as measured data (q188 convention) with the hops-never-lose-recall invariant gated — the oracle replays the identical unrolled search",
      graphAnnServe, Some(graphAnnServeSql)),
    GQuery("q268_refined_graph_ann",
      "graph-ANN serving re-pointed at the Lloyd-refined quantizer: the q267-measured gain realized on the serving path — IVF-seeded beam search (B=4, 2 hops) over the refined generation's widened edges from a doubly version-keyed branch store (knngr2_1|np2|ivfr1|lloyd1); recall@3 0.169 vs the seed generation's 0.134 at sf0.1 at identical dials; oracle replays the Lloyd step + the identical unrolled search",
      refinedGraphAnnServe, Some(refinedGraphAnnServeSql)),
    GQuery("q240_mutual_knn",
      "mutual-kNN symmetrization: pairs where each vector is in the other's top-3 (reciprocity, the high-precision near-dup candidate filter over the directed graph) — one checkpointed q239 graph self-joined on the reversed edge, both ranks carried",
      mutualKnn, Some(mutualKnnSql)),
    GQuery("q241_knn_clusters",
      "semantic near-dup clusters over the mutual-kNN graph: reciprocity-filtered edges closed under connectivity (the measured three-tier CC, labels = min member id) into the per-cluster ledger soft-dedup weighting and diversity sampling consume; CC input is the top-k graph's <=3N edges, corpus-linear however large the cells",
      knnClusters, Some(knnClustersSql)),
    GQuery("q242_label_noise",
      "label-noise audit via kNN neighborhood agreement: per-vector strict-minority gate (2*n_agree < n_nbrs, integer — no float thresholds) over the q239 graph, rolled up per label with the scorable/isolated split made visible; the confident-learning-style screen a labeled set runs before training",
      labelNoise, Some(labelNoiseSql)),
    GQuery("q243_knn_takedown",
      "takedown over the persisted kNN-graph store with O(affected) repair: deleting a vector also invalidates the lists it appeared IN, but removal only shrinks candidate sets, so untouched lists carry through and only sources that lost a neighbor re-rank against their cell minus the request — oracled bit-equal to a from-scratch rebuild over the filtered pairs, with zero traces and the repair count pinned",
      knnTakedown, Some(knnTakedownSql)),
    GQuery("q244_feed_synced_knn",
      "feed-driven sync of the kNN-graph store, O(delta + affected): deletes ride the q243 repair, arrivals coarse-assign against stored centroids and MERGE into survivors' lists (insertion only adds candidates, so re-windowing old edges plus cross-edges to same-cell arrivals IS the updated top-3 — no survivor re-scores its whole cell); oracled bit-equal to a rebuild from the lake's current state with the repair size pinned",
      feedSyncedKnn, Some(feedSyncedKnnSql)),
    GQuery("q245_masked_feed_sync_knn",
      "feed sync with O(delta) masked deletes for the kNN-graph store: deleted ids ride the delete-mask sidecar, superseded top-3 lists ride a second (src, seq) stale mask with their repaired/re-windowed replacements appended as later segments — every leg's write is delta- or affected-sized, no edges rewrite; served view oracled bit-equal to q244's physical sync, fold ≡ physical pinned in MaskFoldSpec",
      maskedFeedSyncedKnn, Some(maskedFeedSyncedKnnSql)),
    GQuery("q224_vector_takedown",
      "takedown erasure over the persisted IVF index: one anti-join over assign, centroids kept (probes just stop returning the erased ids), centroid-seed requests refused loudly",
      vectorTakedown, Some(vectorTakedownSql)),
    GQuery("q229_feed_synced_ann",
      "feed-driven IVF sync: the lake's change feed applied O(delta) — deletes anti-join assign, arrivals coarse-assign against the STORED centroids and append; probe oracled from the lake's current state at v1 centroids",
      feedSyncedAnn, Some(feedSyncedAnnSql)),
    GQuery("q232_masked_feed_sync_ann",
      "feed sync with O(delta) masked deletes for the IVF index: the sequence-scoped delete-mask sidecar replaces q229's assign rewrite; the broadcast anti-join rides the cid-pruned probe scan, and membership being the whole serving state, the masked probe is drift-free even before the fold",
      maskedFeedSyncedAnn, Some(maskedFeedSyncedAnnSql)),
    GQuery("q233_masked_feed_sync_adc",
      "feed sync with O(delta) masked deletes for the PQ code store: the delete-mask sidecar replaces q230's codes rewrite; ADC distance tables derive from probes + codebooks alone, so the masked probe is bit-equal to the physical rewrite's even before the fold",
      maskedFeedSyncedAdc, Some(maskedFeedSyncedAdcSql)),
    GQuery("q230_feed_synced_adc",
      "feed-driven PQ code-store sync completing the four-family lake loop: deletes anti-join codes, arrivals encode against the STORED codebooks; full-scan ADC top-3 oracled from the lake's current state at v1 codebooks",
      feedSyncedAdc, Some(feedSyncedAdcSql)),
    GQuery("q185_kmeans_refine",
      "one distributed Lloyd step over the IVF seeding: broadcast assign, decimal-exact component means, re-assign",
      kmeansRefine, Some(kmeansRefineSql)),
    GQuery("q186_semdedup",
      "SemDeDup semantic pruning: in-cluster cosine > eps drops all but the lowest-id member; per-cluster ledger",
      semDedup, Some(semDedupSql)),
    GQuery("q196_semdedup_capped",
      "SemDeDup in capped mode (2 keepers per cluster): the linear 100TB shape, over-keep trade oracled end-to-end",
      semDedupCapped, Some(semDedupCappedSql)),
    GQuery("q197_kmeans_fixed_k",
      "Lloyd step with fixed-K seeding (K=8, m=ceil(N/8)): linear N*K assignment, the deployment alternative to sqrt-K",
      kmeansFixedK, Some(kmeansFixedKSql)),
    GQuery("q188_ann_recall",
      "ANN quality gate: recall@3 of the persisted-IVF probe vs the exact brute-force top-3, per probe",
      annRecall, Some(annRecallSql)),
    GQuery("q267_refined_ann_recall",
      "Lloyd-refined quantizer as a serving index: the modulus seeding pushed through one q185 Lloyd step into a stamped version-keyed store (ivfr1|lloyd1), then q188's recall comparison run over BOTH quantizer generations against the exact baseline on q253's serving slice — per-probe and total recall@3 hash-pinned, the measured gain machine-checked as data (lifts at sf0.01/sf0.1, costs one hit at sf0.001; adjudicated in PLANS)",
      refinedAnnRecall, Some(refinedAnnRecallSql)),
    GQuery("q198_pq_codes",
      "product-quantization encoding (8x8-dim subspaces, ~64 Lloyd-refined codewords each) served from the persisted PQ index",
      pqEncode, Some(pqEncodeSql)),
    GQuery("q199_pq_adc",
      "ADC top-3: probes score the corpus from its PQ codes only (32x fewer bytes than the raw-vector baseline)",
      pqAdcTopk, Some(pqAdcSql)),
    GQuery("q226_pq_takedown",
      "takedown over the PQ code store: the q224 request slice anti-joined from codes, codebooks kept (trained means, no id linkage), erased vectors unscorable because their codes are gone",
      pqTakedown, Some(pqTakedownSql)),
    GQuery("q200_ivfpq_probe",
      "IVFADC: coarse IVF cluster pruning + fine PQ ADC scoring — the probe reads only the probed clusters' code bytes",
      ivfPqProbe, Some(ivfPqSql)),
    GQuery("q201_pq_error",
      "PQ quality gate: per-subspace quantization MSE + codebook utilization from the stored codes",
      pqQuantError, Some(pqQuantErrorSql)),
    GQuery("q202_l2_knn",
      "brute-force exact L2 top-5 via the native graft_sqdist kernel — the Euclidean baseline the PQ family is gated against",
      l2Knn, Some(l2KnnSql)),
    GQuery("q203_ivfpq_recall",
      "IVF-PQ acceptance gate: recall@3 of the cluster-pruned ADC probe vs the exact L2 top-3, per probe",
      ivfPqRecall, Some(ivfPqRecallSql)),
    GQuery("q204_pq_screen",
      "ADC admission screen: arrivals coarse-assigned to stored centroids, scored vs the probed clusters' codes, near/accept per slice",
      pqScreen, Some(pqScreenSql)),
    GQuery("q207_embedding_curation",
      "composed curation pipeline: persisted IVF clusters -> SemDeDup pruning -> diversity quotas over survivors, per-cluster manifest",
      embeddingCuration, Some(embeddingCurationSql)),
    GQuery("q208_pq_refresh_seq",
      "sequential PQ refresh: two arrival batches encoded against STORED codebooks, appended as tagged segments; ADC probe over the merged codes",
      pqRefreshSeq, Some(pqRefreshSeqSql)),
    GQuery("q195_ivf_refresh_seq",
      "sequential IVF refresh: two arrival batches appended as tagged segments against stored centroids; probe mixes members of all segments",
      ivfRefreshSeq, Some(ivfRefreshSeqSql)),
    GQuery("q210_ivf_asof",
      "as-of probe over the sequential IVF store: candidates bounded by the pre-batch-2 segment horizon — index time travel as a filter, zero extra state",
      ivfProbeAsOf, Some(ivfProbeAsOfSql)),
    GQuery("q211_ivf_seq_compact",
      "sequential-IVF segment compaction: branch, collapse to one cid-sorted segment, q195's exact probe from the compacted branch",
      ivfSeqCompact, Some(ivfSeqCompactSql)),
    GQuery("q212_pq_seq_compact",
      "PQ code-store segment compaction: branch, collapse to one cid-sorted segment, q208's exact ADC probe from the compacted branch",
      pqSeqCompact, Some(pqSeqCompactSql)),
    GQuery("q191_ivf_refresh",
      "incremental IVF refresh: O(batch) assignment against STORED centroids into a branch store, probe proves co-residence",
      ivfRefresh, Some(ivfRefreshSql)),
    GQuery("q192_diversity_sample",
      "cluster-balanced diversity subset: per-cluster quotas with md5-shuffled deterministic picks",
      diversitySample, Some(diversitySampleSql)),
    GQuery("q78_embedding_neardup", "embedding-cosine near-dup via sign-LSH bucket join (no all-pairs)",
      embeddingNearDup, Some(embeddingNearDupSql)),
    GQuery("q128_embedding_degree", "embedding near-dup degree histogram at the diagnostic threshold 0.25, rides q78's pair frame",
      embeddingDegreeHistogram, Some(embeddingDegreeHistogramSql)),
    GQuery("q129_embedding_clusters", "connected components over the cosine graph at the diagnostic threshold 0.25 (not q78's 0.8), canonical pick per cluster",
      embeddingClusters, Some(embeddingClustersSql)),
    GQuery("q104_quantize_int8", "symmetric int8 embedding quantization with exact reconstruction-error accounting",
      quantizeInt8, Some(quantizeInt8Sql)),
    GQuery("q140_embedding_screen",
      "incremental vector screening vs a frozen sign-LSH index: exact/near/accept per batch slice",
      embeddingScreen, Some(embeddingScreenSql)),
    GQuery("q145_vec_screen_loop",
      "vector screen -> accept -> refreshVecIndex -> screen: the persisted-index ingest cycle, both stages oracled",
      screenVecLoop, Some(screenVecLoopSql)),
    GQuery("q149_vec_bloom_screen",
      "vector screen with the persisted bloom sidecar fast path; per-vector equality vs the plain probe audited",
      vecBloomScreen, Some(vecBloomScreenSql)),
  )
}
