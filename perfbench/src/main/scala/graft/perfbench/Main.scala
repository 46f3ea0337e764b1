package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, GQuery, QueryModule}
import graft.operators._
import graft.sources.{IndexStore, Snapshots}
import graft.streaming.IncrementalIngest

/** JVM side of the benchmark: runs one workload for a measured window and
  * writes raw samples (operation intervals, set-up times, output digests,
  * pipeline observations and, when traced, spans plus scheduler counters)
  * to a JSON file. `perfbench/run.py` turns them into metrics and checks.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <fixtureDir>
  *             <dailyDir> <workDir> <outFile>
  */
object Main {

  /** The modules of the read-only query suite, in registry order. */
  val relationalModules: Seq[(String, QueryModule)] = Seq(
    "cleaning" -> Cleaning, "relational" -> Relational, "analytics" -> Analytics,
    "temporal" -> Temporal, "events" -> Events)

  final case class Op(module: String, q: GQuery)

  /** Every 8th query of the relational modules in registry order (9 of 72,
    * each module at least once): a cold JVM pays 1-3 s per query on first
    * use, and each run must fit the benchmark's time budget. */
  val relationalSuite: Seq[Op] =
    relationalModules.flatMap { case (m, mod) => mod.queries.map(Op(m, _)) }
      .zipWithIndex.collect { case (op, i) if i % 8 == 0 => op }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, fixture, daily, work, out) = args
    val run = new Run(seedS.toLong, secondsS.toDouble, traceS == "1", fixture, daily, work)
    try {
      workload match {
        case "daily_pipeline" => run.daily()
        case "relational_suite" => run.querySuite(relationalSuite)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally {
      Files.writeString(Paths.get(out), Json(run.result))
      if (run.spark != null) run.spark.stop()
    }
  }

  /** A failure as the result file records it: what failed, the exception,
    * and its first stack frame. */
  def failure(what: String, e: Throwable): Map[String, Any] = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    System.err.println(s"[perfbench] FAILED $what: $e")
    Map("op" -> what, "error" -> s"${root.getClass.getName}: ${root.getMessage}",
      "frame" -> root.getStackTrace.headOption.map(_.toString).getOrElse(""))
  }

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}

final class Run(seed: Long, seconds: Double, trace: Boolean, fixture: String,
                daily: String, work: String) {
  import Main._

  var spark: SparkSession = _
  /** Session build plus the untimed warm-up (and, daily, the base state). */
  var setupS = 0.0
  /** Operations of the untimed warm-up passes. */
  var warmOps: Seq[Map[String, Any]] = Nil
  /** Timed passes: wall seconds, traced or not, each operation, and what
    * the pass wrote. */
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Daily pipeline observations, tagged with their pass (-1: warm pass). */
  val observed = mutable.ArrayBuffer.empty[Map[String, Any]]
  val spans = new Spans
  val layers = new LayerListener
  private var passNo = -1

  def result: Map[String, Any] = Map(
    "setup_s" -> setupS, "warm_ops" -> warmOps,
    "passes" -> passes.toSeq, "failures" -> failures.toSeq, "observed" -> observed.toSeq,
    "spans" -> spans.all, "layers" -> (if (trace) layers.toJson else Map.empty),
    "java_version" -> System.getProperty("java.version"),
    "spark_version" -> Option(spark).map(_.version).getOrElse(""))

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def startSession(): Unit = {
    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.tune(spark)
  }

  /** Run timed passes until `seconds` have elapsed (at least one), each
    * between an untimed `reset` and an untimed `check`. A traced run
    * alternates untraced and traced passes, at least two, so the difference
    * between the two kinds is the tracing overhead; counters come from
    * traced passes only. A pass returns its operations and any extra fields
    * of its record. */
  private def measure(pass: () => (Seq[Map[String, Any]], Map[String, Any]),
                      reset: () => Unit, check: () => Unit): Unit = {
    val start = System.nanoTime()
    passNo = 0
    while (passNo == 0 || (trace && passNo < 2) || secs(start) < seconds) {
      val traced = trace && passNo % 2 == 1
      reset()
      if (traced) layers.install(spark)
      val t0 = System.nanoTime()
      spans.on = traced
      val (ops, extra) = spans.span(s"pass:$passNo")(pass())
      spans.on = false
      val wall = secs(t0)
      if (traced) layers.uninstall(spark)
      check()
      passes += extra ++ Map("wall_s" -> wall, "traced" -> traced, "ops" -> ops)
      passNo += 1
    }
  }

  // ------------------------------------------------------------- query suite

  /** Order-independent digest of a query's output: row count plus the sum
    * of a 64-bit hash of each row's JSON form. */
  private def digest(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*)))
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** Set-up runs every query three times: the first, cold execution pays
    * class loading, code generation and session caches, and the JIT keeps
    * speeding the next passes up. The timed passes then run them in a
    * seeded order. Every execution goes through the digest sink, which
    * evaluates every output column like a noop sink and yields the digest
    * the check compares. */
  def querySuite(ops: Seq[Op]): Unit = {
    val t0 = System.nanoTime()
    startSession()
    warmOps = Seq.fill(3)(ops).flatten.map(runQuery)
    setupS = secs(t0)
    val rng = new scala.util.Random(seed)
    measure(() => (rng.shuffle(ops).map(runQuery), Map.empty), () => (), () => ())
  }

  private def runQuery(op: Op): Map[String, Any] = {
    val t0 = Clock.nowMs
    val out = try {
      spans.span(s"op:${op.module}:${op.q.name}") {
        val df = spans.span("build")(op.q.fn(spark, fixture))
        Right(spans.span("exec")(digest(df)))
      }
    } catch { case e: Throwable => Left(failure(op.q.name, e)) }
    out.left.foreach(failures += _)
    Map("name" -> op.q.name, "module" -> op.module, "t0" -> t0, "t1" -> Clock.nowMs,
      "ok" -> out.isRight, "digest" -> out.toOption)
  }

  // ---------------------------------------------------------- daily pipeline

  private val liSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType), StructField("batch", IntegerType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("batch", IntegerType)))
  private val keys = Seq("l_orderkey", "l_linenumber")

  /** The pipeline's state lives under `live/`; `base/` keeps a copy of its
    * base state. The screen index is only read, so it stays outside both. */
  private def p(parts: String*): String = Paths.get(work, ("live" +: parts): _*).toString
  private val base = Paths.get(work, "base")
  private val serve = p("serve")            // what the Cleaning queries read
  private val lake = p("lake")              // the upserted snapshot table
  private val searchIdx = p("search_index")
  private val dedupIdx = Paths.get(work, "dedup_index").toString

  private def csv(path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  private def batchDirs: Seq[Path] =
    Files.list(Paths.get(daily)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("batch_")).toSeq.sortBy(_.toString)

  private var dedup: DedupIndex = _
  private var landedBytes = 0L

  /** Build the base state once: the lake holds the base lineitem rows, the
    * screen and search indexes the base corpus. Manifests name files by
    * absolute path, so [[restore]] puts the copy back in the same place. */
  private def buildBase(): Unit = {
    deleteTree(Paths.get(work))
    Files.createDirectories(Paths.get(serve))
    Files.copy(Paths.get(fixture, "orders.parquet"), Paths.get(serve, "orders.parquet"))
    val rows = csv(Paths.get(daily, "base", "lineitem.csv").toString, liSchema).drop("batch")
    Snapshots.commit(rows, lake, append = false)
    val corpus = csv(Paths.get(daily, "base", "documents.csv").toString,
      StructType(docSchema.take(2)))
    Dedup.persistIndex(Dedup.buildIndex(corpus), dedupIdx, "perfbench-base")
    dedup = Dedup.loadIndex(spark, dedupIdx)
    Search.persistIndex(spark, searchIdx, "perfbench-base", corpus)
    copyTree(Paths.get(p()), base)
  }

  /** Put the base state back before a pass. */
  private def restore(): Unit = {
    deleteTree(Paths.get(p()))
    copyTree(base, Paths.get(p()))
  }

  /** Set-up builds the base state and runs one untimed warm pass (class
    * loading, code generation, the first run of every step); each timed
    * pass then starts from the restored base state. */
  def daily(): Unit = {
    val t0 = System.nanoTime()
    startSession()
    val batches = batchDirs
    landedBytes = batches.map(d => Files.size(d.resolve("lineitem.csv")) +
      Files.size(d.resolve("documents.csv"))).sum
    buildBase()
    warmOps = dailyPass(batches)._1
    dailyCheck()
    setupS = secs(t0)
    measure(() => dailyPass(batches), () => restore(), () => dailyCheck())
  }

  /** Files under the lake and the serving stores: path -> bytes. */
  private def storeFiles(): Map[String, Long] =
    Seq(serve, lake, searchIdx).flatMap { d =>
      tree(Paths.get(d)).filter(Files.isRegularFile(_)).map(f => f.toString -> Files.size(f))
    }.toMap

  /** Every batch, then the close. Returns the batch operations and the
    * bytes and files the pass wrote to the lake and the serving stores. */
  private def dailyPass(batches: Seq[Path]): (Seq[Map[String, Any]], Map[String, Any]) = {
    var seen = storeFiles()
    var written = 0L
    var files = 0L
    def account(): Unit = {
      val now = storeFiles()
      val fresh = now.filter { case (f, n) => !seen.get(f).contains(n) }
      written += fresh.values.sum
      files += fresh.size
      seen = now
    }
    val ops = batches.zipWithIndex.map { case (dir, i) =>
      val b = i + 1
      val t0 = Clock.nowMs
      val obs = try Some(spans.span(s"op:pipeline:batch_$b")(batch(b, dir)))
        catch { case e: Throwable => failures += failure(s"batch $b", e); None }
      val t1 = Clock.nowMs
      account()
      obs.foreach(o => observed += o + ("pass" -> passNo))
      Map("name" -> s"batch_$b", "module" -> "pipeline", "t0" -> t0, "t1" -> t1,
        "ok" -> obs.isDefined)
    }
    try {
      spans.span("op:pipeline:close") {
        spans.span("store.fold")(IndexStore.autoFoldIfNeeded(
          spark, searchIdx, "doclen", "doc_id", threshold = Some(0.0))(
          Search.foldDeleteMask(spark, searchIdx)))
        spans.span("store.compact")(Search.compactSearchIndex(spark, searchIdx))
        spans.span("lake.compact")(Snapshots.compact(spark, lake))
      }
      account()
    } catch { case e: Throwable => failures += failure("close", e) }
    (ops, Map("written_bytes" -> written, "written_files" -> files,
      "landed_bytes" -> landedBytes))
  }

  /** After a pass, untimed: rows ingested per batch, the lake's row count,
    * every batch's probe token against the compacted index, and the sizes
    * of the lake and the search index. */
  private def dailyCheck(): Unit = {
    val state = try {
      val ingested = spark.read.parquet(p("serve", "lineitem.parquet")).groupBy("batch").count()
        .collect().map(r => r.getInt(0).toString -> r.getLong(1)).toMap
      val probes = batchDirs.indices.map(i => s"probe${i + 1}")
      Map("ingested" -> ingested, "lake_rows" -> Snapshots.read(spark, lake).count(),
        "probes" -> probe(probes, probes.size * 10).groupBy(_._1)
          .map { case (t, hits) => t -> hits.map(_._2).sorted },
        "lake_files" -> tree(Paths.get(lake)).count(_.toString.endsWith(".parquet")),
        "store_bytes" -> storeFiles().filter(_._1.startsWith(searchIdx)).values.sum)
    } catch { case e: Throwable => failures += failure("check", e); Map.empty[String, Any] }
    observed += Map("final" -> state, "pass" -> passNo)
  }

  /** Top hits of each probe token against the live search index. */
  private def probe(tokens: Seq[String], k: Int): Seq[(String, Long)] = {
    val s = spark
    import s.implicits._
    val idx = Search.loadIndex(spark, searchIdx)
    val mask = IndexStore.readDeleteMaskOrEmpty(spark, searchIdx, "doc_id")
    val live = SearchIndex(Search.maskedAsOf(idx.postings, mask, Long.MaxValue),
      idx.doclen, idx.dict, () => Search.maskedAsOf(idx.positions, mask, Long.MaxValue))
    val q = tokens.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("qid", "tok")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    Search.bm25(live, q).withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("doc_id")).collect()
      .map(r => tokens(r.getLong(0).toInt) -> r.getLong(1)).toSeq
  }

  private def land(src: Path, dstDir: String): Unit = {
    Files.createDirectories(Paths.get(dstDir))
    Files.copy(src, Paths.get(dstDir, src.getParent.getFileName.toString + ".csv"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def dataFiles(dir: String): Long = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) 0L
    else Files.list(d).iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
  }

  /** One daily batch, from landing to servable. Returns what the checks
    * compare against the generator's expectations. */
  private def batch(b: Int, dir: Path): Map[String, Any] = {
    val liOut = p("serve", "lineitem.parquet")
    val docOut = p("serve", "documents_feed")
    land(dir.resolve("lineitem.csv"), p("landing", "lineitem"))
    land(dir.resolve("documents.csv"), p("landing", "documents"))
    spans.span("ingest") {
      IncrementalIngest.ingestOnce(spark, p("landing", "lineitem"), p("ckpt", "lineitem"),
        liOut, liSchema)
      IncrementalIngest.ingestOnce(spark, p("landing", "documents"), p("ckpt", "documents"),
        docOut, docSchema)
    }
    val before = dataFiles(liOut) + dataFiles(docOut)
    spans.span("ingest.rerun") {
      IncrementalIngest.ingestOnce(spark, p("landing", "lineitem"), p("ckpt", "lineitem"),
        liOut, liSchema)
      IncrementalIngest.ingestOnce(spark, p("landing", "documents"), p("ckpt", "documents"),
        docOut, docSchema)
    }
    val rerunFiles = dataFiles(liOut) + dataFiles(docOut) - before
    spans.span("clean") {
      Cleaning.queries.foreach { q =>
        spans.span(s"clean:${q.name}") {
          val df = spans.span("build")(q.fn(spark, serve))
          spans.span("exec")(df.write.format("noop").mode("overwrite").save())
        }
      }
    }
    val rows = spark.read.parquet(liOut).filter(col("batch") === b).drop("batch")
    spans.span("lake.upsert")(Snapshots.upsert(rows, lake, keys))
    val docs = spark.read.parquet(docOut).filter(col("batch") === b)
      .select(col("doc_id"), col("text"))
    val decisions = spans.span("screen")(
      Dedup.incrementalScreen(dedup.digests, dedup.sigs, dedup.bands, docs)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    spans.span("store.feed") {
      val s = spark
      import s.implicits._
      val accepted = decisions.collect { case (id, "accept") => id }.toSeq.toDF("doc_id")
      val takedowns = csv(dir.resolve("takedowns.csv").toString,
        StructType(Seq(StructField("doc_id", LongType))))
      IndexStore.appendDeleteMask(spark, searchIdx, takedowns.withColumn("seq", lit(b - 1L)))
      Search.applyFeedToIndex(spark, searchIdx, b, docs.join(accepted, "doc_id"),
        takedowns.limit(0))
    }
    val folded = spans.span("store.fold")(IndexStore.autoFoldIfNeeded(
      spark, searchIdx, "doclen", "doc_id")(
      Search.foldDeleteMask(spark, searchIdx)))
    val hits = spans.span("serve.probe")(probe(Seq(s"probe$b"), 10)).map(_._2).sorted
    Map("batch" -> b, "rerun_new_files" -> rerunFiles, "folded" -> folded,
      "screen" -> decisions.map { case (id, d) => id.toString -> d },
      "probe" -> hits)
  }

  /** Every path under `root`, `root` first; empty if it does not exist. */
  private def tree(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else Using.resource(Files.walk(root))(_.iterator().asScala.toSeq)

  private def deleteTree(root: Path): Unit = tree(root).reverse.foreach(Files.delete)

  private def copyTree(src: Path, dst: Path): Unit = tree(src).foreach { f =>
    val to = dst.resolve(src.relativize(f))
    if (Files.isDirectory(f)) Files.createDirectories(to)
    else Files.copy(f, to, StandardCopyOption.COPY_ATTRIBUTES)
  }
}
