package graft

import graft.sources.{IndexStore, Snapshots}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[Engine.parquet]]'s contract: a repeat read of an unchanged file set
  * reuses the inferred schema and starts no Spark job; any change to the
  * listing (append, rewrite, rename swap) is seen on the next read; reads
  * stay independent relations; errors and partition columns are exactly
  * a plain `read.parquet`'s; and a session never gets a schema inferred
  * under another session's type-mapping confs.
  */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private lazy val base = {
    val d = java.nio.file.Files.createTempDirectory("parquet-read-spec").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Spark jobs started by `body` (those `only` selects). Sentinel jobs
    * bracket it, so the (asynchronous) listener bus has delivered every
    * earlier job before counting starts and every job of `body` before
    * counting stops. */
  private def jobsDuring(ss: SparkSession,
      only: org.apache.spark.scheduler.SparkListenerJobStart => Boolean = _ => true)(
      body: => Unit): Int = {
    val sentinel = "parquet-read-sentinel"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        if (desc.exists(_.startsWith(sentinel))) seen.put(desc.get)
        else if (only(e)) jobs.incrementAndGet(): Unit
      }
    }
    def flush(tag: String): Unit = {
      ss.sparkContext.setJobDescription(s"$sentinel-$tag")
      try ss.range(1).count() finally ss.sparkContext.setJobDescription(null)
      // one action may run several jobs (AQE stages): skip to this tag
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .find(d => d == null || d == s"$sentinel-$tag")
        .foreach(d => assert(d != null, "listener bus did not deliver the sentinel job"))
    }
    ss.sparkContext.addSparkListener(listener)
    try {
      flush("before")
      jobs.set(0)
      body
      flush("after")
      jobs.get
    } finally ss.sparkContext.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a repeat read of an unchanged fixture table starts no Spark job; the first read infers once") {
    val ss = s.newSession()
    Engine.tune(ss)
    val first = jobsDuring(ss)(Engine.table(ss, TestSpark.sf, "nation"): Unit)
    assert(first == 1, s"the first read must run exactly one inference job, ran $first")
    var again: DataFrame = null
    val second = jobsDuring(ss) { again = Engine.table(ss, TestSpark.sf, "nation") }
    assert(second == 0, s"the repeat read ran $second Spark job(s)")
    assert(again.schema == ss.read.parquet(s"${TestSpark.sf}/nation.parquet").schema)
    assert(again.count() == 25L)
  }

  test("an appended file and a rewrite that adds a column are seen on the next read") {
    import s.implicits._
    val p = s"$base/grow"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(p)
    assert(rows(Engine.parquet(s, Seq(p))) == Seq("[1,a]", "[2,b]"))
    assert(Engine.parquet(s, Seq(p)).count() == 2L, "repeat read of the unchanged table")
    Seq((3L, "c")).toDF("k", "v").write.mode("append").parquet(p)
    assert(rows(Engine.parquet(s, Seq(p))) == Seq("[1,a]", "[2,b]", "[3,c]"),
      "the appended file's rows must be visible")
    Seq((4L, "d", 40)).toDF("k", "v", "w").write.mode("overwrite").parquet(p)
    val rewritten = Engine.parquet(s, Seq(p))
    assert(rewritten.columns.toSeq == Seq("k", "v", "w"), "the rewrite's new column must surface")
    assert(rows(rewritten) == Seq("[4,d,40]"))
  }

  test("a rename-swapped store table is re-inferred") {
    import s.implicits._
    val store = s"$base/swapstore"
    IndexStore.write(s, store, "v1", Seq("t" -> Seq((1L, "a")).toDF("id", "v")))
    assert(IndexStore.read(s, store, "t").columns.toSeq == Seq("id", "v"))
    assert(IndexStore.read(s, store, "t").count() == 1L)
    IndexStore.replaceTable(s, store, "t", Seq((2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "v", "x"))
    val after = IndexStore.read(s, store, "t")
    assert(after.schema("x").dataType == DoubleType, "the swapped table's new column must surface")
    assert(rows(after) == Seq("[2,b,2.5]", "[3,c,3.5]"))
  }

  test("two reads of one table self-join through a(k) === b(k) references") {
    val sf = TestSpark.sf
    val want = {
      val a = s.read.parquet(s"$sf/nation.parquet")
      val b = s.read.parquet(s"$sf/nation.parquet")
      rows(a.join(b, a("n_regionkey") === b("n_regionkey"))
        .select(a("n_nationkey"), b("n_nationkey")))
    }
    val a = Engine.table(s, sf, "nation")
    val b = Engine.table(s, sf, "nation")
    assert(Engine.knownSchema(s, Seq(s"$sf/nation.parquet")).isDefined, "the second read is a cache hit")
    val got = rows(a.join(b, a("n_regionkey") === b("n_regionkey"))
      .select(a("n_nationkey"), b("n_nationkey")))
    assert(got.size == 125, "25 nations over 5 regions: 5 * 5 * 5 pairs")
    assert(got == want)
  }

  test("a missing path and an empty directory raise what a plain read raises") {
    import s.implicits._
    def failure(read: => DataFrame): (Class[_], Option[String]) = {
      val e = intercept[Exception](read)
      (e.getClass, e match { case t: SparkThrowable => Option(t.getCondition); case _ => None })
    }
    def sameAsPlain(p: String): Unit = {
      val plain = failure(s.read.parquet(p))
      assert(plain._2.isDefined, s"the plain read's error carries a condition: $plain")
      assert(failure(Engine.parquet(s, Seq(p))) == plain)
    }
    // each path is first read successfully, so a schema is held for it
    val gone = s"$base/gone"
    Seq(1L).toDF("k").write.mode("overwrite").parquet(gone)
    assert(Engine.parquet(s, Seq(gone)).count() == 1L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(gone))
    sameAsPlain(gone)
    val emptied = s"$base/emptied"
    Seq(1L).toDF("k").write.mode("overwrite").parquet(emptied)
    assert(Engine.parquet(s, Seq(emptied)).count() == 1L)
    new java.io.File(emptied).listFiles().foreach(_.delete())
    assert(new java.io.File(emptied).isDirectory)
    sameAsPlain(emptied)
    sameAsPlain(s"$base/never-written")
  }

  test("a basePath segment read keeps the partition column with the same type") {
    import s.implicits._
    val store = s"$base/segstore"
    (0 to 1).foreach(v => assert(IndexStore.appendSegmentIfAbsent(s, store, "t", "seg", v.toLong,
      Seq((v * 10L, s"r$v"), (v * 10L + 1, s"q$v")).toDF("id", "v"))))
    val segs = IndexStore.committedSegments(s, store, "t", "seg")
    val plain = s.read.option("basePath", s"$store/t").parquet(segs.map(v => s"$store/t/seg=$v"): _*)
    assert(plain.schema("seg").dataType == IntegerType)
    val first = IndexStore.readSegments(s, store, "t", "seg", segs)
    val again = IndexStore.readSegments(s, store, "t", "seg", segs)
    Seq(first, again).foreach { df =>
      assert(df.schema == plain.schema)
      assert(rows(df) == rows(plain))
    }
  }

  test("a session whose nanosAsLong differs does not get another session's schema") {
    // a TIMESTAMP(NANOS) column: LongType under nanosAsLong, illegal without
    val p = s"$base/nanos.parquet"
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(p)).withConf(conf).withType(msg).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      .newGroup().append("ts", 1772368496789012345L))
    finally w.close()
    val on = s.newSession()
    on.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(Engine.parquet(on, Seq(p)).schema("ts").dataType == LongType)
    assert(Engine.knownSchema(on, Seq(p)).isDefined)
    val off = s.newSession()
    off.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val plain = intercept[Exception](off.read.parquet(p))
    val got = intercept[Exception](Engine.parquet(off, Seq(p)))
    assert(got.getClass == plain.getClass && got.getMessage == plain.getMessage)
    // and within one session, flipping the conf re-keys the read
    on.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(intercept[Exception](Engine.parquet(on, Seq(p))).getClass == plain.getClass)
  }

  test("upsert seeds its staged segment's schema: equal to a fresh inference, and the key re-read hits") {
    val dir = s"$base/upsertlake"
    val df = s.range(4).select(
      col("id").as("k"),
      (lit(1772368496L) + col("id")).cast(TimestampType).as("ts"),
      (col("id") * 1.25).cast(DecimalType(12, 2)).as("amt"),
      lit("x").as("tag"))
    assert(!df.schema("tag").nullable, "the frame carries a non-nullable column")
    Snapshots.commit(df, dir, append = false)
    val before = new java.io.File(s"$dir/data").list().toSet
    Snapshots.upsert(df.withColumn("tag", lit("y")), dir, Seq("k"))
    val segDir = new java.io.File(s"$dir/data").list().toSet.diff(before)
      .filter(_.startsWith("seg_")).toSeq
    assert(segDir.size == 1, s"one staged data segment, got $segDir")
    val files = new java.io.File(s"$dir/data/${segDir.head}").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => new org.apache.hadoop.fs.Path(f.toURI).toString)
      .sorted.toSeq
    val seeded = Engine.knownSchema(s, files)
    assert(seeded.isDefined, s"no schema held for the staged files $files")
    val fresh = s.read.parquet(files: _*).schema
    assert(seeded.get == fresh)
    assert(fresh("ts").dataType == TimestampType && fresh("amt").dataType == DecimalType(12, 2))
    assert(jobsDuring(s)(Engine.parquet(s, files): Unit) == 0, "the seeded re-read must start no job")
    assert(Snapshots.read(s, dir).filter(col("tag") === "y").count() == 4L)
  }

  test("a commit with stats and bloom columns seeds its segment: the read-back infers nothing, the seed equals inference") {
    val dir = s"$base/sidecarlake"
    val df = s.range(6).select(
      col("id").as("k"),
      (col("id") * 1.25).cast(DecimalType(12, 2)).as("amt"),
      lit("x").as("tag"))
    // schema inference is the plain read inside Engine.parquet
    val inferring = (e: org.apache.spark.scheduler.SparkListenerJobStart) =>
      e.stageInfos.exists(_.name.startsWith("parquet at Engine.scala"))
    val n = jobsDuring(s, inferring) {
      Snapshots.commit(df, dir, append = false, statsCols = Seq("k", "amt"),
        bloomCols = Seq("tag")): Unit
    }
    assert(n == 0, s"the sidecars' read-back of the staged segment ran $n inference jobs")
    val segs = new java.io.File(s"$dir/data").list().filter(_.startsWith("seg_")).toSeq
    assert(segs.size == 1, s"one staged data segment, got $segs")
    val seg = new org.apache.hadoop.fs.Path(dir, s"data/${segs.head}").toString
    // the predicate is not vacuous: an unseeded session's read infers
    assert(jobsDuring(s, inferring)(Engine.parquet(s.newSession(), Seq(seg)): Unit) >= 1)
    val seeded = Engine.knownSchema(s, Seq(seg))
    assert(seeded.isDefined, s"no schema held for the staged segment $seg")
    assert(seeded.get == s.read.parquet(seg).schema)
  }
}
