package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), subset) = (args.take(2), args.drop(2).toSet)
    // every failure lands in failures.json: a query's under its name, a
    // whole-run one (output dir, session build, oracle map) as "<run>"
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
    def attempt[T](name: String)(body: => T): Option[T] =
      try Some(body) catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += (name -> e)
        None
      }
    attempt("<run>")(Files.createDirectories(Paths.get(outDir)))
    val spark = attempt("<run>")(session())
    // optional trailing args = query-name subset (dev iteration)
    val selected = attempt("<run>")(SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }).getOrElse(Map.empty)
    val written = spark.fold(0)(sp => selected.count { case (name, fn) =>
      attempt(name)(fn(sp, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")).isDefined
    })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    attempt("<run>") {
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
    // per-query failure manifest beside the oracle map: a failed query is
    // named here with its cause, not only later as "no spark output";
    // the exit code stays 0: the per-query outputs are the contract
    // (SURVEY.md section 7)
    def str(s: String): String = q(Option(s).getOrElse(""))
    val failed = failures.toSeq.map { case (name, e) =>
      val frame = e.getStackTrace.headOption.map(_.toString).getOrElse("")
      s"{${q("name")}: ${q(name)}, ${q("exception")}: ${q(e.getClass.getName)}, " +
        s"${q("message")}: ${str(e.getMessage)}, ${q("frame")}: ${q(frame)}}"
    }
    try Files.writeString(Paths.get(s"$outDir/failures.json"), failed.mkString("[", ",\n", "]\n"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[verify] cannot write failures.json: ${e.getMessage}")
    }
    println(s"[verify] $written/${selected.size} queries written, " +
      s"${failures.size} failed${if (failures.isEmpty) "" else ": " + failures.map(_._1).mkString(" ")}")
    spark.foreach(_.stop())
  }

  private def session(): SparkSession = {
    val spark = Engine.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    try Engine.assertOracleKnobsUnset(spark)
    catch { case e: Throwable => spark.stop(); throw e }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
