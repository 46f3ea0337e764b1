package graft

import org.scalatest.funsuite.AnyFunSuite

/** The read-path gate: every batch parquet read in `src/main` goes
  * through [[Engine.parquet]], which infers a schema once per unchanged
  * file set. A plain `read...parquet(` chain anywhere else brings back a
  * schema-inference Spark job per read, so this spec fails the build
  * when one appears outside `Engine.scala`.
  */
class ReadPathGuardSpec extends AnyFunSuite {

  // a batch reader chain, across line breaks: read, any option/options/
  // schema calls (one level of nested parentheses), then .parquet(
  private val chain =
    """\bread\b(\s*\.\s*(option|options|schema)\((?:[^()]|\([^()]*\))*\))*\s*\.\s*parquet\(""".r

  private def sources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    walk(new java.io.File("src/main/scala"))
  }

  private def slurp(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("the chain pattern matches batch reads across lines, not readStream or writes") {
    Seq("s.read.parquet(p)",
        "spark.read\n  .option(\"basePath\", tbl)\n  .parquet(a, b)",
        "s.read.schema(k.schema).options(options).parquet(paths: _*)",
        "s.read.option(\"mergeSchema\", f(x)).parquet(p)")
      .foreach(src => assert(chain.findFirstIn(src).isDefined, s"must match: $src"))
    Seq("s.readStream.schema(schema).parquet(dir)",
        "df.write.mode(\"overwrite\").parquet(p)",
        "Engine.parquet(s, Seq(p))",
        "IndexStore.read(s, path, \"t\")")
      .foreach(src => assert(chain.findFirstIn(src).isEmpty, s"must not match: $src"))
  }

  test("no src/main file but Engine.scala holds a batch parquet reader chain") {
    val files = sources
    assert(files.exists(_.getName == "Engine.scala"), "src/main/scala not found (run from the repo root)")
    val hits = files.flatMap { f =>
      val text = slurp(f)
      chain.findAllMatchIn(text).map(m => (f, text.substring(0, m.start).count(_ == '\n') + 1))
    }
    val (engine, stray) = hits.partition(_._1.getName == "Engine.scala")
    assert(engine.nonEmpty, "Engine.parquet's own reads must match the pattern")
    assert(stray.isEmpty,
      "batch parquet reads outside Engine.parquet (each runs a schema-inference job): " +
        stray.map { case (f, l) => s"${f.getPath}:$l" }.mkString(", "))
  }
}
