package graft

import org.scalatest.funsuite.AnyFunSuite

/** The directory-swap gate: every directory replace in the engine goes
  * through ONE rename-aside swap, `Storage.swap`, and every crash heal
  * through ONE `Storage.heal` — stage, rename live aside, rename staged
  * in, drop the aside copy, each rename's result checked, the aside copy
  * restored before any delete. A hand-kept copy drifts (an unchecked
  * rename, a delete before the rollback, a heal that forgets the
  * writer-in-flight guard). This spec fails the build when a `src/main`
  * `.rename(` call appears anywhere else; the one other rename is
  * `StreamOps.staged`'s, which moves one part file into a fresh directory.
  */
class SwapGuardSpec extends AnyFunSuite {

  // a Hadoop rename call: a member selection, across line breaks
  private val renameCall = """\.\s*rename\s*\(""".r

  // a member definition at an object's or class's member indent
  private val memberDef = """^  (?:(?:private|protected)(?:\[\w+\])? |override |final )*def (\w+)""".r

  private val allowed = Set("Ingest.scala" -> "swap", "Ingest.scala" -> "heal",
    "StreamOps.scala" -> "staged")

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

  /** The member whose body holds line `at`: the last non-blank line at
    * member indent (two spaces) at or before it, if that line opens a
    * `def`; nested defs and other members' bodies sit deeper. */
  private def enclosingMember(lines: Seq[String], at: Int): String =
    (at to 0 by -1).map(lines).find(l => l.startsWith("  ") && !l.startsWith("   ") &&
      l.trim.nonEmpty).flatMap(l => memberDef.findFirstMatchIn(l).map(_.group(1))).getOrElse("")

  private def renames(text: String): Seq[(Int, String)] = {
    val lines = text.split("\n", -1).toSeq
    renameCall.findAllMatchIn(text).map { m =>
      val line = text.substring(0, m.start).count(_ == '\n')
      (line + 1, enclosingMember(lines, line))
    }.toSeq
  }

  test("the rename pattern and member finder: calls, not prose; the enclosing member, not a nested def") {
    Seq("if (!fs.rename(live, bak))", "fs\n  .rename(a, b)", "fs.rename (a, b)")
      .foreach(src => assert(renameCall.findFirstIn(src).isDefined, s"must match: $src"))
    Seq("// rename the live copy aside", "\"rename\"", "f.renameTo(g)",
        "df.withColumnRenamed(a, b)", "fs.renameSnapshot(a, b)")
      .foreach(src => assert(renameCall.findFirstIn(src).isEmpty, s"must not match: $src"))
    val text = Seq(
      "object Storage {",
      "  /** doc */",
      "  def swap(fs: FileSystem, live: Path): Unit = {",
      "    def fail(e: Exception): Nothing = throw e",
      "    if (!fs.rename(live, bak)) fail(e)",
      "  }",
      "  private[sources] def other(fs: FileSystem,",
      "      live: Path): Unit = {",
      "    def heal(): Unit = ()",
      "    fs.rename(live, bak)",
      "  }",
      "  private val x = fs.rename(a, b)",
      "}").mkString("\n")
    assert(renames(text) == Seq((5, "swap"), (10, "other"), (12, "")))
  }

  test("no src/main rename outside Storage.swap, Storage.heal and StreamOps.staged") {
    val files = sources
    assert(files.exists(_.getName == "Ingest.scala"),
      "src/main/scala not found (run from the repo root)")
    val hits = files.flatMap(f => renames(slurp(f)).map { case (l, d) => (f, l, d) })
    val (core, stray) = hits.partition { case (f, _, d) => allowed((f.getName, d)) }
    assert(core.map(h => (h._1.getName, h._3)).toSet == allowed,
      s"Storage.swap, Storage.heal and StreamOps.staged must hold the renames: $core")
    assert(stray.isEmpty,
      "renames outside the shared swap and heal (call Storage.swap / Storage.heal): " +
        stray.map { case (f, l, d) => s"${f.getPath}:$l (in $d)" }.mkString(", "))
  }
}
