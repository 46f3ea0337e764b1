package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The doc-drift gate (VERDICT r13 item 8: registered queries missing
  * from the docs for two consecutive rounds — "make it the snapshot
  * script's job, not a memory"). A registered query that no document
  * describes is invisible to a user deciding whether the library covers
  * their workload, so landing the registration and the doc row is ONE
  * change: this spec fails the build when they diverge.
  */
class DocCoverageSpec extends AnyFunSuite {

  private def slurp(f: String): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("every registered query is described in IMPLEMENTATION.md") {
    val text = slurp("IMPLEMENTATION.md")
    // accept the full registered name or the bare qNN id as a word —
    // the §2 tables name join/cleaning queries by short id (`q10`)
    val missing = SparkEntry.queries.keySet.toSeq.sorted.filterNot { n =>
      text.contains(n) ||
        ("""\b""" + n.split('_').head + """\b""").r.findFirstIn(text).isDefined
    }
    assert(missing.isEmpty,
      s"queries registered but undocumented in IMPLEMENTATION.md: $missing")
  }

  test("README's query count matches the registry") {
    val text = slurp("README.md")
    val m = """hash-compared \((\d+) queries, (\d+)\s*\nwith oracles""".r
      .findFirstMatchIn(text)
    assert(m.isDefined, "README correctness paragraph not found (anchor drifted)")
    val n = SparkEntry.queries.size
    assert(m.get.group(1).toInt == n && m.get.group(2).toInt == n,
      s"README claims ${m.get.group(1)}/${m.get.group(2)} queries; registry has $n")
  }

  test("no scaladoc block in src/main is directly followed by another") {
    // the first of two adjacent blocks documents nothing: scaladoc
    // attaches only the last one to the definition below
    val adjacent = """\*/\s*\n\s*/\*\*""".r
    val files = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      try w.iterator().asScala.map(_.toString).filter(_.endsWith(".scala")).toList
      finally w.close()
    }
    assert(files.nonEmpty, "no src/main sources found (run from the project root)")
    val orphans = files.sorted.flatMap { f =>
      val text = slurp(f)
      adjacent.findAllMatchIn(text).map(m => s"$f:${text.take(m.start).count(_ == '\n') + 1}")
    }
    assert(orphans.isEmpty, s"doc comments that document nothing: $orphans")
  }

  test("every registered query has an oracle") {
    val noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"queries without oracle SQL: $noOracle")
  }
}
