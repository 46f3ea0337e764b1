package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cell-assignment gate: the coarse IVF cell of a vector — cosine
  * against the centroids, ties broken by cid — is computed by ONE
  * function, `Similarity.topCells`. The stored assignment, every
  * arrival's cell and every widened probe's cells must agree bit for bit,
  * and a hand-kept copy that drifts in its metric or tie-break breaks
  * that silently. This spec fails the build when a `src/main` window
  * orders by a descending score and then by cid anywhere else.
  */
class CellAssignGuardSpec extends AnyFunSuite {

  // a window order: descending score (up to two levels of nested
  // parentheses, e.g. round(col("c"), 9)), then cid, across line breaks
  private val cellRank =
    """orderBy\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\.desc\s*,\s*col\("cid"\)\s*\)""".r

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

  /** The name of the `def` whose body holds offset `at` (the last
    * definition opened before it). */
  private def enclosingDef(text: String, at: Int): String = {
    val d = text.lastIndexOf("def ", at)
    if (d < 0) "" else text.substring(d + 4).takeWhile(c => c.isLetterOrDigit || c == '_')
  }

  test("the cell-rank pattern matches centroid rankings, not other windows or SQL") {
    Seq("Window.partitionBy(col(\"vec_id\")).orderBy(col(\"cosim0\").desc, col(\"cid\"))",
        "w.partitionBy(col(\"src\"))\n  .orderBy(col(\"ccos\").desc,\n    col(\"cid\"))",
        "Window.partitionBy(col(\"qid\")).orderBy(round(col(\"c\"), 9).desc, col(\"cid\"))")
      .foreach(src => assert(cellRank.findFirstIn(src).isDefined, s"must match: $src"))
    Seq("Window.partitionBy(col(\"qid\")).orderBy(col(\"cosim0\").desc, col(\"vid\"))",
        "Window.partitionBy(col(\"cid\")).orderBy(col(\"uid\"))",
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosim DESC, cid) AS rn",
        "Window.partitionBy(col(\"src\")).orderBy(col(\"cosim\").desc, col(\"nbr\"))")
      .foreach(src => assert(cellRank.findFirstIn(src).isEmpty, s"must not match: $src"))
  }

  test("no src/main window ranks centroids by cosine then cid outside Similarity.topCells") {
    val files = sources
    assert(files.exists(_.getName == "Similarity.scala"),
      "src/main/scala not found (run from the repo root)")
    val hits = files.flatMap { f =>
      val text = slurp(f)
      cellRank.findAllMatchIn(text).map(m =>
        (f, text.substring(0, m.start).count(_ == '\n') + 1, enclosingDef(text, m.start)))
    }
    val (core, stray) = hits.partition { case (f, _, d) =>
      f.getName == "Similarity.scala" && d == "topCells" }
    assert(core.size == 1, s"Similarity.topCells must hold the one cell ranking: $core")
    assert(stray.isEmpty,
      "cell assignments outside Similarity.topCells (call it instead): " +
        stray.map { case (f, l, d) => s"${f.getPath}:$l (in $d)" }.mkString(", "))
  }
}
