package graft

import org.scalatest.funsuite.AnyFunSuite

/** The micro-batch harness gate: every staged multi-batch stream runs
  * through ONE function, `StreamOps.microBatches` — stage the ordered
  * slices, stream them one file per trigger under AvailableNow, check the
  * non-empty batch count, drop the checkpoint. A hand-kept copy drifts
  * (a missing batch-count check, a leaked checkpoint, an unpinned file
  * order). This spec fails the build when a `src/main` `.foreachBatch`
  * sink appears anywhere else.
  */
class StreamHarnessGuardSpec extends AnyFunSuite {

  // a foreachBatch sink call: a member selection, across line breaks
  private val sinkCall = """\.\s*foreachBatch\b""".r

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

  test("the sink pattern matches foreachBatch calls, not prose or other members") {
    Seq("src.writeStream\n  .foreachBatch { (b: DataFrame, id: Long) => f(b) }",
        "q.writeStream.foreachBatch(fn)",
        "df.writeStream.\n  foreachBatch(fn)")
      .foreach(src => assert(sinkCall.findFirstIn(src).isDefined, s"must match: $src"))
    Seq("/** Streaming merge sink: foreachBatch + mergeUpsert */",
        "\"streaming CDC sink: foreachBatch mergeUpsert into the lake\"",
        "// the foreachBatch consumer refreshes its state",
        "q.writeStream.foreachBatchWriter(fn)")
      .foreach(src => assert(sinkCall.findFirstIn(src).isEmpty, s"must not match: $src"))
  }

  test("no src/main foreachBatch sink outside StreamOps.microBatches") {
    val files = sources
    assert(files.exists(_.getName == "StreamOps.scala"),
      "src/main/scala not found (run from the repo root)")
    val hits = files.flatMap { f =>
      val text = slurp(f)
      sinkCall.findAllMatchIn(text).map(m =>
        (f, text.substring(0, m.start).count(_ == '\n') + 1, enclosingDef(text, m.start)))
    }
    val (core, stray) = hits.partition { case (f, _, d) =>
      f.getName == "StreamOps.scala" && d == "microBatches" }
    assert(core.size == 1, s"StreamOps.microBatches must hold the one foreachBatch: $core")
    assert(stray.isEmpty,
      "foreachBatch sinks outside StreamOps.microBatches (call it instead): " +
        stray.map { case (f, l, d) => s"${f.getPath}:$l (in $d)" }.mkString(", "))
  }
}
