package graft

import org.scalatest.funsuite.AnyFunSuite

/** `BenchDiff.perQuery`: the committed full bench parses to one entry per
  * registered query, and a file the gate cannot read is refused rather
  * than read as an empty or partial map. */
class BenchDiffSpec extends AnyFunSuite {

  private def tmpJson(body: String): String = {
    val f = java.nio.file.Files.createTempFile("benchdiff", ".json")
    java.nio.file.Files.write(f, body.getBytes("UTF-8"))
    f.toFile.deleteOnExit()
    f.toString
  }

  test("BENCH_FULL.json parses to one numeric entry per registered query") {
    val q = BenchDiff.perQuery("BENCH_FULL.json")
    assert(q.size == 268, s"expected 268 queries, got ${q.size}")
    assert(q.contains("q01_pipeline_agg") && q.values.forall(_ >= 0.0))
    // a multi-line map beside nested siblings parses exactly
    assert(BenchDiff.perQuery(tmpJson(
      "{\"host\": {\"nproc\": 4},\n \"queries\": {\n  \"qa\": 1.5,\n  \"qb\": 2 },\n \"errors\": {}}"))
      == Map("qa" -> 1.5, "qb" -> 2.0))
  }

  test("a malformed bench file is refused") {
    Seq("{\"metric\": \"total\", \"value\": 1.0}",      // no queries object
        "{\"queries\": [1.0, 2.0]}",                     // queries not an object
        "{\"queries\": {\"qa\": 1.0, \"qb\": \"slow\"}}",  // non-numeric value
        "{\"queries\": {\"qa\": 1.0, \"qb\": {\"t\": 2}}}") // nested value
      .foreach { body =>
        intercept[IllegalArgumentException](BenchDiff.perQuery(tmpJson(body)))
      }
    intercept[com.fasterxml.jackson.core.JsonProcessingException](
      BenchDiff.perQuery(tmpJson("{\"queries\": {\"qa\": 1.0,")))
  }
}
