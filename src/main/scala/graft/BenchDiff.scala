package graft

/** Mechanized cross-round bench regression gate (VERDICT r10 item 5):
  * compares two BENCH_FULL-format per-query maps and prints every common
  * query whose time regressed by MORE than 30% AND more than 0.3 s — the
  * adjudication threshold PLANS.md uses, sized above this host's
  * documented ±20% contention band so a hit names a real mechanism, not
  * noise. No Spark session (Jackson parses the files): `sbt "runMain graft.BenchDiff"`
  * diffs the frozen baseline (BENCH_FULL_r20.json — re-frozen at r20
  * so the seven new rows (q264-q270) gate alongside the carried 261;
  * the r19-vs-r20 movement was self-gated at freeze time against
  * BENCH_FULL_r19.json; earlier artifacts kept for history) against the current BENCH_FULL.json; pass
  * explicit paths to diff any two rounds. Exit code 2 when regressions trip, so the gate composes
  * into scripts; improvements and added/removed queries are reported for
  * context but never gate.
  */
object BenchDiff {
  /** The `"queries"` map of a BENCH_FULL-format file, parsed with
    * Jackson. Refuses a file that is not JSON, has no `queries` object,
    * or holds a non-numeric value in it. */
  private[graft] def perQuery(path: String): Map[String, Double] = {
    val qs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("queries")
    require(qs != null && qs.isObject,
      s"$path: no \"queries\" object — not a BENCH_FULL-format file")
    import scala.jdk.CollectionConverters._
    qs.properties.asScala.map { e =>
      require(e.getValue.isNumber, s"$path: queries.${e.getKey} is not a number: ${e.getValue}")
      e.getKey -> e.getValue.asDouble
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val basePath = args.lift(0).getOrElse("BENCH_FULL_r20.json")
    val curPath = args.lift(1).getOrElse("BENCH_FULL.json")
    val base = perQuery(basePath)
    val cur = perQuery(curPath)
    val common = (base.keySet & cur.keySet).toSeq.sorted

    val regressions = common.map(q => (q, base(q), cur(q)))
      .filter { case (_, b, c) => c > b * 1.3 && c - b > 0.3 }
      .sortBy { case (_, b, c) => b - c }
    val improvements = common.map(q => (q, base(q), cur(q)))
      .filter { case (_, b, c) => b > c * 1.3 && b - c > 0.3 }
      .sortBy { case (_, b, c) => c - b }

    val bTot = common.map(base).sum
    val cTot = common.map(cur).sum
    println(f"common queries: ${common.size} — total $bTot%.1f s ($basePath) " +
      f"vs $cTot%.1f s ($curPath), ratio ${cTot / bTot}%.2fx")
    (cur.keySet -- base.keySet).toSeq.sorted match {
      case Seq() => ()
      case added => println(s"added (not gated): ${added.mkString(", ")}")
    }
    (base.keySet -- cur.keySet).toSeq.sorted match {
      case Seq() => ()
      case removed => println(s"removed: ${removed.mkString(", ")}")
    }
    if (improvements.nonEmpty) {
      println(s"improved >30% && >0.3 s: ${improvements.size}")
      improvements.foreach { case (q, b, c) =>
        println(f"  $q%-28s $b%6.2f -> $c%6.2f s") }
    }
    if (regressions.isEmpty) {
      println("regressed >30% && >0.3 s: none — gate clean")
    } else {
      println(s"regressed >30% && >0.3 s: ${regressions.size} — ADJUDICATE in PLANS.md")
      regressions.foreach { case (q, b, c) =>
        println(f"  $q%-28s $b%6.2f -> $c%6.2f s (${c / b}%.2fx)") }
      sys.exit(2)
    }
  }
}
