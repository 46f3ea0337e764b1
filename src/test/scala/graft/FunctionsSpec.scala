package graft

import graft.functions.{ExactMean, FloatVectorDot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom extension surface: the native codegen FloatVectorDot
  * expression (via SQL registration) and the ExactMean Aggregator.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("Engine.tune registers the SQL functions once per session") {
    Engine.tune(s)
    val registry = s.sessionState.functionRegistry
    val names = Seq("graft_dot", "graft_sqdist", "graft_md5_60", "graft_nfc")
    def entries = names.map(n => registry.lookupFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    val first = entries
    assert(first.forall(_.isDefined), s"tune must register all of $names")
    Engine.tune(s)
    // every registration stores a fresh ExpressionInfo; none may appear
    assert(entries.zip(first).forall { case (b, a) => b.get eq a.get },
      "the second tune must register nothing")
    import s.implicits._
    val r = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f), "abc")).toDF("a", "b", "t")
      .selectExpr("graft_dot(a, b)", "graft_sqdist(a, b)", "graft_md5_60(t)",
        "graft_nfc(t)").collect()(0)
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 8.0)
    assert(!r.isNullAt(2) && r.getString(3) == "abc")
  }

  test("graft_dot: native expression computes the double dot product") {
    Engine.tune(s)
    import s.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val out = df.selectExpr("graft_dot(a, b) AS d").collect()(0).getDouble(0)
    assert(out == 32.0)
  }

  test("graft_sqdist: native squared distance matches the exact fold; null on mismatch") {
    Engine.tune(s)
    import s.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 0.0f, 6.0f)))
      .toDF("a", "b")
    // (1-4)^2 + (2-0)^2 + (3-6)^2 = 9 + 4 + 9 = 22 — exact in double
    val out = df.selectExpr("graft_sqdist(a, b) AS d").collect()(0).getDouble(0)
    assert(out == 22.0)
    val bad = Seq((Some(Array(1.0f, 1.0f)), Some(Array(2.0f, 3.0f, 9.0f))),
      (None, Some(Array(1.0f)))).toDF("a", "b")
      .selectExpr("graft_sqdist(a, b) AS d").collect()
    assert(bad(0).isNullAt(0) && bad(1).isNullAt(0))
    // identity: sqdist(x, x) = 0, and the dot-form expansion agrees on
    // fixture vectors (|x|^2 + |y|^2 - 2x.y within fold error)
    val e = s.read.parquet(s"${TestSpark.sf}/embeddings.parquet").limit(32)
    val both = e.selectExpr(
      "graft_sqdist(embedding, embedding) AS self",
      "graft_sqdist(embedding, reverse(embedding)) AS direct",
      "graft_dot(embedding, embedding) * 2 - 2 * graft_dot(embedding, reverse(embedding)) AS expanded")
      .collect()
    assert(both.forall(_.getDouble(0) == 0.0))
    assert(both.forall(r => math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12))
  }

  test("graft_dot: null array or mismatched lengths yield null (fold-equivalent)") {
    Engine.tune(s)
    import s.implicits._
    val df = Seq(
      (Some(Array(1.0f, 1.0f)), Some(Array(2.0f, 3.0f, 9.0f))),
      (None, Some(Array(1.0f)))
    ).toDF("a", "b")
    val rows = df.selectExpr("graft_dot(a, b) AS d").collect()
    // zip_with pads the short side with null and the fold absorbs it:
    // a length mismatch is a null total, not a silent partial sum
    assert(rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
  }

  test("DotProductRewrite: HOF zip_with/aggregate dot plans as the native kernel") {
    Engine.tune(s)
    val e = s.read.parquet(s"${TestSpark.sf}/embeddings.parquet").limit(5)
    val q = e.selectExpr(
      "vec_id",
      "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, p) -> acc + p) AS d")
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      s"rule must rewrite the fold:\n${q.queryExecution.optimizedPlan}")
    val native = e.selectExpr("vec_id", "graft_dot(embedding, embedding) AS d")
    assert(q.collect().map(_.getDouble(1)).sameElements(native.collect().map(_.getDouble(1))))
  }

  test("DotProductRewrite: float-typed multiply (no double cast) is NOT rewritten") {
    Engine.tune(s)
    val e = s.read.parquet(s"${TestSpark.sf}/embeddings.parquet").limit(5)
    val q = e.selectExpr(
      "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x * y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, p) -> acc + p) AS d")
    assert(!q.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      "a float-precision multiply rounds differently and must stay as written")
  }

  test("graft_dot matches the zip_with/aggregate fold on fixture embeddings") {
    Engine.tune(s)
    val e = s.read.parquet(s"${TestSpark.sf}/embeddings.parquet").limit(50)
    val cmp = e.selectExpr(
      "graft_dot(embedding, embedding) AS native",
      "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, p) -> acc + p) AS fold")
    assert(cmp.filter(col("native") =!= col("fold")).count() == 0)
  }

  test("ExactMean UDAF equals davg and is partition-independent") {
    import s.implicits._
    val vals = (1 to 1001).map(i => i * 0.01)
    val exactMean = udaf(ExactMean)
    val m1 = vals.toDF("v").repartition(1)
      .agg(exactMean(col("v"))).collect()(0).getDouble(0)
    val m9 = vals.toDF("v").repartition(9)
      .agg(exactMean(col("v"))).collect()(0).getDouble(0)
    val ref = vals.toDF("v").agg(Engine.davg(col("v"))).collect()(0).getDouble(0)
    assert(m1 == m9 && m1 == ref)
  }

  test("graft_md5_60 equals the composed hex-substring-conv form") {
    Engine.tune(s)
    val d = s.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(100)
    val cmp = d.selectExpr(
      "graft_md5_60(text) AS native",
      "CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT) AS composed")
    import org.apache.spark.sql.functions.col
    assert(cmp.filter(col("native") =!= col("composed")).count() == 0)
    // known vector: md5('hello') = 5d41402abc4b2a76..., first 15 hex chars
    import s.implicits._
    val v = Seq("hello").toDF("t").selectExpr("graft_md5_60(t)").collect()(0).getLong(0)
    assert(v == java.lang.Long.parseLong("5d41402abc4b2a7", 16))
  }

  test("interpreted eval path agrees with codegen (expression fallback)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = Literal.create(Array(0.5f, 0.25f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val b = Literal.create(Array(2.0f, 4.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val out = FloatVectorDot(a, b).eval(null)
    assert(out == 2.0)
  }

  test("graft_nfc: composes decomposed sequences, identity on normalized text") {
    Engine.tune(s)
    import s.implicits._
    val df = Seq(
      ("cafe\u0301", "caf\u00e9"), // decomposed -> precomposed
      ("caf\u00e9", "caf\u00e9"), // already NFC: unchanged
      ("ascii only", "ascii only")
    ).toDF("raw", "want")
    import org.apache.spark.sql.functions.col
    val bad = df.selectExpr("graft_nfc(raw) AS got", "want")
      .filter(col("got") =!= col("want"))
    assert(bad.count() == 0)
    // null flows through (UnaryExpression null-intolerance)
    val n = Seq(Option.empty[String]).toDF("raw")
      .selectExpr("graft_nfc(raw)").collect()(0)
    assert(n.isNullAt(0))
  }

  test("graft_nfc stays inside whole-stage codegen") {
    Engine.tune(s)
    val d = s.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .selectExpr("graft_nfc(text) AS t")
    val codegenSpans = d.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenSpans.nonEmpty,
      "the normalize projection must be codegen'd, not interpreted")
    // interpreted eval agrees with codegen on the same input
    import org.apache.spark.sql.catalyst.expressions.Literal
    val out = graft.functions.NfcNormalize(Literal("cafe\u0301")).eval(null).toString
    assert(out == "caf\u00e9")
  }
}
