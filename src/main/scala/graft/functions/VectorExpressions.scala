package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for float-vector dot products (X2/X3 surface:
  * "custom Expression with doGenCode beats a Scala UDF").
  *
  * The generated code is a tight primitive loop over the two ArrayData
  * buffers — no lambda dispatch, no boxing, stays inside whole-stage
  * codegen. This is the preferred escape hatch when the higher-order
  * `aggregate(zip_with(...))` fold shows up hot in a profile: identical
  * semantics (left-to-right double accumulation), lower per-element cost.
  *
  * Interpreted eval is provided for completeness (codegen-disabled paths).
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  // Exactly the semantics of the declarative fold
  // `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,p) -> acc+p)`:
  // zip_with pads a length mismatch with null and the fold absorbs any
  // null into a null total — so this expression is null (not a partial
  // sum) on mismatched lengths or null elements. That equivalence is what
  // lets DotProductRewrite substitute it for the HOF form.
  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Native squared Euclidean distance between two float vectors — the
  * product-quantization kernel ([[FloatVectorDot]]'s sibling): PQ codebook
  * training/encoding evaluates N*M*k* subvector distances (one corpus scan
  * per index build), and the tight primitive loop keeps that scan inside
  * whole-stage codegen. Accumulates (x-y)^2 left-to-right in double —
  * the difference of two floats is EXACT in double, so each term matches
  * the oracle's DECIMAL accumulation of the same rounded products and the
  * total agrees to the usual ~1e-16 fold error. Null/length semantics are
  * identical to graft_dot (null on mismatch or null element).
  */
case class FloatVectorSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_sqdist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = ((double) $a.getFloat($i)) - ((double) $b.getFloat($i));
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorSqDist =
    copy(left = newLeft, right = newRight)
}

/** Runtime helpers called from generated code (one static call keeps the
  * generated Java trivial).
  */
object GraftHash {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of md5(s) — numerically identical to parsing the first 15
    * hex chars of the digest (Engine.md5Long's portable contract, DuckDB:
    * `('0x' || substr(md5(x),1,15))::BIGINT`) without materializing the hex
    * string: 15 hex chars = bytes 0..6 plus the high nibble of byte 7,
    * i.e. the first 8 bytes read big-endian, shifted right by 4.
    */
  def md5_60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4
  }
}

/** Native 60-bit md5 hash of a string column: the portable dedup hash
  * without the hex-string/substring/conv round-trip of the composed form.
  */
case class Md5Long60(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${other.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "graft_md5_60"

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.md5_60(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.md5_60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Long60 =
    copy(child = newChild)
}

/** Unicode NFC normalization of a string column — canonical composition
  * (decomposed base + combining marks -> precomposed codepoints), the
  * canonicalization pass a multilingual training corpus needs before
  * hashing/dedup (byte-different encodings of the SAME text otherwise
  * defeat exact dedup and fragment token statistics).
  *
  * Spark has no built-in normalizer, so this is the "custom Expression
  * beats a UDF" path (X3): null-safe codegen calling the JDK's
  * java.text.Normalizer — stays inside whole-stage codegen, no boxing,
  * no Row encoding. NFC output is defined by the Unicode standard, so
  * any conforming engine (DuckDB `nfc_normalize`, ICU) produces the
  * identical bytes — cross-engine verifiable, unlike locale-dependent
  * transforms.
  */
case class NfcNormalize(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType

  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any =
    GraftText.nfc(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftText.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Runtime helper for [[NfcNormalize]]'s generated code. */
object GraftText {
  def nfc(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized is a cheap scan; ASCII and
    // already-composed text (the overwhelming majority of a real corpus)
    // skips the allocation in normalize()
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

object VectorFunctions {

  /** Register the native functions into an existing session's registry so
    * any SQL/expr can call them, regardless of how the session was built.
    * Once per session: a name already registered is skipped, so the
    * per-query [[graft.Engine.tune]] call neither rebuilds the entries
    * nor logs a "replaced a previously registered function" WARN. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq[(String, Seq[Expression] => Expression)](
      "graft_dot" -> (e => FloatVectorDot(e.head, e(1))),
      "graft_sqdist" -> (e => FloatVectorSqDist(e.head, e(1))),
      "graft_md5_60" -> (e => Md5Long60(e.head)),
      "graft_nfc" -> (e => NfcNormalize(e.head))
    ).foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}

/** SparkSessionExtensions hook: `spark.sql.extensions=graft.functions.GraftExtensions`
  * makes graft_dot available in every session of a cluster without code
  * changes — the deployment-grade registration path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DotProductRewrite)
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "graft_dot"),
      (exprs: Seq[Expression]) => FloatVectorDot(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[FloatVectorSqDist].getName, "graft_sqdist"),
      (exprs: Seq[Expression]) => FloatVectorSqDist(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_md5_60"),
      new ExpressionInfo(classOf[Md5Long60].getName, "graft_md5_60"),
      (exprs: Seq[Expression]) => Md5Long60(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
  }
}
