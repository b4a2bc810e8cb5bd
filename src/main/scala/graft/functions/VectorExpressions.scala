package graft.functions

import java.nio.charset.StandardCharsets

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's vector kernels.
  *
  * Reference semantics (SURVEY.md O10-O12, app.py:353-416): hash-bucket text
  * embeddings (`vec[hash(tok) % dim] += 1`, L2-normalized) and dot-product
  * scoring. Python's salted `hash()` is replaced by the stable public spec
  * Murmur3(UTF-8 bytes, seed 42) — the same scheme as
  * `org.apache.spark.ml.feature.HashingTF` — so vectors are deterministic
  * across processes and executors (app.py:371-373 is only deterministic
  * within one server process).
  *
  * These are `Expression`s, not Scala UDFs: no serialization boundary, no
  * null-boxing, and `DotProductD` generates code so it stays inside
  * whole-stage codegen in the top-k scoring hot path.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are guaranteed array<double> by the `vec` Column wrappers
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  /** The arrays actually read: a side that is an array<float> cast to
    * array<double> (how `vec.dot` takes a stored embedding) is read as the
    * float array itself, `getFloat(i)` widened to double. Widening is
    * exact, so every product and sum is bit-identical to the cast form,
    * without the per-row array copy the cast makes. */
  @transient private lazy val (leftIn, leftFloat) = DotProductD.throughCast(left)
  @transient private lazy val (rightIn, rightFloat) = DotProductD.throughCast(right)

  override def eval(input: InternalRow): Any = {
    val a = leftIn.eval(input)
    if (a == null) null
    else {
      val b = rightIn.eval(input)
      if (b == null) null
      else DotProductD.dot(a.asInstanceOf[ArrayData], leftFloat,
        b.asInstanceOf[ArrayData], rightFloat)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = leftIn.genCode(ctx)
    val b = rightIn.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    def get(arr: ExprCode, float: Boolean) =
      if (float) s"(double) ${arr.value}.getFloat($i)" else s"${arr.value}.getDouble($i)"
    // strict left-to-right accumulation, as in `DotProductD.dot`
    val body =
      s"""
         |int $n = java.lang.Math.min(${a.value}.numElements(), ${b.value}.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(a, leftFloat)} * ${get(b, rightFloat)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    if (nullable) {
      val onRight = ctx.nullSafeExec(rightIn.nullable, b.isNull)(s"${ev.isNull} = false;\n$body")
      ev.copy(code = code"""
        ${a.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        ${ctx.nullSafeExec(leftIn.nullable, a.isNull)(s"${b.code}\n$onRight")}
      """)
    } else {
      ev.copy(code = code"""
        ${a.code}
        ${b.code}
        double ${ev.value} = 0.0;
        $body
      """, isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductD =
    copy(left = l, right = r)
}

object DotProductD {

  /** (the expression to read, whether it is an array<float>): looks
    * through a cast of a float array to array<double>. */
  def throughCast(e: Expression): (Expression, Boolean) = e match {
    case Cast(c, ArrayType(DoubleType, _), _, _) => c.dataType match {
      case ArrayType(FloatType, _) => (c, true)
      case _ => (e, false)
    }
    case _ => (e, false)
  }

  /** Strict left-to-right accumulation over the common prefix — keeps the
    * result bit-identical to an equivalent sequential oracle computation
    * (SURVEY §7.5.3). A float side is widened element by element. */
  def dot(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    if (xFloat && yFloat)
      while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    else if (xFloat)
      while (i < n) { acc += x.getFloat(i).toDouble * y.getDouble(i); i += 1 }
    else if (yFloat)
      while (i < n) { acc += x.getDouble(i) * y.getFloat(i).toDouble; i += 1 }
    else
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }
}

/** Fused cosine similarity: dot(a,b), ‖a‖², ‖b‖² in ONE pass over the
  * arrays instead of three `DotProductD` evaluations (and three casts of
  * the same child columns). Bit-identical to the composed form — each
  * accumulator adds the same values in the same order, and the final
  * expression replicates `when(nn === 0, 0).otherwise(d / nn)` exactly —
  * so oracle hashes are unchanged; only the pass count drops. */
case class CosineSimD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    var na = 0.0
    i = 0
    while (i < nx) { val v = x.getDouble(i); na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < ny) { val v = y.getDouble(i); nb += v * v; i += 1 }
    val nn = math.sqrt(na) * math.sqrt(nb)
    if (nn == 0.0) 0.0 else dot / nn
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val v = ctx.freshName("v")
      val nn = ctx.freshName("nn")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $n = java.lang.Math.min($nx, $ny);
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |for (int $i = 0; $i < $nx; $i++) {
         |  double $v = $a.getDouble($i); $na += $v * $v;
         |}
         |for (int $i = 0; $i < $ny; $i++) {
         |  double $v = $b.getDouble($i); $nb += $v * $v;
         |}
         |double $nn = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($nn == 0.0) ? 0.0 : ($dot / $nn);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimD =
    copy(left = l, right = r)
}

/** Murmur3 hash-bucket embedding of whitespace-tokenized lowercase text
  * (reference app.py:353-377). Returns an L2-normalized float32 vector of
  * size `dim`; all-zero (empty text) stays all-zero (app.py:374-376).
  */
case class HashEmbed(child: Expression, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "hash_embed"

  override def nullSafeEval(input: Any): Any =
    HashEmbed.encodeArrayData(input.asInstanceOf[UTF8String], dim)

  /** Generated code calls the same static kernel — the expression stays
    * inside the whole-stage-codegen span instead of breaking it
    * (CodegenFallback would force interpreted row handoff around every
    * embed in the scan pipeline). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.HashEmbed.encodeArrayData($in, $dim);")

  override protected def withNewChildInternal(c: Expression): HashEmbed = copy(child = c)
}

object HashEmbed {
  final val DefaultDim = 256
  final val Seed = 42

  /** Codegen/eval entry: UTF8String in, Catalyst array out. */
  def encodeArrayData(text: UTF8String, dim: Int): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(encode(text.toString, dim))

  /** The engine-wide embedding spec: lowercase, split on \s+, Murmur3 bucket
    * counts, L2 normalize (float32 throughout, like the reference's
    * np.float32 vectors, app.py:235). */
  def encode(text: String, dim: Int = DefaultDim): Array[Float] = {
    val vec = new Array[Float](dim)
    val tokens = text.toLowerCase.split("\\s+")
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (t.nonEmpty) {
        val h = MurmurHash3.bytesHash(t.getBytes(StandardCharsets.UTF_8), Seed)
        vec(((h % dim) + dim) % dim) += 1.0f
      }
      i += 1
    }
    var ss = 0.0
    i = 0
    while (i < dim) { ss += vec(i).toDouble * vec(i); i += 1 }
    if (ss > 0) {
      val inv = 1.0 / math.sqrt(ss)
      i = 0
      while (i < dim) { vec(i) = (vec(i) * inv).toFloat; i += 1 }
    }
    vec
  }
}

/** Column-level API over the expressions; accepts float or double arrays
  * (floats are cast — codegen'd, cheap) and computes in double. */
object vec {
  private def asD(c: Column): Column = c.cast(ArrayType(DoubleType))
  private def e(c: Column): Expression = bridge.expr(c)

  def dot(a: Column, b: Column): Column =
    bridge.column(DotProductD(e(asD(a)), e(asD(b))))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with the reference's zero-vector convention:
    * score 0.0 when either side has zero norm (dot of normalized zeros).
    * Fused single-pass expression ([[CosineSimD]]); bit-identical to the
    * composed dot/norm form. */
  def cosine(a: Column, b: Column): Column =
    bridge.column(CosineSimD(e(asD(a)), e(asD(b))))

  def hashEmbed(text: Column, dim: Int = HashEmbed.DefaultDim): Column =
    bridge.column(HashEmbed(e(text), dim))

  /** SQL registration: SELECT vec_dot(a, b), hash_embed(text) ...
    * Raw user expressions are cast to array<double> first — the kernels
    * read 8-byte slots, so an uncast array<float> argument would silently
    * produce garbage instead of an analysis error. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val registry = spark.sessionState.functionRegistry
    def d(e: Expression): Expression = Cast(e, ArrayType(DoubleType))
    registry.createOrReplaceTempFunction(
      "vec_dot", exprs => DotProductD(d(exprs(0)), d(exprs(1))), "built-in")
    registry.createOrReplaceTempFunction(
      "vec_cosine", exprs => CosineSimD(d(exprs(0)), d(exprs(1))), "built-in")
    registry.createOrReplaceTempFunction(
      "hash_embed", exprs => HashEmbed(exprs.head, HashEmbed.DefaultDim), "built-in")
  }
}
