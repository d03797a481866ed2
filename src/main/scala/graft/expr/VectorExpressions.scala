package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expressions for vector math over `array<float>` /
  * `array<double>` columns, with `doGenCode` emitting a tight primitive
  * loop.
  *
  * Rationale: Spark's higher-order functions (`aggregate`/`zip_with`) are
  * evaluated interpreted, with per-element boxing and intermediate array
  * allocation — measured ~50-100× slower than this codegen loop on 64-dim
  * embeddings (see BENCH history). A pairwise dedup scan at 100 TB lives or
  * dies on this constant factor. Preference order per the build guidelines:
  * compose built-ins where they stay in codegen; drop to a native
  * `Expression` exactly here, where they don't.
  */
sealed trait VectorOp
object VectorOp {
  case object Dot extends VectorOp
  case object Cosine extends VectorOp
  case object L2Sq extends VectorOp
}

case class VectorBinaryOp(left: Expression, right: Expression, op: VectorOp)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // ByteType admits int8-quantized codes (4× smaller than float32 on the
    // wire/disk); cosine over codes equals cosine over the dequantized
    // vectors because the per-vector scale cancels
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType | ByteType, _) => true
      case _                                               => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects array<float|double|tinyint> inputs, got ${left.dataType} / ${right.dataType}"
      )
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def getter(dt: DataType): (ArrayData, Int) => Double = dt match {
    case FloatType => (x, i) => x.getFloat(i).toDouble
    case ByteType  => (x, i) => x.getByte(i).toDouble
    case _         => (x, i) => x.getDouble(i)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lg = getter(elemType(left))
    val rg = getter(elemType(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0; var l2 = 0.0
    var i = 0
    while (i < n) {
      val xv: Double = lg(x, i)
      val yv: Double = rg(y, i)
      op match {
        case VectorOp.Dot => dot += xv * yv
        case VectorOp.Cosine =>
          dot += xv * yv; na += xv * xv; nb += yv * yv
        case VectorOp.L2Sq => l2 += (xv - yv) * (xv - yv)
      }
      i += 1
    }
    op match {
      case VectorOp.Dot    => dot
      case VectorOp.Cosine => dot / (math.sqrt(na) * math.sqrt(nb))
      case VectorOp.L2Sq   => l2
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getName(dt: DataType): String = dt match {
      case FloatType => "getFloat"
      case ByteType  => "getByte"
      case _         => "getDouble"
    }
    val lGet = getName(elemType(left))
    val rGet = getName(elemType(right))
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val body = op match {
          case VectorOp.Dot    => s"$dot += $xv * $yv;"
          case VectorOp.Cosine => s"$dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;"
          case VectorOp.L2Sq   => s"$dot += ($xv - $yv) * ($xv - $yv);"
        }
        val result = op match {
          case VectorOp.Cosine => s"$dot / (Math.sqrt($na) * Math.sqrt($nb))"
          case _               => dot
        }
        s"""
           |int $n = Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = (double) $a.$lGet($i);
           |  double $yv = (double) $b.$rGet($i);
           |  $body
           |}
           |${ev.value} = $result;
           |""".stripMargin
      }
    )
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** Sign-bit packing ([[graft.functions.VectorFunctions.binarize]] and its
  * SQL mirror `vec_binarize`): the first `dim` components as ceil(dim/64)
  * longs, bit j of word j/64 set iff component j ≥ 0 in Spark's order (NaN
  * sets its bit, a null component does not). Any numeric array is cast to
  * `array<double>`, which keeps every sign. One loop whatever `dim` — a
  * per-component unrolled expression outgrows Janino's 64 KB method limit
  * at dim 70. Callers guard `size ≥ dim`.
  */
case class PackSigns(child: Expression, dim: Int) extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any = PackSigns.pack(a.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${PackSigns.getClass.getName}.MODULE$$.pack($a, $dim)")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object PackSigns {
  def pack(x: ArrayData, dim: Int): ArrayData = {
    val words = new Array[Long]((dim + 63) / 64)
    var j = 0
    while (j < math.min(dim, x.numElements())) {
      if (!x.isNullAt(j) && !(x.getDouble(j) < 0)) words(j / 64) |= 1L << (j % 64)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }
}
