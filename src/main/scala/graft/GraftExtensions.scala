package graft

import graft.expr.{PackSigns, SquashMeta, VectorBinaryOp, VectorOp, VectorSumAgg}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` installer: exposes the engine's native
  * expressions to the SQL surface, so
  * `spark.sql("SELECT vec_cosine(a, b) ...")` works next to the Scala API.
  *
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** Catalyst mirror of [[graft.functions.VectorFunctions.binarize]] for the
    * SQL surface (`injectFunction` needs a genuine expression tree — a
    * reverse-bridged Column DSL composition stays an unevaluable
    * ColumnNode placeholder). Equivalence with the Column form is pinned by
    * FunctionsSpec.
    */
  private def binarizeExpr(v: Expression, dim: Int): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, If, Literal, RaiseError, Size}
    require(dim > 0, s"vec_binarize: dim must be positive, got $dim")
    val packed = PackSigns(v, dim)
    // Same short-vector guard as the Column form (VectorFunctions.binarize).
    If(
      GreaterThanOrEqual(Size(v), Literal(dim)),
      packed,
      RaiseError(Literal(s"vec_binarize: vector shorter than dim=$dim"))
    )
  }

  /** Catalyst mirror of [[graft.functions.VectorFunctions.hammingPacked]]
    * (same rationale as [[binarizeExpr]]).
    */
  private def hammingExpr(a: Expression, b: Expression, words: Int): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, And, BitwiseCount, BitwiseXor, Cast, ElementAt, EqualTo, If, Literal, RaiseError, Size}
    import org.apache.spark.sql.types.LongType
    require(words > 0, s"vec_hamming: words must be positive, got $words")
    val dist = (0 until words)
      .map { w =>
        Cast(
          BitwiseCount(BitwiseXor(ElementAt(a, Literal(w + 1)), ElementAt(b, Literal(w + 1)))),
          LongType
        ): Expression
      }
      .reduce(Add(_, _))
    // Same word-count guard as the Column form (VectorFunctions.hammingPacked).
    If(
      And(EqualTo(Size(a), Literal(words)), EqualTo(Size(b), Literal(words))),
      dist,
      RaiseError(Literal(s"vec_hamming: packed codes must have exactly $words words"))
    )
  }

  /** Validate-and-eval a literal numeric argument BEFORE plan-time eval():
    * a non-foldable arg (a column) or a non-numeric literal fails with the
    * documented contract instead of an opaque unresolved-eval error.
    */
  private def literalInt(e: Expression, fn: String, arg: String): Int = {
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" -> s"$fn: $arg must be a literal")
      )
    e.eval() match {
      case num: Number => num.intValue()
      case other =>
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" -> s"$fn: $arg must be a numeric literal, got $other")
        )
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (
        FunctionIdentifier("vec_dot"),
        info("vec_dot", "vec_dot(a, b) - double dot product of two float/double arrays"),
        (args: Seq[Expression]) => VectorBinaryOp(args(0), args(1), VectorOp.Dot)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("vec_cosine"),
        info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float/double arrays"),
        (args: Seq[Expression]) => VectorBinaryOp(args(0), args(1), VectorOp.Cosine)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("vec_l2sq"),
        info("vec_l2sq", "vec_l2sq(a, b) - squared L2 distance of two float/double arrays"),
        (args: Seq[Expression]) => VectorBinaryOp(args(0), args(1), VectorOp.L2Sq)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("vec_sum"),
        info("vec_sum", "vec_sum(v) - element-wise sum aggregate over float/double arrays"),
        (args: Seq[Expression]) => VectorSumAgg(args(0)).toAggregateExpression()
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("word_shingles"),
        info(
          "word_shingles",
          "word_shingles(text, n) - distinct word n-gram shingles (single pass); n must be a literal"
        ),
        (args: Seq[Expression]) =>
          graft.expr.WordShingles(args(0), literalInt(args(1), "word_shingles(text, n)", "n"))
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("vec_binarize"),
        info(
          "vec_binarize",
          "vec_binarize(v, dim) - pack the dim sign bits of a float/double array into ceil(dim/64) longs; dim must be a literal"
        ),
        (args: Seq[Expression]) =>
          binarizeExpr(args(0), literalInt(args(1), "vec_binarize(v, dim)", "dim"))
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("vec_hamming"),
        info(
          "vec_hamming",
          "vec_hamming(a, b, words) - Hamming distance between two packed sign-bit codes from vec_binarize; words must be a literal"
        ),
        (args: Seq[Expression]) =>
          hammingExpr(args(0), args(1), literalInt(args(2), "vec_hamming(a, b, words)", "words"))
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("squash_meta"),
        info(
          "squash_meta",
          "squash_meta(lineage) - fold array<struct<table,pk,value>> into {table→{pk→sorted distinct values}}"
        ),
        (args: Seq[Expression]) => SquashMeta(args(0))
      )
    )
  }
}
