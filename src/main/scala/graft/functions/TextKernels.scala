package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the token-array hot paths (round 21, guide §4).
  *
  * [[TextFunctions.shingles]] / `bigrams` / `topTokenCount` were built
  * from higher-order array functions (`transform(sequence(…))`,
  * `aggregate(filter(…))`) — CodegenFallback expressions that evaluate
  * an interpreted lambda PER ELEMENT per row. The shingle projection
  * alone measured 0.64 s per full-corpus evaluation at sf0.1, and the
  * q16 ingest loops re-evaluate it per micro-batch epoch. Each kernel
  * below replicates its lambda pipeline exactly:
  *  - same element order and first-occurrence `array_distinct` order;
  *  - `concat_ws(" ", …)` via [[UTF8String.concatWs]] — the SAME
  *    function the codegen'd ConcatWs calls (null elements skipped);
  *  - the null-input → empty-array (shingles/bigrams) vs null
  *    (topTokenCount's aggregate-over-null) behaviors of the originals.
  */
object TextKernels {
  val shinglesFnName = "word_shingles"
  val bigramsFnName = "word_bigrams"
  val topTokenFnName = "top_token_count"

  private val space = UTF8String.fromString(" ")
  private val emptyStrings = new GenericArrayData(Array.empty[Any])

  /** Distinct k-shingles in first-occurrence order; < k tokens (or a
    * null array upstream — handled by the expression) → empty. */
  def shingleArray(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return emptyStrings
    val seen = new java.util.LinkedHashSet[UTF8String]((n - k + 1) * 2)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) {
        parts(j) = if (toks.isNullAt(i + j)) null
                   else toks.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Adjacent bigrams (NOT distinct — matches the transform form). */
  def bigramArray(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 2) return emptyStrings
    val out = new Array[AnyRef](n - 1)
    var i = 0
    while (i < n - 1) {
      val a = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val b = if (toks.isNullAt(i + 1)) null else toks.getUTF8String(i + 1)
      out(i) = UTF8String.concatWs(space, a, b)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Highest single-token multiplicity (nulls contribute 0 — the
    * lambda's `x === u` null comparison dropped them). */
  def topTokenCount(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Long](n * 2)
    var best = 0L
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        val c = counts.merge(t, 1L, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    best
  }

  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val sid = FunctionIdentifier(shinglesFnName)
    if (!reg.functionExists(sid))
      reg.registerFunction(sid,
        new ExpressionInfo(classOf[WordShingles].getCanonicalName, shinglesFnName),
        (exprs: Seq[Expression]) => WordShingles(exprs(0),
          SqlArgs.intLiteral(shinglesFnName, "k", exprs, 1)))
    val bid = FunctionIdentifier(bigramsFnName)
    if (!reg.functionExists(bid))
      reg.registerFunction(bid,
        new ExpressionInfo(classOf[WordBigrams].getCanonicalName, bigramsFnName),
        (exprs: Seq[Expression]) => WordBigrams(exprs.head))
    val tid = FunctionIdentifier(topTokenFnName)
    if (!reg.functionExists(tid))
      reg.registerFunction(tid,
        new ExpressionInfo(classOf[TopTokenCount].getCanonicalName, topTokenFnName),
        (exprs: Seq[Expression]) => TopTokenCount(exprs.head))
  }
}

/** `word_shingles(toks: array<string>, k) -> array<string>` — distinct
  * word k-shingles. The null-input → empty-array behavior of the
  * original when/otherwise form lives in the Column builder
  * ([[TextFunctions.shingles]] coalesces to an empty array). */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1, got $k")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${TextKernels.shinglesFnName} expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = TextKernels.shinglesFnName

  override def nullSafeEval(v: Any): Any =
    TextKernels.shingleArray(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.shingleArray($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** `word_bigrams(toks: array<string>) -> array<string>` — adjacent
  * bigrams (null-input handling in the Column builder, like shingles). */
case class WordBigrams(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${TextKernels.bigramsFnName} expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = TextKernels.bigramsFnName

  override def nullSafeEval(v: Any): Any =
    TextKernels.bigramArray(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.bigramArray($c);")

  override protected def withNewChildInternal(newChild: Expression): WordBigrams =
    copy(child = newChild)
}

/** `top_token_count(toks: array<string>) -> bigint` — highest
  * single-token multiplicity; NULL input → NULL (the aggregate form). */
case class TopTokenCount(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${TextKernels.topTokenFnName} expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = TextKernels.topTokenFnName

  override def nullSafeEval(v: Any): Any =
    TextKernels.topTokenCount(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.topTokenCount($c);")

  override protected def withNewChildInternal(newChild: Expression): TopTokenCount =
    copy(child = newChild)
}
