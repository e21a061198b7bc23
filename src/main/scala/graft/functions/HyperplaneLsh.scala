package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Random-hyperplane (sign-bit) LSH bucket keys as a native expression.
  *
  * r2 computed the projections relationally (posexplode embedding dims ⋈
  * broadcast plane rows → two grouped sums) to avoid a 2048-literal
  * expression tree — the right call versus literals, but it still built
  * ~dims × planes intermediate rows per vector and shuffled twice. With
  * the plane matrix as a static array inside one expression the whole
  * thing is a pure map: 8 table keys per vector in one pass, no explode,
  * no join, no shuffle.
  *
  * Plane weights use the same fixed-seed draw as r2 (Random(7),
  * nextGaussian, plane-major then dim) so bucket assignments stay
  * comparable run to run. Projection sums here are sequential per plane;
  * the relational formulation summed in shuffle order — sign flips from
  * float reassociation can only occur at |proj| ≈ 0, which moves a
  * borderline vector between buckets and is absorbed by the exact
  * verification / rows-only contracts of q16e/q17b.
  */
object HyperplaneLsh {
  val Tables = 8
  val BitsPerTable = 6
  val Dim = 64

  /** Max key width of the parameterized (near-dup) variant. */
  val MaxBits = 30

  /** planes(p)(d): generation order matches the r2 relational version. */
  val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(Tables * BitsPerTable)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** Plane matrix for the parameterized key width (near-dup path): up to
    * [[MaxBits]] planes per table, drawn once with its own fixed seed;
    * a `bits`-wide key uses the first `bits` planes of its table, so
    * widening the key REFINES the same buckets (prefix property). */
  val planesWide: Array[Array[Double]] = {
    val rnd = new scala.util.Random(11)
    Array.fill(Tables * MaxBits)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** 64-bit words per binary (sign-bit) embedding code — q17m's rung of
    * the compression ladder. 2 words = 128 projected bits: the Hamming
    * estimate of angle has variance ∝ 1/bits, and 64 raw coordinate
    * signs left q17m's recall at 0.48 (BENCH_r11); 128 Gaussian
    * projections + the widened shortlist lift it past the 0.6 bar
    * (VERDICT r11 #7) while the code is still only 16 bytes — 32× less
    * bandwidth than the f64 vector. */
  val BinaryWords = 2

  /** Projection matrix for the binary embedding code: BinaryWords × 64
    * Gaussian hyperplanes, fixed seed — codes are stable run to run. */
  val planesBinary: Array[Array[Double]] = {
    val rnd = new scala.util.Random(13)
    Array.fill(BinaryWords * 64)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** Pack sign(plane · v) over [[planesBinary]] into [[BinaryWords]]
    * 64-bit words (word w bit b = plane w*64+b). */
  def signWordsFromVector(arr: ArrayData): ArrayData = {
    val dims = math.min(arr.numElements(), Dim)
    val words = new Array[Long](BinaryWords)
    var w = 0
    while (w < BinaryWords) {
      var word = 0L
      var b = 0
      while (b < 64) {
        val row = planesBinary(w * 64 + b)
        var proj = 0.0
        var d = 0
        while (d < dims) {
          proj += arr.getDouble(d) * row(d)
          d += 1
        }
        if (proj > 0) word |= 1L << b
        b += 1
      }
      words(w) = word
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }

  /** Key width for a corpus of `n` vectors: ~log2(n)+2 bits keeps the
    * EXPECTED BUCKET SIZE constant (~n/2^bits ≈ 1/4) as the corpus
    * grows — with a fixed width, bucket population is n/2^bits and the
    * candidate-pair count grows O(n²/2^bits): the 6-bit ANN tables that
    * are right for recall at query time produced ~64M candidate pairs
    * for 32k random vectors (measured, r5's q16e regression). Exact
    * duplicates and near-exact copies (cos → 1) share every sign bit,
    * so dedup recall is unaffected by width; moderate-similarity recall
    * (cos ≈ 0.9) shifts to the ANN path (q17b) whose narrow keys +
    * multiprobe are tuned for it. */
  def bitsFor(n: Long): Int =
    math.min(MaxBits, math.max(BitsPerTable,
      math.ceil(math.log(math.max(2L, n).toDouble) / math.log(2.0)).toInt + 2))

  def keysFromVectorWide(arr: ArrayData, bits: Int): ArrayData = {
    val dims = math.min(arr.numElements(), Dim)
    val keys = new Array[Long](Tables)
    var t = 0
    while (t < Tables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        val row = planesWide(t * MaxBits + b)
        var proj = 0.0
        var d = 0
        while (d < dims) {
          proj += arr.getDouble(d) * row(d)
          d += 1
        }
        if (proj > 0) key |= 1L << b
        b += 1
      }
      keys(t) = key
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  def keysFromVector(arr: ArrayData): ArrayData = {
    val dims = math.min(arr.numElements(), Dim)
    val keys = new Array[Long](Tables)
    var t = 0
    while (t < Tables) {
      var key = 0L
      var b = 0
      while (b < BitsPerTable) {
        val row = planes(t * BitsPerTable + b)
        var proj = 0.0
        var d = 0
        while (d < dims) {
          proj += arr.getDouble(d) * row(d)
          d += 1
        }
        if (proj > 0) key |= 1L << b
        b += 1
      }
      keys(t) = key
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  val fnName = "hyperplane_keys"
  val wideFnName = "hyperplane_keys_wide"
  val signWordsFnName = "sign_words"

  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(fnName)
    if (!reg.functionExists(id))
      reg.registerFunction(id,
        new ExpressionInfo(classOf[HyperplaneKeys].getCanonicalName, fnName),
        (exprs: Seq[Expression]) => HyperplaneKeys(exprs.head))
    val wid = FunctionIdentifier(wideFnName)
    if (!reg.functionExists(wid))
      reg.registerFunction(wid,
        new ExpressionInfo(classOf[HyperplaneKeysWide].getCanonicalName, wideFnName),
        (exprs: Seq[Expression]) =>
          HyperplaneKeysWide(exprs.head, SqlArgs.intLiteral(wideFnName, "bits", exprs, 1)))
    val sid = FunctionIdentifier(signWordsFnName)
    if (!reg.functionExists(sid))
      reg.registerFunction(sid,
        new ExpressionInfo(classOf[SignWords].getCanonicalName, signWordsFnName),
        (exprs: Seq[Expression]) => SignWords(exprs.head))
  }
}

/** `sign_words(v: array<double>) -> array<bigint>` — the binary
  * embedding code: [[HyperplaneLsh.BinaryWords]] packed 64-bit words of
  * Gaussian-hyperplane sign bits (q17m's 1-bit-rung quantizer). */
case class SignWords(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${HyperplaneLsh.signWordsFnName} expects array<double>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = HyperplaneLsh.signWordsFnName

  override def nullSafeEval(input: Any): Any =
    HyperplaneLsh.signWordsFromVector(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HyperplaneLsh.signWordsFromVector($c);")

  override protected def withNewChildInternal(newChild: Expression): SignWords =
    copy(child = newChild)
}

/** `hyperplane_keys_wide(v: array<double>, bits)` — the parameterized
  * near-dup variant of [[HyperplaneKeys]]: one `bits`-wide LSH bucket key
  * per table over the [[HyperplaneLsh.planesWide]] matrix. `bits` must be
  * a foldable int literal (it is baked into the expression at
  * resolution). */
case class HyperplaneKeysWide(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= HyperplaneLsh.MaxBits, s"bits out of range: $bits")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${HyperplaneLsh.wideFnName} expects array<double>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = HyperplaneLsh.wideFnName

  override def nullSafeEval(input: Any): Any =
    HyperplaneLsh.keysFromVectorWide(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HyperplaneLsh.keysFromVectorWide($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneKeysWide =
    copy(child = newChild)
}

/** `hyperplane_keys(v: array<double>) -> array<bigint>` — one 6-bit LSH
  * bucket key per hash table (8 tables), index = table id. */
case class HyperplaneKeys(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${HyperplaneLsh.fnName} expects array<double>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = HyperplaneLsh.fnName

  override def nullSafeEval(input: Any): Any =
    HyperplaneLsh.keysFromVector(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.HyperplaneLsh.keysFromVector($c);")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneKeys =
    copy(child = newChild)
}
