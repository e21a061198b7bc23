package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the reference's signature extraction
  * (O5, regex `#\w+` at TwitterDStreamTrendingHashtag.java:66) — the
  * engine's declared custom-UDF surface (SURVEY.md §2.3): a scalar
  * `Expression`, not a Scala UDF, so it lives inside the optimizer's
  * visibility (null propagation, constant folding over literals) and
  * avoids per-row regex machinery with a direct byte scan.
  *
  * Semantics match `regexp_extract_all(text, '#\w+', 0)` exactly
  * (JDK `\w` = `[A-Za-z0-9_]`): maximal word-char run after `#`, empty
  * runs are not matches, matches do not overlap. Equivalence with the
  * regex composition is property-tested in ExtractHashtagsSpec.
  * Fully codegen'd (doGenCode emits the same byte scan), so projections
  * using it stay inside whole-stage codegen spans; `nullSafeEval` keeps
  * the interpreted path for non-codegen contexts.
  */
case class ExtractHashtags(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "hashtags"

  private def isWordChar(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
    (b >= '0' && b <= '9') || b == '_'

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == '#') {
        var j = i + 1
        while (j < bytes.length && isWordChar(bytes(j))) j += 1
        if (j > i + 1) {
          out += UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, i, j))
          i = j
        } else i += 1
      } else i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      s"""
        |byte[] $bytes = $c.getBytes();
        |java.util.ArrayList $out = new java.util.ArrayList();
        |int $i = 0;
        |while ($i < $bytes.length) {
        |  if ($bytes[$i] == (byte) '#') {
        |    int $j = $i + 1;
        |    while ($j < $bytes.length) {
        |      byte $b = $bytes[$j];
        |      if (($b >= 'a' && $b <= 'z') || ($b >= 'A' && $b <= 'Z') ||
        |          ($b >= '0' && $b <= '9') || $b == '_') { $j++; } else { break; }
        |    }
        |    if ($j > $i + 1) {
        |      $out.add(org.apache.spark.unsafe.types.UTF8String.fromBytes(
        |        java.util.Arrays.copyOfRange($bytes, $i, $j)));
        |      $i = $j;
        |    } else { $i++; }
        |  } else { $i++; }
        |}
        |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out.toArray());
        |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ExtractHashtags =
    copy(child = newChild)
}

object ExtractHashtags {
  val fnName = "hashtags"

  private def registration =
    (FunctionIdentifier(fnName),
     new ExpressionInfo(classOf[ExtractHashtags].getCanonicalName, fnName),
     (exprs: Seq[Expression]) => ExtractHashtags(exprs.head))

  /** Runtime registration (idempotent) — defensive like the nanosAsLong
    * conf: works on sessions the engine did not build. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val (id, info, builder) = registration
    if (!spark.sessionState.functionRegistry.functionExists(id))
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}

/** Session-extension wiring: `SparkSession.builder.withExtensions(new
  * GraftExtensions)` (used by GraftSession) makes `hashtags(text)`
  * available to pure-SQL users — the injection point any further custom
  * rules/strategies would share. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // the batch-addressed change feed's view-expansion rule (VERDICT
    // r19 missing #1): substitutes graft_lake.changes.`…` VERSION AS OF
    // '<v1>..<v2>' relations with the changesBetween derivation's plan
    ext.injectResolutionRule(spark =>
      new graft.sql.ChangesBatchSubstitution(spark))
    // the spec-evolved read's composition rule (q28s): expands a
    // mixed-partition-spec catalog relation into per-generation scans
    ext.injectResolutionRule(spark =>
      new graft.sql.EvolvedReadSubstitution(spark))
    ext.injectFunction(
      (FunctionIdentifier(ExtractHashtags.fnName),
       new ExpressionInfo(classOf[ExtractHashtags].getCanonicalName, ExtractHashtags.fnName),
       (exprs: Seq[Expression]) => ExtractHashtags(exprs.head)))
    ext.injectFunction(
      (FunctionIdentifier(MinHash.sigFnName),
       new ExpressionInfo(classOf[MinHashSig].getCanonicalName, MinHash.sigFnName),
       (exprs: Seq[Expression]) => MinHashSig(exprs.head)))
    ext.injectFunction(
      (FunctionIdentifier(MinHash.charFnName),
       new ExpressionInfo(classOf[MinHashCharNgrams].getCanonicalName, MinHash.charFnName),
       (exprs: Seq[Expression]) => MinHashCharNgrams(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier(SimHash.fnName),
       new ExpressionInfo(classOf[SimHashFp].getCanonicalName, SimHash.fnName),
       (exprs: Seq[Expression]) => SimHashFp(exprs.head)))
    ext.injectFunction(
      (FunctionIdentifier(HyperplaneLsh.fnName),
       new ExpressionInfo(classOf[HyperplaneKeys].getCanonicalName, HyperplaneLsh.fnName),
       (exprs: Seq[Expression]) => HyperplaneKeys(exprs.head)))
    ext.injectFunction(
      (FunctionIdentifier(TextSim.jacFnName),
       new ExpressionInfo(classOf[CharNgramJaccard].getCanonicalName, TextSim.jacFnName),
       (exprs: Seq[Expression]) => CharNgramJaccard(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction(
      (FunctionIdentifier(Bpe.fnName),
       new ExpressionInfo(classOf[BpeTokens].getCanonicalName, Bpe.fnName),
       (exprs: Seq[Expression]) => BpeTokens(exprs.head)))
    ext.injectFunction(
      (FunctionIdentifier(TextKernels.shinglesFnName),
       new ExpressionInfo(classOf[WordShingles].getCanonicalName, TextKernels.shinglesFnName),
       (exprs: Seq[Expression]) => WordShingles(exprs(0),
         SqlArgs.intLiteral(TextKernels.shinglesFnName, "k", exprs, 1))))
    ext.injectFunction(
      (FunctionIdentifier(TextKernels.bigramsFnName),
       new ExpressionInfo(classOf[WordBigrams].getCanonicalName, TextKernels.bigramsFnName),
       (exprs: Seq[Expression]) => WordBigrams(exprs.head)))
    ext.injectFunction(
      (FunctionIdentifier(TextKernels.topTokenFnName),
       new ExpressionInfo(classOf[TopTokenCount].getCanonicalName, TextKernels.topTokenFnName),
       (exprs: Seq[Expression]) => TopTokenCount(exprs.head)))
    ext.injectFunction(
      (FunctionIdentifier(VecOps.dotFnName),
       new ExpressionInfo(classOf[VecDot].getCanonicalName, VecOps.dotFnName),
       (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier(VecOps.unitFnName),
       new ExpressionInfo(classOf[VecUnit].getCanonicalName, VecOps.unitFnName),
       (exprs: Seq[Expression]) => VecUnit(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier(VecOps.agreeFnName),
       new ExpressionInfo(classOf[VecSigAgree].getCanonicalName, VecOps.agreeFnName),
       (exprs: Seq[Expression]) => VecSigAgree(exprs(0), exprs(1))))
    // whole-operator extension: the LSH similarity self-join logical
    // node, lowered to the band-join assembly inside the operator-
    // optimization fixed point (graft.plans.SimilarityJoin)
    ext.injectOptimizerRule(spark => new graft.plans.ExpandSimilarityJoin(spark))
    // small global sorts at one range partition: no range-sampling job
    // (graft.plans.SmallSortPartitioning)
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallSortPartitioning)
  }
}
