package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.IntegerType

/** Argument checks shared by the SQL function builders. */
private[graft] object SqlArgs {
  private val ordinals = Seq("first", "second", "third", "fourth")

  /** The value of the literal INT argument at position `i` (0-based) of
    * SQL function `fn`, whose parameter is called `param`. A column (a
    * non-foldable argument) or a foldable non-INT or NULL one raises an
    * AnalysisException that names the function and the expected literal
    * — not an internal error from `eval()` or a ClassCastException. */
  def intLiteral(fn: String, param: String, exprs: Seq[Expression], i: Int): Int = {
    val e = exprs(i)
    if (!e.foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
    val v = if (e.dataType == IntegerType) e.eval() else null
    if (v == null)
      throw new AnalysisException("UNEXPECTED_INPUT_TYPE", Map(
        "paramIndex" -> ordinals.lift(i).getOrElse(s"${i + 1}th"),
        "functionName" -> s"`$fn`", "requiredType" -> "\"INT\" literal",
        "inputSql" -> s"\"${e.sql}\"", "inputType" -> s"\"${e.dataType.sql}\""))
    v.asInstanceOf[Int]
  }
}
