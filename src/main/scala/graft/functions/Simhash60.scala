package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** `simhash60(words)` — the 60-bit SimHash of a word multiset, computed in
  * ONE per-row pass (optimization r13).
  *
  * On arrays with no null element it is bit-identical to the
  * dataset-scale explode shape it replaces (explode(words) → 60
  * conditional long sums per doc → sign-bit assembly):
  * per word occurrence each bit position accumulates +1 when the word's
  * [[Md5Prefix60]] hash has that bit set, −1 otherwise, and the signature
  * takes the sign of each accumulated counter — integer addition commutes,
  * so the fold order is irrelevant, and both forms round through the SAME
  * per-word hash. `Dedup.simhashSignatures` used to pay an explode, 60
  * aggregation buffers per group, and a corpus-wide doc_id shuffle for
  * what is a pure per-document map; this expression runs it inside
  * whole-stage codegen with one int[60] per row and NO shuffle at all
  * (documents arrive one row per doc already). Counters are Int: a +1/−1
  * per occurrence cannot overflow below 2^31 tokens per document, far past
  * any real document (the explode form's long sums had the same practical
  * bound through the collect-side row count).
  *
  * Nulls: this expression defines the semantics. A null element (legal
  * in array<string> with containsNull=true) is skipped, and a null array
  * gives a null signature, keeping the document's row. The explode shape
  * differed on both: a null word's hash was null, so its bit test fell to
  * the −1 branch at every bit, and exploding a null array dropped the
  * row. `PipelineSpec` pins both cases.
  */
case class Simhash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash60 requires an array<string> argument, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    Simhash60.hash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Simhash60.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Simhash60 {

  val Bits = 60

  def hash(words: ArrayData): Long = {
    val n = words.numElements()
    val counts = new Array[Int](Bits)
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val h = Md5Prefix60.hash(words.getUTF8String(i))
        var b = 0
        while (b < Bits) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < Bits) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def simhash60(words: Column): Column =
    shim.exprColumn(Simhash60(shim.columnExpr(words)))
}
