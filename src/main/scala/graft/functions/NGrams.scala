package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The complete `n`-word windows of a words array, in order, each joined
  * by one space, duplicates kept: `[a, b, c]` at n = 2 gives
  * `[a b, b c]`. Fewer than `n` words give an empty array; a null array
  * gives null. A null word is skipped in its windows' text, as
  * `array_join` and `concat_ws` skip it.
  *
  * The one n-gram formulation of the text operators (shingles, bigrams,
  * exact-substring grams). It replaces two others: a `posexplode` plus a
  * `lead` window per extra word, which sorts every word occurrence by
  * (doc, pos), and a `transform(sequence(...), i -> slice(...))` lambda,
  * which evaluates interpreted. This is one map-side call per row inside
  * whole-stage codegen (the generated code calls the static kernel), and
  * it reads its words array once however many windows it emits, so the
  * array needs no materializing first. */
case class NGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    NGrams.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.NGrams.compute($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): NGrams =
    copy(child = newChild)

  override def prettyName: String = "ngrams"
}

object NGrams {

  /** Per-row kernel (also the generated code's callee via the static
    * forwarder). */
  def compute(words: ArrayData, n: Int): ArrayData = {
    val out = new Array[Any](math.max(words.numElements() - n + 1, 0))
    var i = 0
    while (i < out.length) {
      out(i) = window(words, i, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  private val Space = UTF8String.fromString(" ")

  /** Words `from` to `from + n - 1`, the non-null ones joined by one
    * space into a new string of their own. */
  private def window(words: ArrayData, from: Int, n: Int): UTF8String =
    UTF8String.concatWs(Space, Array.tabulate[UTF8String](n)(j =>
      if (words.isNullAt(from + j)) null else words.getUTF8String(from + j)): _*)

  def apply(words: Column, n: Int): Column =
    ColumnBridge.column(NGrams(Cast(ColumnBridge.expression(words), ArrayType(StringType)), n))
}
