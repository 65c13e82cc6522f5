package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The top 4·k bits of md5 over the UTF-8 bytes of a string, as a long:
  * the value of md5's first `k` hex digits, for 1 ≤ k ≤ 15 (so at most
  * 60 bits, never negative). Null gives null. Bit-identical to Spark's
  * `conv` from base 16 of `substring(md5(s), 1, k)`, cast to long, and
  * to the DuckDB oracle's `CAST(concat('0x', substr(md5(s), 1, k)) AS
  * BIGINT)`.
  *
  * The portable hash of the sampling, MinHash, SimHash, Bloom and DSIR
  * operators. The `conv` spelling asks for a `MessageDigest` on every
  * call, formats 32 hex characters and parses k of them back through
  * `NumberConverter`; this kernel keeps one digest per thread and reads
  * the prefix off the digest's first 8 bytes, inside whole-stage
  * codegen. */
case class Md5Prefix(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= 15, s"k must be in [1, 15]: $k")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Md5Prefix.compute($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix =
    copy(child = newChild)

  override def prettyName: String = "md5_prefix"
}

object Md5Prefix {
  private val Digests =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Per-row kernel (also the generated code's callee via the static
    * forwarder): the digest's first 8 bytes big-endian, shifted down to
    * their top 4·k bits. */
  def compute(s: UTF8String, k: Int): Long = {
    val md = Digests.get()
    md.update(s.getByteBuffer)
    ByteBuffer.wrap(md.digest()).getLong >>> (64 - 4 * k)
  }

  def apply(s: Column, k: Int): Column =
    ColumnBridge.column(Md5Prefix(Cast(ColumnBridge.expression(s), StringType), k))
}
