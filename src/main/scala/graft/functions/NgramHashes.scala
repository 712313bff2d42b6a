package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** md5 hashes of every word n-gram window of a string, in window
  * order, as one tight per-row loop: element i is
  * `{g: md5(concat_ws(' ', slice(split(text, ' '), i+1, n))), first}`
  * where `first` is true on the first window of the row carrying that
  * gram. The declarative equivalent — `transform(sequence(...), i ->
  * md5(concat_ws(' ', slice(toks, i, n))))` — runs every lambda
  * element interpreted and builds each window's text; this expression
  * hashes each window straight off the row's bytes.
  *
  * Split and join are exactly `split(text, ' ')` / `concat_ws(' ', …)`:
  * tokens are the runs between single spaces (empty tokens included,
  * so "" is one empty token), so a window's joined text is the byte
  * range from its first token's start to its last token's end. The
  * space byte never occurs inside a multi-byte UTF-8 sequence; input
  * that is not valid UTF-8 is first re-encoded the way `split`'s
  * String round trip re-encodes it. Null text and texts of fewer than
  * `n` tokens give an empty array, as the guarded declarative form
  * does. CodegenFallback is deliberate (see [[WordShingles]]). */
case class NgramHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = NgramHashes.dataType
  override def nullable: Boolean = false
  override def prettyName: String = "ngram_hashes"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return NgramHashes.empty
    val raw = v.asInstanceOf[UTF8String]
    val bytes = (if (raw.isValid) raw else UTF8String.fromString(raw.toString)).getBytes
    // token t spans [starts(t), ends(t)); tokens = spaces + 1
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val nTok = spaces + 1
    if (nTok < n) return NgramHashes.empty
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = bytes.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[UTF8String]()
    val out = new Array[Any](nTok - n + 1)
    var w = 0
    while (w < out.length) {
      md.update(bytes, starts(w), ends(w + n - 1) - starts(w))
      val g = NgramHashes.hex(md.digest())
      out(w) = new GenericInternalRow(Array[Any](g, seen.add(g)))
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): NgramHashes =
    copy(child = c)
}

object NgramHashes {
  val dataType: DataType = ArrayType(StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("first", BooleanType, nullable = false))), containsNull = false)

  private val empty = new GenericArrayData(Array.empty[Any])
  private val digits = "0123456789abcdef".getBytes("US-ASCII")

  /** Lowercase hex, the spelling of Spark's `md5`. */
  private def hex(d: Array[Byte]): UTF8String = {
    val h = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      h(2 * i) = digits((d(i) >> 4) & 0xf)
      h(2 * i + 1) = digits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(h)
  }

  def hashes(c: Column, n: Int): Column =
    ExprBridge.toColumn(NgramHashes(ExprBridge.toExpression(c), n))
}
