package graft.plans

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Lexicon-scoring kernel: an open-addressing hash table of words keyed on
  * their UTF-8 bytes, each word carrying class bits (1 = positive,
  * 2 = negative; a word listed in both carries both, as the array-scan
  * chain would count it twice).
  *
  * [[tally]] walks a text's bytes once, splitting on byte `' '` exactly as
  * `split(text, " ")` does (java `split(" ", -1)`: empty tokens count,
  * nothing but `' '` separates; `' '` never occurs inside a multi-byte
  * UTF-8 sequence, so byte and char splitting agree), and probes the table
  * once per token on a view of the input bytes — no `String` decode, no
  * per-token allocation. Interpreted `eval` and generated code both call
  * the same instance methods (the table is a codegen reference object).
  */
final class LexiconTable(positive: Seq[String], negative: Seq[String])
    extends Serializable {

  private val (keys, hashes, classes) = {
    val cap = Integer.highestOneBit(math.max(2, (positive.size + negative.size) * 2)) << 1
    val ks = new Array[Array[Byte]](cap)
    val hs = new Array[Int](cap)
    val cs = new Array[Byte](cap)
    def put(w: String, cls: Int): Unit = {
      val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h = LexiconTable.hash(b, Platform.BYTE_ARRAY_OFFSET, b.length)
      var i = h & (cap - 1)
      while (ks(i) != null && !java.util.Arrays.equals(ks(i), b)) i = (i + 1) & (cap - 1)
      ks(i) = b; hs(i) = h; cs(i) = (cs(i) | cls).toByte
    }
    positive.foreach(put(_, 1))
    negative.foreach(put(_, 2))
    (ks, hs, cs)
  }
  private val mask = keys.length - 1

  /** Class bits of the token at `len` bytes from `offset` in `base`; 0 when
    * it is not a lexicon word.
    */
  private def classOf(base: AnyRef, offset: Long, len: Int): Int = {
    val h = LexiconTable.hash(base, offset, len)
    var i = h & mask
    while (keys(i) != null) {
      val k = keys(i)
      if (hashes(i) == h && k.length == len &&
          ByteArrayMethods.arrayEquals(base, offset, k, Platform.BYTE_ARRAY_OFFSET, len))
        return classes(i)
      i = (i + 1) & mask
    }
    0
  }

  /** Positive-token count in the high 32 bits, negative in the low 32. */
  def tally(text: UTF8String): Long = {
    val base = text.getBaseObject
    val end = text.getBaseOffset + text.numBytes
    var p = 0L
    var n = 0L
    var tok = text.getBaseOffset
    var i = tok
    while (i <= end) {
      if (i == end || Platform.getByte(base, i) == ' ') {
        val c = classOf(base, tok, (i - tok).toInt)
        p += c & 1
        n += c >> 1
        tok = i + 1
      }
      i += 1
    }
    (p << 32) | n
  }

  /** Majority vote over token occurrences; null text votes `na`. */
  def vote(text: UTF8String): UTF8String =
    if (text == null) LexiconTable.Na
    else {
      val t = tally(text)
      val p = t >>> 32
      val n = t & 0xffffffffL
      if (p > n) LexiconTable.Positive else if (n > p) LexiconTable.Negative else LexiconTable.Na
    }

  /** Occurrences of the table's (positive-class) words in `text`. */
  def count(text: UTF8String): Int = (tally(text) >>> 32).toInt
}

object LexiconTable {
  val Positive: UTF8String = UTF8String.fromString("positive")
  val Negative: UTF8String = UTF8String.fromString("negative")
  val Na: UTF8String = UTF8String.fromString("na")

  private def hash(base: AnyRef, offset: Long, len: Int): Int =
    Murmur3_x86_32.hashUnsafeBytes(base, offset, len, 42)
}

/** Tri-state lexicon majority vote of a `string` text: `positive` /
  * `negative` / `na` (null text gives `na`). The native form of
  * `TextFunctions.overallSentimentReference`; see [[LexiconTable]].
  */
case class LexiconVote(child: Expression, positive: Seq[String], negative: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  @transient private lazy val table = new LexiconTable(positive, negative)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "lexicon_vote"

  override def eval(input: InternalRow): Any =
    table.vote(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("lexicon", table)
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${c.code}
      UTF8String ${ev.value} = $t.vote(${c.isNull} ? null : ${c.value});""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Occurrences of `words` in a `string` text: the native form of
  * `TextFunctions.lexiconCountReference`, `size(filter(split(text, " "),
  * t -> array_contains(words, t)))`. Null text follows `size(null)`: -1
  * under `spark.sql.legacy.sizeOfNull` without ANSI, else null.
  */
case class LexiconCount(child: Expression, words: Seq[String], legacySizeOfNull: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  def this(child: Expression, words: Seq[String]) =
    this(child, words, SQLConf.get.legacySizeOfNull)

  @transient private lazy val table = new LexiconTable(words, Nil)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable && !legacySizeOfNull
  override def prettyName: String = "lexicon_count"

  override def eval(input: InternalRow): Any = {
    val text = child.eval(input)
    if (text != null) table.count(text.asInstanceOf[UTF8String])
    else if (legacySizeOfNull) -1
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("lexicon", table)
    if (!legacySizeOfNull) nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $t.count($c);")
    else {
      val c = child.genCode(ctx)
      ev.copy(isNull = FalseLiteral, code = code"""
        ${c.code}
        int ${ev.value} = ${c.isNull} ? -1 : $t.count(${c.value});""")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LexiconFunctions {
  def vote(text: Column, positive: Seq[String], negative: Seq[String]): Column =
    GraftColumnShim.column(LexiconVote(GraftColumnShim.expression(text), positive, negative))

  def count(text: Column, words: Seq[String]): Column =
    GraftColumnShim.column(new LexiconCount(GraftColumnShim.expression(text), words))
}
