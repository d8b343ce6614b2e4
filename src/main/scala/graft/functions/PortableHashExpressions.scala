package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Portable-hash signature expressions: md5-based per-document signatures
  * whose results a DuckDB oracle can reproduce with nothing but
  * `md5 || substring || min || integer ops` — while the Spark side computes
  * them in ONE compiled scalar pass (no token explode, no signature
  * shuffle, tiny generated code).
  *
  * These are the correctness-checkable counterpart of the FNV
  * [[SimHash64]]: same algorithm shape, engine-portable hash. */
object PortableHashOps {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private def md5Hex(token: String): Array[Char] = {
    val d = md5Local.get()
    d.reset()
    val bytes = d.digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(bytes(i) & 0xf)
      i += 1
    }
    out
  }

  /** SimHash over md5 token bits, emitted as 4×16-bit chunks.
    * Equivalent to: per token take the 64 bits of the first 16 hex nibbles
    * of md5(token); per bit position vote +1/−1; bit set iff the vote sum
    * is ≥ 0 (i.e. 2·Σbit ≥ n). */
  def simhashChunks(text: UTF8String): ArrayData = {
    val toks = ShingleOps.splitLower(text)
    val counts = new Array[Int](64)
    var n = 0
    var t = 0
    while (t < toks.length) {
      val d = md5Local.get()
      d.reset()
      val bytes = d.digest(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        counts(j) += (bytes(j >> 3) >> (7 - (j & 7))) & 1
        j += 1
      }
      n += 1
      t += 1
    }
    val chunks = new Array[Any](4)
    var c = 0
    while (c < 4) {
      var v = 0L
      var b = 0
      while (b < 16) {
        if (2 * counts(16 * c + b) - n >= 0) v |= (1L << b)
        b += 1
      }
      chunks(c) = v
      c += 1
    }
    new GenericArrayData(chunks)
  }

  /** MinHash lane minima over word-shingle md5 windows: for each lane i,
    * the lexicographic MIN over shingles of
    * `substring(md5(shingle) || md5(shingle), 2·i+1, 8)` — the wrap-around
    * keeps every lane at 32 bits of digest. Returns null when the document
    * has no shingles (empty text). */
  def minhashLaneMins(text: UTF8String, shingleN: Int, lanes: Int): ArrayData = {
    // lane windows stride 2 over the 32 hex chars with wrap-around; more
    // than 16 lanes would alias lane i and lane i+16 exactly
    require(lanes <= 16, s"at most 16 md5 lanes, got $lanes")
    val toks = ShingleOps.splitLower(text)
    if (toks.length == 0) return null
    val count = math.max(toks.length - shingleN + 1, 1)
    val mins = new Array[String](lanes)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < shingleN && i + j < toks.length) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val hex = md5Hex(sb.toString)
      var lane = 0
      while (lane < lanes) {
        val w = new Array[Char](8)
        var p = 0
        while (p < 8) { w(p) = hex((2 * lane + p) % 32); p += 1 }
        val s = new String(w)
        if (mins(lane) == null || s.compareTo(mins(lane)) < 0) mins(lane) = s
        lane += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(s => UTF8String.fromString(s): Any))
  }

  /** Winnowing fingerprint set (MOSS scheme) in one scalar pass: positional
    * char `gram`-grams of the (pre-normalized) text, per-gram hash =
    * `substring(md5(gram), 1, 8)`, min over each `win`-long position window,
    * distinct minima returned sorted. Mirrors the SQL spelling
    * `min(h) OVER (ORDER BY pos ROWS BETWEEN CURRENT ROW AND win-1
    * FOLLOWING)` + DISTINCT exactly (trailing windows shrink), so a DuckDB
    * oracle reproduces it — but with no explode, no window shuffle, no
    * distinct shuffle: the whole fingerprint set is a map-side projection.
    * Positions count Unicode code points, matching both engines' substring.
    * ref: HTGPI document-fingerprint dedup shape (SURVEY north star). */
  def winnowFingerprints(text: UTF8String, gram: Int, win: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    val count = math.max(n - gram + 1, 1)
    val hs = new Array[String](count)
    val d = md5Local.get()
    var i = 0
    while (i < count) {
      val len = math.max(math.min(gram, n - i), 0)
      val sub = if (len == 0) "" else new String(cps, i, len)
      d.reset()
      val bytes = d.digest(sub.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val out = new Array[Char](8)
      var j = 0
      while (j < 4) {
        out(2 * j) = HexChars((bytes(j) >> 4) & 0xf)
        out(2 * j + 1) = HexChars(bytes(j) & 0xf)
        j += 1
      }
      hs(i) = new String(out)
      i += 1
    }
    val set = new java.util.TreeSet[String]()
    i = 0
    while (i < count) {
      var m = hs(i)
      var j = i + 1
      val end = math.min(i + win, count)
      while (j < end) { if (hs(j).compareTo(m) < 0) m = hs(j); j += 1 }
      set.add(m)
      i += 1
    }
    val arr = new Array[Any](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }
}

/** `md5_simhash_chunks(text) -> array<long>` (4×16-bit chunks). */
case class Md5SimHashChunks(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_simhash_chunks"
  override def nullSafeEval(v: Any): Any =
    PortableHashOps.simhashChunks(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableHashOps.simhashChunks($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `winnow_fingerprints(norm_text, gram, win) -> array<string>`: the
  * document's distinct winnowing fingerprint set, sorted ascending. */
case class WinnowFingerprints(child: Expression, gram: Int, win: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"
  override def nullSafeEval(v: Any): Any =
    PortableHashOps.winnowFingerprints(v.asInstanceOf[UTF8String], gram, win)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortableHashOps.winnowFingerprints($c, $gram, $win)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `md5_minhash_lanes(text, n, lanes) -> array<string>` (lane minima;
  * null for shingle-less documents). */
case class Md5MinhashLanes(child: Expression, shingleN: Int, lanes: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "md5_minhash_lanes"
  override def nullSafeEval(v: Any): Any =
    PortableHashOps.minhashLaneMins(v.asInstanceOf[UTF8String], shingleN, lanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = "graft.functions.PortableHashOps.minhashLaneMins"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $f($c, $shingleN, $lanes);
      ${ev.isNull} = (${ev.value} == null);""")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
