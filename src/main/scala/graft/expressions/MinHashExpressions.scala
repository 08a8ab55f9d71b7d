package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Byte-level md5 plumbing shared by the MinHash/hash-embed expressions
  * (round 16, §1.2 per-task work): `DigestUtils.md5Hex(prefix + s)` per
  * (seed, shingle) allocated a concatenated String, its UTF-8 byte copy,
  * a fresh MessageDigest, a 16-byte digest AND a 32-char hex string —
  * then compared hex CHARS. md5 is defined over the UTF-8 byte stream,
  * so feeding the same bytes through one thread-local MessageDigest into
  * a reusable buffer produces the identical digest; and because the hex
  * alphabet 0-9a-f is monotone in nibble value, UNSIGNED byte order of
  * the raw digest IS the hex string's lexicographic order — the min can
  * be taken on raw bytes and only the winners hex-encoded (16 encodes
  * per row instead of one per (seed × shingle)).
  */
private[expressions] object Md5Util {
  private val tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The thread's reusable digest, in its reset state: every user ends
    * with `digest(out, 0, 16)`, which resets it for the next call. */
  def md5(): java.security.MessageDigest = tl.get()

  /** md5(prefix ++ payload) into `out` (16 bytes). */
  def digestInto(prefix: Array[Byte], payload: Array[Byte],
      out: Array[Byte]): Unit = {
    val md = tl.get()
    md.update(prefix)
    md.update(payload)
    md.digest(out, 0, 16) // resets the digest for the next call
  }

  /** md5(payload) into `out` (16 bytes). */
  def digestInto(payload: Array[Byte], out: Array[Byte]): Unit = {
    val md = tl.get()
    md.update(payload)
    md.digest(out, 0, 16)
  }

  /** a < b in unsigned lexicographic order (≡ hex-string order). */
  def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    false
  }

  private val HexChars = "0123456789abcdef".toCharArray

  def hex(bytes: Array[Byte]): String = {
    val cs = new Array[Char](32)
    var i = 0
    while (i < 16) {
      val b = bytes(i) & 0xff
      cs(2 * i) = HexChars(b >>> 4)
      cs(2 * i + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(cs)
  }

  /** "k:" ASCII prefixes for seeds 0..63 (the seeded-min family). */
  val seedPrefixes: Array[Array[Byte]] = (0 until 64).map(k =>
    (k + ":").getBytes(java.nio.charset.StandardCharsets.US_ASCII)).toArray

  def seedPrefix(seed: Int): Array[Byte] =
    if (seed >= 0 && seed < 64) seedPrefixes(seed)
    else (seed + ":").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
}

/** `minhash_bands(shingleSet)`: all 4 MinHash LSH band digests in ONE pass
  * over the shingle set.
  *
  * Bit-identical to the Column formulation
  * (TextFunctions.lshBandDigests: band_b = md5 over "|"-joined min-hashes,
  * min-hash k = lexicographic MIN of md5("k:" + shingle)) and to the DuckDB
  * oracle — same md5, same seeds, same joins. The native version exists
  * because the HOF chain materializes 16 intermediate arrays per row and
  * evaluates interpreted; here each shingle string is read once and hashed
  * 16 times in a tight loop.
  */
case class MinHashBandDigests(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects array<string>, got ${dt.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashBandDigests.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.MinHashBandDigests$$.MODULE$$.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): MinHashBandDigests =
    copy(child = newChild)
}

/** `minhash1(shingleSet, seed)`: ONE seeded min-hash — the lexicographic MIN
  * of `md5(seed || ':' || shingle)` over the set, in one pass. Bit-identical
  * to the HOF `array_min(transform(s, md5(seed:s)))` (TextFunctions.minHash,
  * kept as the tested spec) and to the DuckDB oracle; exists because the HOF
  * evaluates interpreted with per-element boxing — this is the blocking key
  * of the global-min-hash dedup (dedup_jaccard), computed for every document.
  * A null element is skipped, as the HOF's `array_min` skips its null md5;
  * an empty or all-null set yields null.
  */
case class MinHashOne(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"minhash1 expects (array<string>, int), got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(shingles: Any, seed: Any): Any =
    MinHashOne.compute(
      shingles.asInstanceOf[ArrayData], seed.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) =>
      s"${ev.value} = graft.expressions.MinHashOne$$.MODULE$$.compute($a, $s);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashOne =
    copy(left = newLeft, right = newRight)
}

object MinHashOne {
  def compute(shingles: ArrayData, seed: Int): UTF8String = {
    val prefix = Md5Util.seedPrefix(seed)
    val tmp = new Array[Byte](16)
    var min: Array[Byte] = null
    var i = 0
    val n = shingles.numElements()
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        Md5Util.digestInto(prefix, shingles.getUTF8String(i).getBytes, tmp)
        if (min == null) min = java.util.Arrays.copyOf(tmp, 16)
        else if (Md5Util.less(tmp, min)) System.arraycopy(tmp, 0, min, 0, 16)
      }
      i += 1
    }
    if (min == null) null else UTF8String.fromString(Md5Util.hex(min))
  }
}

/** `minhash_all(shingleSet, n)`: the full n-seed MinHash signature in ONE
  * pass over the shingle set — element k is bit-identical to
  * `minhash1(shingleSet, k)` (lexicographic MIN of md5(k || ':' || shingle);
  * an empty or all-null set yields n nulls, and null elements are skipped,
  * matching minhash1). Exists because
  * `array(minhash1(s,0), …, minhash1(s,15))` builds 16 independent
  * expressions that each re-read and re-stringify every shingle; here each
  * shingle string materializes once and feeds all n seeded digests
  * (the [[MinHashBandDigests]] loop shape, without freezing the banding).
  */
case class MinHashAll(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"minhash_all expects (array<string>, int), got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(shingles: Any, nHashes: Any): Any =
    MinHashAll.compute(
      shingles.asInstanceOf[ArrayData], nHashes.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, n) =>
      s"${ev.value} = graft.expressions.MinHashAll$$.MODULE$$.compute($a, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashAll =
    copy(left = newLeft, right = newRight)
}

object MinHashAll {
  def compute(shingles: ArrayData, nHashes: Int): ArrayData = {
    val mins = new Array[Array[Byte]](nHashes)
    val tmp = new Array[Byte](16)
    var i = 0
    val n = shingles.numElements()
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val bytes = shingles.getUTF8String(i).getBytes
        var k = 0
        while (k < nHashes) {
          Md5Util.digestInto(Md5Util.seedPrefix(k), bytes, tmp)
          if (mins(k) == null) mins(k) = java.util.Arrays.copyOf(tmp, 16)
          else if (Md5Util.less(tmp, mins(k)))
            System.arraycopy(tmp, 0, mins(k), 0, 16)
          k += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](nHashes)
    var k = 0
    while (k < nHashes) {
      out(k) =
        if (mins(k) == null) null
        else UTF8String.fromString(Md5Util.hex(mins(k)))
      k += 1
    }
    new GenericArrayData(out)
  }
}

object MinHashBandDigests {
  private val NumHashes = 16
  private val Bands = 4
  private val Rows = NumHashes / Bands

  /** One pass: per shingle, 16 seeded md5s (byte-level, raw-digest min —
    * unsigned byte order ≡ hex order, see [[Md5Util]]); then one md5 per
    * band over the "|"-joined hex mins.
    */
  def compute(shingles: ArrayData): ArrayData = {
    val mins = new Array[Array[Byte]](NumHashes)
    val tmp = new Array[Byte](16)
    var i = 0
    val n = shingles.numElements()
    while (i < n) {
      val bytes = shingles.getUTF8String(i).getBytes
      var k = 0
      while (k < NumHashes) {
        Md5Util.digestInto(Md5Util.seedPrefixes(k), bytes, tmp)
        if (mins(k) == null) mins(k) = java.util.Arrays.copyOf(tmp, 16)
        else if (Md5Util.less(tmp, mins(k)))
          System.arraycopy(tmp, 0, mins(k), 0, 16)
        k += 1
      }
      i += 1
    }
    val bands = new Array[Any](Bands)
    var b = 0
    while (b < Bands) {
      val sb = new java.lang.StringBuilder(Rows * 33)
      var r = 0
      while (r < Rows) {
        if (r > 0) sb.append('|')
        // empty set: the previous StringBuilder.append(null) appended the
        // literal "null" — preserved bit-for-bit
        val m = mins(b * Rows + r)
        sb.append(if (m == null) "null" else Md5Util.hex(m))
        r += 1
      }
      Md5Util.digestInto(sb.toString
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII), tmp)
      bands(b) = UTF8String.fromString(Md5Util.hex(tmp))
      b += 1
    }
    new GenericArrayData(bands)
  }
}
