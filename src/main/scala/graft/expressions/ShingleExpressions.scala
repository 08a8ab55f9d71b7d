package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** `shingle_set(text)`: distinct word 3-gram shingles in first-occurrence
  * order — one pass over the text, replacing the interpreted
  * split -> transform(slice + concat_ws) -> array_distinct chain
  * (TextFunctions.shingleSet, which stays as the tested reference spec).
  * Exact-match semantics: single-space tokenization, k=3, short texts
  * collapse to one whole-text shingle, first-occurrence dedup order.
  */
case class ShingleSet(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"shingle_set expects string, got ${dt.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    ShingleSet.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.ShingleSet$$.MODULE$$.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** `shingles(text, k)`: POSITIONAL word k-gram shingles, duplicates kept —
  * the non-distinct sibling of [[ShingleSet]] (winnowing/n-gram counting
  * need positions; Jaccard needs the set). One pass, no interpreted
  * slice/concat chain; bit-identical to TextFunctions.shingles (the tested
  * HOF spec): short texts collapse to one whole-text shingle.
  */
case class Shingles(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"shingles expects (string, int), got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(text: Any, k: Any): Any =
    Shingles.compute(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = graft.expressions.Shingles$$.MODULE$$.compute($t, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Shingles =
    copy(left = newLeft, right = newRight)
}

object Shingles {
  def compute(text: UTF8String, k: Int): GenericArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < k)
      return new GenericArrayData(
        Array[Any](UTF8String.fromString(words.mkString(" "))))
    val out = new Array[Any](words.length - k + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= words.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `shingle_hashes(toks, len)`: md5 hex of every length-`len` sliding
  * token window, position-indexed (element i hashes toks[i..i+len)) —
  * the [[graft.operators.SubstringDedup]] shingle key, replacing the
  * interpreted `transform(sequence, md5(concat_ws(slice)))` chain that
  * allocated a slice array, a joined string, and a hex string per
  * window. The digest streams the window's token bytes and the
  * separator straight into one thread-local MessageDigest — no joined
  * string exists at all; md5 is defined over the byte stream, so the
  * hex result is bit-identical (spec-pinned). A null token is skipped
  * with its separator, as `concat_ws` skips it. Inputs shorter than `len`
  * yield an empty array (callers filter `size(toks) >= len` first).
  */
case class ShingleHashes(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes expects (array<string>, int), got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(toks: Any, len: Any): Any =
    ShingleHashes.compute(
      toks.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      len.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = graft.expressions.ShingleHashes$$.MODULE$$.compute($t, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleHashes =
    copy(left = newLeft, right = newRight)
}

object ShingleHashes {
  private val Space = Array[Byte](' ')

  def compute(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      len: Int): GenericArrayData = {
    val n = toks.numElements()
    if (n < len) return new GenericArrayData(Array.empty[Any])
    // token byte arrays materialized once, reused by every window; a null
    // token stays null and is skipped
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) bytes(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    val md = Md5Util.md5()
    val tmp = new Array[Byte](16)
    val out = new Array[Any](n - len + 1)
    i = 0
    while (i <= n - len) {
      var j = 0
      var first = true
      while (j < len) {
        val b = bytes(i + j)
        if (b != null) {
          if (!first) md.update(Space)
          md.update(b)
          first = false
        }
        j += 1
      }
      md.digest(tmp, 0, 16)
      out(i) = UTF8String.fromString(Md5Util.hex(tmp))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object ShingleSet {
  private val K = 3

  def compute(text: UTF8String): GenericArrayData = {
    val words = text.toString.split(" ", -1)
    val seen = new java.util.LinkedHashSet[String]()
    if (words.length < K) {
      seen.add(words.mkString(" "))
    } else {
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i <= words.length - K) {
        sb.setLength(0)
        sb.append(words(i)).append(' ').append(words(i + 1)).append(' ')
          .append(words(i + 2))
        seen.add(sb.toString)
        i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}
