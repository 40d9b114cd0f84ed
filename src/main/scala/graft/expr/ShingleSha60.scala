package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_sha60(text)` → ARRAY<BIGINT>: the 60-bit sha256 hash of
  * every character n-gram of `text`, in one pass over the utf8 bytes.
  *
  * Value-equivalent (as a multiset) to
  * `transform(sequence(1, greatest(length(t)-(n-1), 1)), i -> sha60(substr(t, i, n)))`
  * — each window's hash is the digest of exactly the bytes that
  * `substr` would return, including the short-tail behavior for texts
  * with fewer than n characters. The composed form is quadratic per
  * document: `substr(i, n)` walks code points from the string start for
  * every position, so a 1000-char doc does ~500k walk steps before any
  * hashing. Here code-point offsets are computed once and each window
  * digests a byte slice in place — O(len·n), no per-shingle string.
  *
  * Used by minhash signatures, where only per-permutation minima are
  * consumed: min over the multiset equals min over the distinct set, so
  * the distinct step of the composed form is dropped, not emulated.
  * Consumers that need exact distinct-shingle semantics (n-gram
  * Jaccard ground truth) keep the composed form. */
object ShingleSha60Util {

  /** Calls `f` with the hash of every n-gram window of `s`, in order. */
  private def foreachShingle(s: UTF8String, n: Int)(f: Long => Unit): Unit = {
    val bytes = s.getBytes
    val len = bytes.length
    // code-point start offsets (offsets(cnt) = len sentinel)
    val offsets = new Array[Int](len + 1)
    var cnt = 0
    var i = 0
    while (i < len) {
      offsets(cnt) = i
      cnt += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offsets(cnt) = len
    val numShingles = math.max(cnt - (n - 1), 1)
    var k = 0
    while (k < numShingles) {
      val from = offsets(k)
      val until = offsets(math.min(k + n, cnt))
      val d = Sha60Util.threadDigest
      d.update(bytes, from, until - from)
      f(Sha60Util.fold60(d.digest()))
      k += 1
    }
  }

  def hashes(s: UTF8String, n: Int): ArrayData = {
    // one window per code point past the first n-1, so the byte count
    // bounds the array; only multi-byte text needs the trim
    val out = new Array[Long](math.max(s.numBytes - (n - 1), 1))
    var k = 0
    foreachShingle(s, n) { h => out(k) = h; k += 1 }
    new GenericArrayData(if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }

  /** The MinHash signature of `s`: for each permutation i < `perms`,
    * the minimum over its shingle hashes h of `h ^ (i * mix)` — one
    * pass, no hash array. */
  def minima(s: UTF8String, n: Int, perms: Int, mix: Long): ArrayData = {
    val out = Array.fill(perms)(Long.MaxValue)
    foreachShingle(s, n) { h =>
      var i = 0
      while (i < perms) {
        val x = h ^ (i * mix)
        if (x < out(i)) out(i) = x
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

case class ShingleSha60(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _: StringType => TypeCheckResult.TypeCheckFailure(s"shingle width must be >= 1, got $n")
    case dt => TypeCheckResult.TypeCheckFailure(s"shingle_sha60 expects STRING, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_sha60"

  override protected def nullSafeEval(input: Any): Any =
    ShingleSha60Util.hashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.ShingleSha60Util.hashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleSha60 =
    copy(child = newChild)
}

/** `shingle_minhash(text)` → ARRAY<BIGINT> of `perms` MinHash minima:
  * element i is `array_min(transform(shingle_sha60(text, n), h -> h ^ (i * mix)))`,
  * bit for bit, and the whole array is null for null text. One pass
  * over the shingles folds every permutation's minimum; the
  * higher-order-function form it replaces is CodegenFallback, which
  * kept the signature projection out of whole-stage codegen and built
  * one hash array per permutation. */
case class ShingleMinHash(child: Expression, n: Int, perms: Int, mix: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if n >= 1 && perms >= 1 => TypeCheckResult.TypeCheckSuccess
    case _: StringType =>
      TypeCheckResult.TypeCheckFailure(s"shingle width and perms must be >= 1, got $n, $perms")
    case dt => TypeCheckResult.TypeCheckFailure(s"shingle_minhash expects STRING, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_minhash"

  override protected def nullSafeEval(input: Any): Any =
    ShingleSha60Util.minima(input.asInstanceOf[UTF8String], n, perms, mix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.ShingleSha60Util.minima($c, $n, $perms, ${mix}L)")

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHash =
    copy(child = newChild)
}
