package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing fingerprints (Schleimer, Wilkerson, Aiken —
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
  * 2003): hash every byte 8-gram with a Karp–Rabin rolling polynomial,
  * slide a 4-hash window, keep each window's minimum, return the
  * per-document fingerprint SET sorted ascending (the consumers —
  * q39's scalar digests and q95's inverted index — are
  * order-insensitive sets, so sorted-distinct is the canonical form).
  *
  * This replaces the `transform(sequence(...), i ->
  * md5long(substring(text, i, 8)))` projection that the third scale
  * point measured as the repo's dominant 100× cost (q95 at slope
  * 1.016, 125.9 s at 500k docs): linear in corpus bytes
  * is the floor for fingerprinting every position, but a full MD5 per
  * character position is an ~8× avoidable constant against the
  * paper's own O(1)-per-position rolling hash. One pass over the
  * bytes here: two multiply-adds per position (two independent 31-bit
  * Karp–Rabin streams, bases 257/263, modulus the Mersenne prime
  * 2³¹−1, combined into one 62-bit value so index collisions stay
  * birthday-bounded at corpus scale), a 4-slot ring for the window
  * minimum, and a sort+dedup over the ~n/w surviving minima.
  *
  * Cross-engine determinism (the md5long discipline): every constant
  * is < 2³¹, so all intermediates fit signed 64-bit and the DuckDB
  * oracle replays the identical arithmetic in plain BIGINT SQL —
  * `list_reduce(list_transform(generate_series(0,7), j ->
  * unicode(substr(text, i+j, 1))::BIGINT), (acc, x) -> (acc * 257 +
  * x) % 2147483647)` is position i's first stream (the direct
  * polynomial; the rolling update here is algebraically the same
  * value), and `h1 * 2147483648 + h2` is the combined fingerprint.
  * The engine hashes UTF-8 BYTES while the oracle folds CODEPOINTS —
  * identical over the ASCII corpora the oracle contract already
  * assumes (the md5-based spelling it replaces had the same
  * byte-vs-char positional contract in `substr`).
  *
  * Shared-substring guarantee carried from the k-gram scheme: two
  * documents sharing ≥ k + w − 1 = 11 consecutive bytes share at
  * least one fingerprint. Inputs shorter than 11 bytes have no
  * complete window → empty array; null input → null.
  */
case class WinnowFps(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_fps requires string, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    WinnowFps.winnow(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFps.winnow($c)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {

  /** k-gram length: a shared run of K + W − 1 bytes guarantees a
    * shared fingerprint (the q39/q95 noise threshold).
    */
  val K = 8

  /** winnow window width (hashes per window). */
  val W = 4

  /** Mersenne prime 2³¹ − 1 — products of two residues fit in 62
    * bits, so both the JVM and DuckDB BIGINT compute exactly.
    */
  val M = 2147483647L

  /** the two independent stream bases (both > 255 so byte values
    * never alias a base power).
    */
  val B1 = 257L
  val B2 = 263L

  /** B^(K−1) mod M — the rolling subtraction coefficient. */
  val B1K: Long = { var p = 1L; (1 until K).foreach(_ => p = p * B1 % M); p }
  val B2K: Long = { var p = 1L; (1 until K).foreach(_ => p = p * B2 % M); p }

  /** 2³¹ — the combine shift (`h1 * TWO31 + h2` < 2⁶², positive). */
  val TWO31 = 2147483648L

  /** One pass: rolling double-KR over the bytes, window-min over a
    * W-slot ring, adjacent-dup skip (winnowing picks the same min for
    * most consecutive windows — that's its density guarantee), then
    * sort + dedup to the canonical ascending fingerprint set.
    */
  def winnow(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    if (n < K + W - 1)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.empty[Long])
    val numKh = n - K + 1
    val ring = new Array[Long](W)
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < K) {
      val c = b(i) & 0xffL
      h1 = (h1 * B1 + c) % M
      h2 = (h2 * B2 + c) % M
      i += 1
    }
    ring(0) = h1 * TWO31 + h2
    val buf = new Array[Long](numKh - W + 1)
    var cnt = 0
    var last = -1L // fingerprints are ≥ 0, so −1 never matches
    var j = 1
    while (j < numKh) {
      val outc = b(j - 1) & 0xffL
      val inc = b(j + K - 1) & 0xffL
      h1 = ((h1 - outc * B1K % M + M) % M * B1 + inc) % M
      h2 = ((h2 - outc * B2K % M + M) % M * B2 + inc) % M
      ring(j % W) = h1 * TWO31 + h2
      if (j >= W - 1) {
        var m = ring(0)
        if (ring(1) < m) m = ring(1)
        if (ring(2) < m) m = ring(2)
        if (ring(3) < m) m = ring(3)
        if (m != last) { buf(cnt) = m; cnt += 1; last = m }
      }
      j += 1
    }
    java.util.Arrays.sort(buf, 0, cnt)
    var o = 0
    var q = 0
    while (q < cnt) {
      if (o == 0 || buf(o - 1) != buf(q)) { buf(o) = buf(q); o += 1 }
      q += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(java.util.Arrays.copyOf(buf, o))
  }

  /** Register `winnow_fps(x)` in the session's function registry
    * (idempotent) — the per-session programmatic path;
    * [[graft.GraftExtensions]] is the deployment-grade one.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("winnow_fps")))
      reg.createOrReplaceTempFunction("winnow_fps",
        exprs => WinnowFps(exprs(0)), "built-in")
  }
}
