package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass token-membership counter.
  *
  * `token_set_count(text, words)` counts whitespace-separated tokens of
  * `text` equal to ANY word in the (query-constant) set — exactly
  * Σ_w size(filter(split(text, " "), t => t = w)) for DISTINCT
  * non-empty words (the Column API dedups and drops empty entries, so
  * the set semantics hold by construction — a token matches at most
  * one set member), the stopword-ratio
  * shape every quality rule in the library uses, but in ONE pass over
  * the raw UTF-8 bytes with ZERO allocation: the split form builds a
  * fresh array of token strings per WORD per row (4 stopwords = 4
  * splits), and array higher-order functions evaluate their lambda on
  * the interpreted path. Replacing it measured the curation cascade's
  * filter stage ~3x faster at 10^6 docs (ScaleBench curate_stages).
  *
  * Token semantics match split-on-single-space equality: runs of
  * spaces produce empty tokens, which never equal a non-empty word, so
  * counts are identical to the split form on any input.
  */
object TokenSetCount {
  /** Codegen entry point (called from generated Java). */
  def eval(s: UTF8String, words: Array[Array[Byte]]): Long = {
    val bytes = s.getBytes
    var count = 0L
    var start = 0
    val n = bytes.length
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' '.toByte) {
        val len = i - start
        if (len > 0) {
          var w = 0
          var matched = false
          while (w < words.length && !matched) {
            val wb = words(w)
            if (wb.length == len) {
              var j = 0
              while (j < len && wb(j) == bytes(start + j)) j += 1
              matched = j == len
            }
            w += 1
          }
          if (matched) count += 1L
        }
        start = i + 1
      }
      i += 1
    }
    count
  }

  /** Column-level API: `token_set_count($"text", Seq("the", "a"))`.
    * Duplicate and empty entries are ignored (set semantics). */
  def token_set_count(c: Column, words: Seq[String]): Column =
    GraftShims.column(TokenSetCountExpr(GraftShims.toExpression(c),
      words.distinct.filter(_.nonEmpty)))
}

/** Fingerprint normalization in one byte pass.
  *
  * `normalize_text(s)` ≡ trim(regexp_replace(regexp_replace(lower(s),
  * "[^a-z0-9 ]", ""), " +", " ")) — the canonicalization every exact-
  * fingerprint site feeds into md5 — without the two regex engines:
  * ASCII rows (every row of the gate fixtures and the scale corpora)
  * take a single zero-regex scan that lowercases A-Z, keeps [a-z0-9],
  * collapses space runs, and drops everything else with leading/
  * trailing spaces never emitted. Rows containing ANY non-ASCII byte
  * take the exact Java fallback (Locale.ROOT lowercase + the same two
  * regexes) instead — full-Unicode lowercasing can map non-ASCII
  * codepoints INTO [a-z] (U+212A KELVIN SIGN → k), so a byte-level
  * fast path is only provably identical when it refuses non-ASCII
  * input rather than guessing at it.
  */
object NormalizeText {

  /** Codegen entry point (called from generated Java). */
  def eval(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    while (i < n && bytes(i) >= 0) i += 1
    if (i < n) { // non-ASCII byte: exact slow path
      // no-arg toLowerCase deliberately: Spark's lower() lowers via
      // String.toLowerCase() with the JVM default locale
      // (UTF8String.toLowerCaseSlow), so matching the replaced
      // lower()+regex chain byte-for-byte on EVERY JVM — including a
      // Turkish-locale one, where I lowers to dotless ı — requires the
      // same locale choice, not Locale.ROOT
      return UTF8String.fromString(
        s.toString.toLowerCase()
          .replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim)
    }
    val out = new Array[Byte](n)
    var k = 0
    var pendingSpace = false
    i = 0
    while (i < n) {
      var b = bytes(i)
      if (b >= 'A'.toByte && b <= 'Z'.toByte) b = (b + 32).toByte
      if (b == ' '.toByte) {
        if (k > 0) pendingSpace = true
      } else if ((b >= 'a'.toByte && b <= 'z'.toByte) ||
          (b >= '0'.toByte && b <= '9'.toByte)) {
        if (pendingSpace) { out(k) = ' '.toByte; k += 1; pendingSpace = false }
        out(k) = b
        k += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, k)
  }

  /** Column-level API: `normalize_text($"text")`. */
  def normalize_text(c: Column): Column =
    GraftShims.column(NormalizeTextExpr(GraftShims.toExpression(c)))
}

/** Native Catalyst expression form of [[NormalizeText]]. */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StringType
  override def nullSafeEval(v: Any): Any =
    NormalizeText.eval(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeText.eval($c)")
  override protected def withNewChildInternal(c: Expression): NormalizeTextExpr =
    copy(child = c)
}

/** Native Catalyst expression: stays inside whole-stage codegen
  * (doGenCode emits a static call with the word set as a codegen
  * reference object), unlike the split/filter composition it replaces.
  *
  * The word set is held as `Seq[String]` so the case class keeps
  * structural equality — Catalyst canonicalization and subexpression
  * elimination compare expressions by equals/hashCode, and an
  * `Array[Array[Byte]]` field compares by reference, which would make
  * two identical `token_set_count` calls in one plan never dedupe.
  * The UTF-8 byte form the kernel scans against is derived lazily and
  * excluded from equality. */
case class TokenSetCountExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {
  @transient private lazy val wordBytes: Array[Array[Byte]] =
    words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TokenSetCount.eval(v.asInstanceOf[UTF8String], wordBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("words", wordBytes, "byte[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenSetCount.eval($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): TokenSetCountExpr =
    copy(child = c)
}
