package graft.ops

/** DuckDB SQL fragments that reproduce the engine's native hash kernels
  * bit-for-bit, closing the oracle gap for queries built on them
  * (q_simhash, q_simhash_neardup, q_chunk_dedup previously had no
  * SQL-checkable form).
  *
  * The kernels are tiny integer folds, so they ARE expressible in SQL —
  * just not with DuckDB's built-in hash functions:
  *   - FNV-1a/64 ([[graft.functions.SimHash.fnv1a64]]) as a `list_reduce`
  *     over the byte values, in HUGEINT (128-bit) arithmetic reduced
  *     mod 2^64 each step; `h XOR b` for b < 256 only touches the low
  *     byte, so it is rewritten as `h - h%256 + xor(h%256, b)` (DuckDB's
  *     xor needs same-width small ints).
  *   - SimHash bit-voting with an exact power-of-two TABLE — DuckDB's
  *     `power()` is floating-point and mangles low bits of 64-bit values
  *     past the 53-bit mantissa.
  *   - The Gear content-defined chunker
  *     ([[graft.functions.VectorExpressions.contentChunks]]) as a
  *     recursive CTE advancing every document one byte per iteration,
  *     carrying (hash, last-boundary, boundary list) as row state.
  *
  * Byte extraction uses `ord(substr(text,i,1))`, i.e. code points — the
  * driver corpus is ASCII-only (verified: octet_length(encode(text)) =
  * strlen(text) for every row), where code point = UTF-8 byte. A
  * non-ASCII corpus would need blob-based byte access on the oracle side.
  */
object HashOracleSql {

  /** The first byte of md5(`key`) as 0..255, two hex digits read through
    * strpos over the digit alphabet (DuckDB has no base-16 conv()): the
    * bucket rule of the md5-prefix samplers, splits and sketch columns. */
  def md5Byte(key: String): String =
    s"""(strpos('0123456789abcdef', substr(md5($key), 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef', substr(md5($key), 2, 1)) - 1)"""

  /** Exact 2^0..2^63 as a HUGEINT list literal (index b+1 = 2^b). */
  private val pow2Lit: String =
    (0 until 64).map(b => BigInt(1) << b).mkString("[", ",", "]")

  /** The Gear table from [[graft.functions.VectorExpressions]] (same LCG,
    * same seed), as unsigned 64-bit literals. */
  private val gearLit: String = {
    var x = 0x9E3779B97F4A7C15L
    val u = BigInt("18446744073709551616") // 2^64
    (0 until 256).map { _ =>
      x = x * 6364136223846793005L + 1442695040888963407L
      (BigInt(x) + u) % u
    }.mkString("[", ",", "]")
  }

  /** FNV-1a/64 of a VARCHAR expression, as an unsigned HUGEINT. */
  def fnv1a64(col: String): String = s"""list_reduce(
    list_prepend(CAST(14695981039346656037 AS HUGEINT),
      list_transform(generate_series(1, strlen($col)),
        i -> CAST(ord(substr($col, i, 1)) AS HUGEINT))),
    (acc, b) -> ((acc - acc % 256 + xor(acc % 256, b)) * 1099511628211)
                % 18446744073709551616::HUGEINT)"""

  /** CTE chain ending in `sh(doc_id, simhash BIGINT)`: the per-document
    * 64-bit SimHash over whitespace tokens, matching
    * [[graft.functions.SimHash.simhash64]] exactly: tokens split on the
    * ASCII whitespace class Java's `Character.isWhitespace` accepts
    * (space, \t, \n, \x0B, \f, \r, \x1C-\x1F — the full Unicode classes
    * would need ICU, but the corpus is ASCII, see class doc), empty
    * tokens skipped, vote >= 0 sets the bit, result reinterpreted as
    * signed — and a TOKEN-LESS document keeps the all-votes-zero
    * fingerprint (every bit set = -1), not a dropped row. */
  val simhashCte: String = s"""
    WITH p2t AS (SELECT CAST($pow2Lit AS HUGEINT[]) AS p2),
    toks AS (
      SELECT doc_id, unnest(list_filter(
               string_split_regex(text, '[ \\t\\n\\x0b\\f\\r\\x1c-\\x1f]'),
               t -> strlen(t) > 0)) AS t
      FROM documents),
    th AS (SELECT doc_id, ${fnv1a64("t")} AS h FROM toks),
    bits AS (
      SELECT doc_id, b.b,
             CASE WHEN sum(CASE WHEN (h // p2[b.b+1]) % 2 = 1
                               THEN 1 ELSE -1 END) >= 0
                  THEN p2[b.b+1] ELSE 0::HUGEINT END AS bitval
      FROM th, generate_series(0, 63) AS b(b), p2t
      GROUP BY doc_id, b.b, p2[b.b+1]),
    sh0 AS (
      SELECT doc_id,
             CAST(CASE WHEN sum(bitval)::HUGEINT >= 9223372036854775808::HUGEINT
                       THEN sum(bitval)::HUGEINT - 18446744073709551616::HUGEINT
                       ELSE sum(bitval)::HUGEINT END AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id),
    sh AS (
      SELECT d.doc_id, coalesce(sh0.simhash, CAST(-1 AS BIGINT)) AS simhash
      FROM documents d LEFT JOIN sh0 ON d.doc_id = sh0.doc_id)"""

  /** CTE chain ending in `chunks(doc_id, chunk HUGEINT)`: the distinct
    * FNV hashes of each document's Gear/FastCDC chunks (maskBits=5,
    * minChunk=8), matching
    * [[graft.functions.VectorExpressions.contentChunks]]. The recursive
    * member advances all documents one byte per iteration, so total work
    * is Σ doc lengths — trivially within DuckDB's reach at oracle SF. */
  val chunksCte: String = s"""
    WITH RECURSIVE g AS (SELECT CAST($gearLit AS HUGEINT[]) AS gear),
    walk AS (
      SELECT doc_id, text, 0 AS i, 0::HUGEINT AS h, 0 AS last_b, [0] AS bounds
      FROM documents
      UNION ALL
      SELECT doc_id, text, i + 1, nh,
             CASE WHEN nh % 32 = 0 AND i + 1 - last_b >= 8
                  THEN i + 1 ELSE last_b END,
             CASE WHEN nh % 32 = 0 AND i + 1 - last_b >= 8
                  THEN list_append(bounds, i + 1) ELSE bounds END
      FROM (
        SELECT doc_id, text, i, last_b, bounds,
               (h * 2 + gear[ord(substr(text, i + 1, 1)) + 1])
                 % 18446744073709551616::HUGEINT AS nh
        FROM walk, g
        WHERE i < strlen(text)) st),
    fin AS (
      SELECT doc_id, text,
             CASE WHEN bounds[-1] <> strlen(text)
                  THEN list_append(bounds, strlen(text)) ELSE bounds END AS bounds
      FROM walk WHERE i = strlen(text)),
    chunk_texts AS (
      SELECT doc_id,
             substr(text, bounds[ci] + 1, bounds[ci + 1] - bounds[ci]) AS ct
      FROM fin, unnest(generate_series(1, len(bounds) - 1)) AS t(ci)),
    chunks AS (
      SELECT DISTINCT doc_id, ${fnv1a64("ct")} AS chunk FROM chunk_texts)"""
}
