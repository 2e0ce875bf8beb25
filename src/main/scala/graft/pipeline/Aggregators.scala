package graft.pipeline

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator[IN, BUF, OUT]` forms of the reference's `Reducer`
  * trait (SURVEY §2.5/2.7): `zero` = `reset`, `reduce` = `reduce`,
  * `finish` = `flush`. Unlike the [[Reducer]] batch interface (whole
  * partition at a time), these run inside Spark's aggregation machinery
  * with map-side partial aggregation — the scalable form of a keyed
  * accumulate-then-flush stage.
  */
object Aggregators {

  /** Highwater mark as a typed aggregator: max(offset)+1 per key
    * (reference `HighwaterMark::track`, `src/lib.rs:956-962`, which folds
    * one message at a time exactly like `reduce` here). */
  object HighwaterAgg extends Aggregator[Long, Long, Long] {
    def zero: Long = Long.MinValue
    def reduce(buf: Long, offset: Long): Long = math.max(buf, offset)
    def merge(a: Long, b: Long): Long = math.max(a, b)
    def finish(buf: Long): Long = buf + 1L
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Batch-concatenating reducer (the reference's `BatchingReducer` mock,
    * `src/lib.rs:1105-1192`, accumulates payload chunks and flushes them
    * as one batch): accumulates string payloads in arrival order. */
  object ConcatAgg extends Aggregator[String, List[String], String] {
    def zero: List[String] = Nil
    def reduce(buf: List[String], v: String): List[String] = v :: buf
    def merge(a: List[String], b: List[String]): List[String] = b ::: a
    def finish(buf: List[String]): String = buf.reverse.mkString(",")
    def bufferEncoder: Encoder[List[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[String]]()
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Misra–Gries heavy-hitters summary over a token stream: a bounded
    * (k-entry) counter map whose classic guarantees SURVIVE Spark's
    * partial-aggregate merges (MG summaries are mergeable): after
    * summarizing n tokens,
    *  - every token with true count > n/k is present, and
    *  - every estimate undercounts its true count by at most n/k.
    * The map-side partial summary is what makes corpus-scale "what
    * dominates the vocabulary" queries one bounded-memory aggregation
    * instead of a full token groupBy — the skew-finding companion to
    * the exact [[graft.operators.Corpus.tokenFrequencies]]. Estimates
    * (not membership above the bound) depend on merge order, so this is
    * spec-pinned rather than oracle-gated, like the other sketches. */
  /** Misra–Gries compaction, shared by the batch aggregator and the
    * streaming heavy-hitter monitor
    * ([[graft.streaming.StreamingPipeline.heavyHittersStream]]): when
    * more than k counters are live, subtract the (k+1)-th largest count
    * from all of them — at most k stay strictly positive, and any
    * element's total decrement across a stream of N items is ≤ N/(k+1),
    * the bound the summary's guarantees rest on. */
  private[graft] def mgCompact[T](m: Map[T, Long], k: Int): Map[T, Long] =
    if (m.size <= k) m
    else {
      val d = m.values.toSeq.sorted(Ordering[Long].reverse)(k)
      m.flatMap { case (t, c) => if (c - d > 0) Some(t -> (c - d)) else None }
    }

  class MisraGriesAgg(k: Int)
      extends Aggregator[Long, Map[Long, Long], Map[Long, Long]] {
    private def compact(m: Map[Long, Long]): Map[Long, Long] =
      mgCompact(m, k)
    def zero: Map[Long, Long] = Map.empty
    def reduce(buf: Map[Long, Long], tok: Long): Map[Long, Long] =
      compact(buf.updated(tok, buf.getOrElse(tok, 0L) + 1L))
    def merge(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] =
      compact(b.foldLeft(a) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      })
    def finish(buf: Map[Long, Long]): Map[Long, Long] = buf
    def bufferEncoder: Encoder[Map[Long, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Long, Long]]()
    def outputEncoder: Encoder[Map[Long, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Long, Long]]()
  }

  /** The bounded sorted buffer behind every top-K aggregate: the best
    * `k` elements under the strict total order [[before]], best first —
    * the bounded-state form of `row_number() OVER (ORDER BY …) <= k`,
    * with IDENTICAL selection and tie semantics. The window form SORTS
    * every candidate row of a group; on a probes × corpus truth join
    * that sort is the engine's largest transient (10¹⁰ rows at 10⁸
    * vectors × 100 probes — its spill files, not the data, are what die
    * first on a single host, and on a cluster it is a full extra
    * exchange+sort of the candidate volume). This buffer carries K
    * entries per group instead: map-side partial aggregation reduces
    * each partition to ≤ K rows per group before anything shuffles, so
    * the exchange is |groups| × K × tasks — kilobytes — and nothing
    * ever sorts more than K entries.
    *
    * reduce is O(k) worst case; k is the top-K ask (≤ tens). */
  abstract class TopKBuffer[E, OUT](k: Int)
      extends Aggregator[E, Seq[E], OUT] {
    /** Strict total order on entries: `a` ranks ahead of `b`. */
    protected def before(a: E, b: E): Boolean
    def zero: Seq[E] = Vector.empty
    def reduce(buf: Seq[E], x: E): Seq[E] = {
      if (buf.size >= k && !before(x, buf.last)) buf
      else {
        val i = buf.indexWhere(e => before(x, e)) match {
          case -1 => buf.size
          case p => p
        }
        val v = buf.toVector
        ((v.take(i) :+ x) ++ v.drop(i)).take(k)
      }
    }
    def merge(a: Seq[E], b: Seq[E]): Seq[E] = {
      val out = Vector.newBuilder[E]
      var i = 0; var j = 0; var n = 0
      while (n < k && (i < a.size || j < b.size)) {
        if (j >= b.size || (i < a.size && before(a(i), b(j)))) {
          out += a(i); i += 1
        } else { out += b(j); j += 1 }
        n += 1
      }
      out.result()
    }
  }

  /** The score-first rank order of every top-K surface: higher score
    * ahead, equal scores decided by `idsAhead`. Scores compare exactly
    * as Spark's DoubleType sort does (`SQLOrderingUtil.compareDoubles`):
    * `java.lang.Double.compare`'s total order — NaN ranked largest, NaN
    * equal to NaN — except that -0.0 equals 0.0, so the window
    * equivalence holds on degenerate scores (e.g. cosine of a zero-norm
    * vector) too; `>`/`==` would both be false for NaN and silently
    * break the sorted-buffer invariant reduce/merge rely on. */
  private def scoreAhead(a: Double, b: Double, idsAhead: Boolean): Boolean = {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
      .compareDoubles(a, b)
    c > 0 || (c == 0 && idsAhead)
  }

  /** Exact top-K by (score DESC, id ASC) over (id, score) entries — e.g.
    * (neighbor_id, cosine) per probe. */
  abstract class TopKByScoreBase[OUT](k: Int)
      extends TopKBuffer[(Long, Double), OUT](k) {
    protected def before(a: (Long, Double), b: (Long, Double)): Boolean =
      scoreAhead(a._2, b._2, a._1 < b._1)
    def bufferEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Long, Double)]]()
  }

  /** (id, score, payload) top-K under the same (score DESC, id ASC)
    * order — for surfaces that must carry an extra exact column (e.g.
    * BM25's n_shared) through the selection without a rejoin that
    * would re-plan the expensive grouped subtree (Catalyst does not
    * CSE it). The score rides as Double: exact for the integer scores
    * the callers feed it (magnitudes ≪ 2⁵³, injectively mapped, so
    * equality — and therefore tie-break behavior — is preserved). */
  class TopKScorePayloadAgg(k: Int)
      extends TopKBuffer[(Long, Double, Long), Seq[(Long, Double, Long)]](k) {
    protected def before(a: (Long, Double, Long),
        b: (Long, Double, Long)): Boolean =
      scoreAhead(a._2, b._2, a._1 < b._1)
    def finish(buf: Seq[(Long, Double, Long)]): Seq[(Long, Double, Long)] =
      buf
    def bufferEncoder: Encoder[Seq[(Long, Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Long, Double, Long)]]()
    def outputEncoder: Encoder[Seq[(Long, Double, Long)]] = bufferEncoder
  }

  /** PAIR-keyed top-K under (score DESC, id_a ASC, id_b ASC) — the
    * composite-tie-break sibling of [[TopKScorePayloadAgg]] for
    * surfaces ranking document PAIRS (n-gram Jaccard top-k per
    * source); packing the pair into one long would cap ids at 32 bits,
    * which a 100 TB corpus exceeds. */
  class TopKPairsByScoreAgg(k: Int)
      extends TopKBuffer[(Long, Long, Double), Seq[(Long, Long, Double)]](k) {
    protected def before(a: (Long, Long, Double),
        b: (Long, Long, Double)): Boolean =
      scoreAhead(a._3, b._3,
        a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))
    def finish(buf: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
      buf
    def bufferEncoder: Encoder[Seq[(Long, Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Long, Long, Double)]]()
    def outputEncoder: Encoder[Seq[(Long, Long, Double)]] = bufferEncoder
  }

  /** Ids-only top-K (recall truth sets, hit joins). */
  class TopKCosineAgg(k: Int) extends TopKByScoreBase[Seq[Long]](k) {
    def finish(buf: Seq[(Long, Double)]): Seq[Long] = buf.map(_._1)
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** (id, score) top-K, rank-ordered — for query surfaces that emit the
    * rank AND the score (`posexplode` the result: rank = pos + 1). */
  class TopKScorePairsAgg(k: Int)
      extends TopKByScoreBase[Seq[(Long, Double)]](k) {
    def finish(buf: Seq[(Long, Double)]): Seq[(Long, Double)] = buf
    def outputEncoder: Encoder[Seq[(Long, Double)]] = bufferEncoder
  }

  /** Long sibling of [[BottomKAgg]]: the k SMALLEST DISTINCT longs,
    * sorted ascending. Mergeable bounded-state selection — used by
    * [[graft.operators.Corpus.invertedIndex]] to cap posting lists
    * WITHOUT sorting them: the window-rank form sorted every token's
    * full posting partition (a stop-word token's partition is the
    * corpus), while this keeps ≤ k ids per token per task and
    * exchanges tokens × k rows. Pure set property ⇒ merge-order
    * independent ⇒ oracle-gateable. */
  class BottomKLongAgg(k: Int)
      extends Aggregator[Long, Seq[Long], Seq[Long]] {
    def zero: Seq[Long] = Vector.empty
    def reduce(buf: Seq[Long], h: Long): Seq[Long] = {
      if (buf.size >= k && h >= buf.last) buf
      else {
        val i = buf.search(h)(Ordering[Long]) match {
          case scala.collection.Searching.Found(_) => return buf // dup
          case scala.collection.Searching.InsertionPoint(p) => p
        }
        val v = buf.toVector
        (v.take(i) :+ h) ++ v.drop(i) take k
      }
    }
    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = {
      val out = Vector.newBuilder[Long]
      var (i, j, n) = (0, 0, 0)
      while (n < k && (i < a.size || j < b.size)) {
        val next =
          if (j >= b.size || (i < a.size && a(i) <= b(j))) {
            if (j < b.size && a(i) == b(j)) j += 1
            val x = a(i); i += 1; x
          } else { val x = b(j); j += 1; x }
        out += next; n += 1
      }
      out.result()
    }
    def finish(buf: Seq[Long]): Seq[Long] = buf
    def bufferEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Bottom-k sketch of a hash-valued column: the k SMALLEST DISTINCT
    * values, kept sorted ascending. A bottom-k (KMV) sketch is the
    * classic mergeable distinct-set summary — the k smallest of a union
    * is computable from the k smallest of each part, so Spark's partial
    * aggregation keeps per-task state at k entries no matter how many
    * rows flow through, and the result is independent of merge order
    * (it is a pure set property). Used by
    * [[graft.operators.TextOps.sourceOverlap]] for cross-source Jaccard
    * estimation; unlike the estimate-carrying sketches (MG above), the
    * sketch CONTENT here is deterministic, so it is oracle-gated, not
    * just spec-pinned.
    *
    * reduce is O(log k) for the common miss (value above the current
    * k-th) and O(k) for a hit — fine for k in the hundreds. */
  class BottomKAgg(k: Int)
      extends Aggregator[String, Seq[String], Seq[String]] {
    def zero: Seq[String] = Vector.empty
    def reduce(buf: Seq[String], h: String): Seq[String] = {
      if (buf.size >= k && h >= buf.last) buf
      else {
        val i = buf.search(h)(Ordering[String]) match {
          case scala.collection.Searching.Found(_) => return buf // dup
          case scala.collection.Searching.InsertionPoint(p) => p
        }
        val v = buf.toVector
        (v.take(i) :+ h) ++ v.drop(i) take k
      }
    }
    def merge(a: Seq[String], b: Seq[String]): Seq[String] = {
      // merge of two sorted distinct seqs, kept sorted distinct, first k
      val out = Vector.newBuilder[String]
      var (i, j, n) = (0, 0, 0)
      while (n < k && (i < a.size || j < b.size)) {
        val next =
          if (j >= b.size || (i < a.size && a(i) <= b(j))) {
            if (j < b.size && a(i) == b(j)) j += 1
            val x = a(i); i += 1; x
          } else { val x = b(j); j += 1; x }
        out += next; n += 1
      }
      out.result()
    }
    def finish(buf: Seq[String]): Seq[String] = buf
    def bufferEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    def outputEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
  }

  /** Batch row-count — the sink's `written_rows` ack payload
    * (`src/clickhouse.rs:160-168`). */
  object CountAgg extends Aggregator[Any, Long, Long] {
    def zero: Long = 0L
    def reduce(buf: Long, v: Any): Long = buf + 1L
    def merge(a: Long, b: Long): Long = a + b
    def finish(buf: Long): Long = buf
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
