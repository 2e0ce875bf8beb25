package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, slot) through splitmix64, so a seed names one input
  * byte for byte, whatever the partitioning, and two seeds differ. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Draw number `slot` of row `id` under `seed`, in [0, n). */
  def draw(seed: Long, id: Long, slot: Int, n: Long): Long =
    java.lang.Math.floorMod(mix(mix(seed * 0x632be59bd9b4e019L + id) + slot), n)

  /** A seed-driven permutation of `xs` (Fisher–Yates). */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = draw(seed, i.toLong, 99, (i + 1).toLong).toInt
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  private def money(seed: Long, id: Long, slot: Int, lo: Long, hi: Long): Double =
    (lo + draw(seed, id, slot, hi - lo + 1)) / 100.0

  private val Epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Jan2024 = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Status = Array("F", "O", "P")
  private val Priority = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")

  /** Row counts of the fixture layout at scale factor `sf`. */
  final case class Sizes(sf: Double) {
    private def n(base: Double, min: Long): Long = math.max(min, (base * sf).round)
    val customer = n(150000, 100); val orders = n(1500000, 1000)
    val events = n(1000000, 1000); val users = n(15000, 50)
  }

  /** The tables of the fixture layout that the batch queries read
    * (nation, customer, orders, events) at scale factor `sf`, with the
    * fixture's schemas and value domains. */
  def fixtureTables(spark: SparkSession, dir: String, seed: Long, sf: Double,
      parts: Int): Unit = {
    import spark.implicits._
    val z = Sizes(sf)
    def out(name: String) = s"$dir/$name.parquet"
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1)
      .write.parquet(out("nation"))
    spark.range(0, z.customer, 1, parts).map { i =>
      (i, f"Customer#$i%09d", draw(seed, i, 1, 25).toInt,
        money(seed, i, 2, -99999, 999999), Segments(draw(seed, i, 3, 5).toInt))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(out("customer"))
    val nCust = z.customer
    spark.range(0, z.orders, 1, parts).map { i =>
      (i, draw(seed, i, 11, nCust), Status(draw(seed, i, 12, 3).toInt),
        money(seed, i, 13, 100000, 50000000),
        Epoch1995.plusDays(draw(seed, i, 14, 2404)),
        Priority(draw(seed, i, 15, 5).toInt))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority").write.parquet(out("orders"))
    // events: monotone ts in event_id order across January 2024
    val (nEv, nUsers) = (z.events, z.users)
    val spacingUs = 30L * 86400L * 1000000L / nEv
    spark.range(0, nEv, 1, parts).map { i =>
      (i, Jan2024.plusNanos((i * spacingUs + draw(seed, i, 26, spacingUs)) * 1000L),
        draw(seed, i, 27, nUsers), EventTypes(draw(seed, i, 28, 5).toInt),
        draw(seed, i, 29, 56022) / 100.0, s"""{"k": ${draw(seed, i, 30, 100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(out("events"))
  }

  /** 64-dim vector shaped like ScaleBench's: every 97th is its
    * predecessor with one component nudged (cosine ~1), planting semantic
    * near-duplicates. Vectors 0..7 seed q_semantic_dedup's codebook and
    * each sits in its own cell, so no twin is planted among them. */
  def plantedVec(seed: Long, id: Long): Array[Float] = {
    val twin = isVecTwin(id)
    val base = if (twin) id - 1 else id
    val v = Array.tabulate(64)(d => (draw(seed, base * 257 + d, 42, 2001) - 1000) / 1000.0f)
    if (twin) v(7) += 0.01f
    v
  }
  def isVecTwin(id: Long): Boolean = id % 97 == 1 && id > 8

  /** Scale corpus document `id`, shaped like ScaleBench's `docText`:
    * `len` words drawn uniformly from a 4096-word vocabulary. Twins — ids
    * ≡ 1 (mod 47) — copy their predecessor with two words replaced
    * (shingle Jaccard ≈ 0.86). */
  def scaleText(seed: Long, id: Long, len: Int): String = {
    val twin = isDocTwin(id)
    val base = if (twin) id - 1 else id
    val words = Array.tabulate(len)(j => s"w${draw(seed, base * 131 + j, 43, 4096)}")
    if (twin) for (j <- Seq(13 % len, 57 % len)) words(j) = s"m${draw(seed, id, 44, 4096)}_$j"
    words.mkString(" ")
  }
  def isDocTwin(id: Long): Boolean = id % 47 == 1

  /** A keyword-stuffed page: word 0 of document `of`, repeated `times`
    * times. */
  def stuffedText(seed: Long, of: Long, times: Int): String =
    Array.fill(times)(s"w${draw(seed, of * 131, 43, 4096)}").mkString(" ")

  /** The stream's 40-token documents: every 100th (offset 99) is a
    * near-twin of its predecessor with one token edited; the rest share
    * no token with any other document. */
  def streamDoc(seed: Long, i: Long): String = {
    val twin = i % 100 == 99
    val base = if (twin) i - 1 else i
    val tag = java.lang.Long.toHexString(mix(seed ^ base) & 0xffffffffL)
    (0 until 40).map(j => if (twin && j == 7) "EDITED" else s"w${tag}_$j").mkString(" ")
  }
}
