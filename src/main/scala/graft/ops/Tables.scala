package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.HexFormat
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each loader is a plain parquet scan: Catalyst pushes filters and
  * column pruning into the scan (verify with `.explain`: PushedFilters /
  * ReadSchema), which is the 100 TB-scale contract — a query that needs
  * 2 columns must read 2 columns.
  *
  * '''Schema memo.''' Inferring a parquet schema runs a Spark job that
  * reads a footer: on a 4-core host it was most of a relational query's
  * build (perfbench `batch`: ~100 ms with it, ~30 ms without). That
  * schema depends only on the table's files and the session's parquet
  * confs, so the first read of an unpartitioned path records three
  * things: every conf set under `spark.sql.parquet.` or
  * `spark.sql.legacy.parquet.`, a digest of the sorted
  * (path, length, mtime) of the files the read listed, and the inferred
  * `StructType`. A later read of the path under the same confs pins
  * that schema (`spark.read.schema(s)`) and checks the digest against
  * the listing its own file index already holds, so each read still
  * lists the path exactly once and starts no job. A change in the files
  * or the confs falls back to inference and replaces the entry; a
  * missing path fails as an inferring read does.
  *
  * The memo holds only what inference returned for exactly these files,
  * never a declared schema per table: fixture generations differ in
  * physical types (`events.ts`, and `o_totalprice`, which
  * [[graft.operators.Relational]] casts), and a declared type that does
  * not match the files fails or misreads. Catalog tables are not used
  * either: their relation cache goes stale until a `REFRESH`, and their
  * names would have to be made per directory.
  *
  * The memo is not a global slot of the kind [[graft.Scope]] replaced.
  * It memoizes a pure function under its full input, owns no blocks and
  * frees nothing, and two callers on any threads get identical schemas.
  * It keeps one entry per path, replaced on mismatch, and has no knob.
  */
object Tables {
  private final case class Learned(confs: Map[String, String], files: String,
      schema: StructType)
  private val learned = new ConcurrentHashMap[String, Learned]()

  // private so callers go through the named loaders (fixed table set)
  private def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val confs = parquetConfs(spark)
    val pinned = Option(learned.get(path)).filter(_.confs == confs).flatMap { l =>
      Some(spark.read.schema(l.schema).parquet(path)).filter(filesDigest(_).contains(l.files))
    }
    pinned.getOrElse {
      val df = spark.read.parquet(path)
      filesDigest(df).foreach(f => learned.put(path, Learned(confs, f, df.schema)))
      df
    }
  }

  /** The session confs set under the parquet prefixes. Read through
    * `getAll`: `getConfString(k, "")` throws on boolean confs. */
  private def parquetConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  /** Digest of the files a read's own index listed; None, so never
    * memoized, for a read that is not a listed file relation, or whose
    * layout is partitioned (partition column types are inferred from
    * directory names under confs outside the parquet prefixes). */
  private def filesDigest(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation if r.partitionSchema.isEmpty => r.location }
      .collect { case idx: PartitioningAwareFileIndex =>
        val md = MessageDigest.getInstance("SHA-256")
        idx.allFiles()
          .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n").sorted
          .foreach(line => md.update(line.getBytes(UTF_8)))
        HexFormat.of.formatHex(md.digest())
      }

  /** events.ts has shipped as two physical types across fixture
    * generations, so the loader adapts to the schema it finds:
    *
    *  - parquet TIMESTAMP(NANOS), which Spark 4 refuses to read natively:
    *    read as raw nanos (legacy long) and truncate to a µs TimestampType
    *    with exact integer arithmetic (`div`, not `/` — ns since epoch
    *    overflows double precision; post-epoch data, where div == floor).
    *    Matches DuckDB's `CAST(ts AS TIMESTAMP)` ns→µs truncation.
    *  - parquet TIMESTAMP(MICROS) without UTC adjustment, which Spark 4
    *    reads as TIMESTAMP_NTZ: cast to TimestampType — identity on the
    *    stored micros under the UTC session timezone every entry point
    *    sets, and what DuckDB reads directly.
    *
    * Downstream operators always see a µs TimestampType `ts` either way
    * (unix_timestamp/unix_micros/date_format all assume it).
    *
    * The runtime conf set is a DELIBERATE session-level side effect: the
    * driver's smoke check calls `SparkEntry.entry` on a session we do not
    * build, so the flag cannot be a builder option. It only changes how
    * TIMESTAMP(NANOS) parquet columns read (as raw longs); it is inert
    * for µs fixtures. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
