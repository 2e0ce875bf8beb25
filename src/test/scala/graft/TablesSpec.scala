package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Pins the schema-adaptive events loader: fixture generations have
  * shipped `ts` both as raw nanos (parquet TIMESTAMP(NANOS), read as
  * long under `nanosAsLong`) and as TIMESTAMP(MICROS) (read as
  * TIMESTAMP_NTZ). The loader must yield the SAME µs TimestampType
  * column for the same instants either way — downstream arithmetic
  * (unix_timestamp / unix_micros / date_format) assumes it.
  *
  * Also pins the loaders' schema memo: a repeated read of unchanged
  * files starts no Spark job, and any change to the files or to the
  * parquet confs is seen on the next read. */
class TablesSpec extends SparkSpecBase {

  private def writeEvents(dir: String, tsExpr: String): Unit = {
    import spark.implicits._
    Seq(
      (1L, 1609459200123456789L, 10L, "click", 1.5, "{}"),
      (2L, 1609459260999999999L, 11L, "view", 2.5, "{}"))
      .toDF("event_id", "ns", "user_id", "event_type", "value", "props")
      .selectExpr("event_id", s"$tsExpr as ts", "user_id", "event_type",
        "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  // written once per suite, so a second read of each is a memo hit
  private lazy val nanoDir = {
    val d = Files.createTempDirectory("graft_ev_nano").toString
    // long column named ts = what a TIMESTAMP(NANOS) fixture looks like
    // under spark.sql.legacy.parquet.nanosAsLong=true
    writeEvents(d, "ns")
    d
  }
  private lazy val ntzDir = {
    val d = Files.createTempDirectory("graft_ev_ntz").toString
    // TIMESTAMP_NTZ column = what a TIMESTAMP(MICROS) isAdjustedToUTC=false
    // fixture reads as (nanos truncate to µs, matching the loader's div)
    writeEvents(d, "cast(timestamp_micros(ns div 1000) as timestamp_ntz)")
    d
  }

  private def checkEvents(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema("ts").dataType.typeName === "timestamp")
    assert(b.schema("ts").dataType.typeName === "timestamp")
    val got = Seq(a, b).map(
      _.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy(col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(got(0) === got(1))
    assert(got(0) === Seq(
      (1L, 1609459200123456L), (2L, 1609459260999999L)))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The loader as it was before the memo: infer on every read. */
  private def unmemoizedEvents(dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  test("events loader: long-nanos and NTZ-micros fixtures read identically") {
    checkEvents(Tables.events(spark, nanoDir), Tables.events(spark, ntzDir))
  }

  test("events loader: a second read of both fixtures is served from the memo") {
    checkEvents(Tables.events(spark, nanoDir), Tables.events(spark, ntzDir))
    val ((a, b), jobs) = jobsDuring(
      (Tables.events(spark, nanoDir), Tables.events(spark, ntzDir)))
    assert(jobs.isEmpty)
    checkEvents(a, b)
  }

  test("schema memo: a second read of an unchanged table starts no Spark job") {
    val d = Files.createTempDirectory("graft_memo_same").toString
    spark.range(0, 50, 1, 3).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .write.parquet(s"$d/documents.parquet")
    val (first, inferJobs) = jobsDuring(Tables.documents(spark, d))
    assert(inferJobs.nonEmpty, "the first read infers the schema with a job")
    val (second, jobs) = jobsDuring(Tables.documents(spark, d))
    assert(jobs.isEmpty)
    assert(second.schema === first.schema)
    assert(rows(second) === rows(first))
  }

  test("schema memo: an overwrite with an added column and a changed type is seen, a delete fails") {
    val d = Files.createTempDirectory("graft_memo_overwrite").toString
    val path = s"$d/documents.parquet"
    spark.range(0, 20, 1, 2).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .write.parquet(path)
    assert(Tables.documents(spark, d).schema.fieldNames.toSeq === Seq("doc_id", "text"))
    Tables.documents(spark, d) // a memo hit
    spark.range(0, 30, 1, 2).selectExpr("CAST(id AS INT) AS doc_id",
      "CAST(id AS STRING) AS text", "id * 0.5 AS score")
      .write.mode("overwrite").parquet(path)
    val after = Tables.documents(spark, d)
    assert(after.schema === spark.read.parquet(path).schema)
    assert(after.schema("doc_id").dataType.typeName === "integer")
    assert(after.schema.fieldNames.toSeq === Seq("doc_id", "text", "score"))
    assert(rows(after) === rows(spark.read.parquet(path)))
    assert(after.count() === 30)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val gone = intercept[org.apache.spark.sql.AnalysisException](Tables.documents(spark, d))
    val want = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(path))
    assert(gone.getCondition === want.getCondition)
  }

  test("schema memo: a changed parquet conf re-infers the schema") {
    val d = Files.createTempDirectory("graft_memo_conf").toString
    val path = s"$d/documents.parquet"
    spark.range(0, 10, 1, 1).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .write.parquet(path)
    spark.range(10, 20, 1, 1).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text",
      "id AS extra").write.mode("append").parquet(path)
    val key = "spark.sql.parquet.mergeSchema"
    def both(): (DataFrame, DataFrame) = (Tables.documents(spark, d), spark.read.parquet(path))
    try {
      spark.conf.set(key, "false")
      val (plain, plainRef) = both()
      assert(plain.schema === plainRef.schema)
      spark.conf.set(key, "true")
      val (merged, mergedRef) = both()
      assert(merged.schema === mergedRef.schema)
      assert(merged.schema.fieldNames.contains("extra"))
      assert(rows(merged) === rows(mergedRef))
      spark.conf.set(key, "false")
      assert(Tables.documents(spark, d).schema === plain.schema)
    } finally spark.conf.unset(key)
  }

  test("schema memo: a partitioned layout follows the partition-type conf") {
    val d = Files.createTempDirectory("graft_memo_part").toString
    val path = s"$d/documents.parquet"
    spark.range(0, 10, 1, 1).selectExpr("id AS doc_id", "id % 2 AS k")
      .write.partitionBy("k").parquet(path)
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    try for (setting <- Seq("true", "false", "true")) {
      spark.conf.set(key, setting)
      assert(Tables.documents(spark, d).schema === spark.read.parquet(path).schema,
        s"$key=$setting")
    } finally spark.conf.unset(key)
  }

  test("schema memo: events under nanosAsLong true then false reads as the un-memoized loader") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    try for (setting <- Seq("true", "false")) {
      spark.conf.set(key, setting)
      val got = Tables.events(spark, nanoDir)
      val want = unmemoizedEvents(nanoDir)
      assert(got.schema === want.schema, s"nanosAsLong=$setting")
      assert(rows(got) === rows(want), s"nanosAsLong=$setting")
    } finally spark.conf.set(key, "true")
  }
}
