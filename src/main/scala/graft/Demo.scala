package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipeline.Record
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.ParseStage

/** End-to-end demo replicating the reference's `main()` topology
  * (/root/reference/src/main.rs:104-122): Kafka-shaped source → parse →
  * batched durable sink + DLQ → offset commit — with a parquet sink in
  * place of ClickHouse and a MemoryStream in place of a live broker
  * (the harness has no Kafka; swap `readStream.format("kafka")` in).
  *
  *   sbt "runMain graft.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("4", appName = Some("graft-demo"))
    implicit val sqlCtx = spark.sqlContext

    val base = Files.createTempDirectory("graft-demo").toString
    val (okDir, dlqDir, ckpt) = (s"$base/ok", s"$base/dlq", s"$base/ckpt")

    // "topic" with two partitions; one poison message for the DLQ path
    val stream = MemoryStream[Record]
    stream.addData(
      Record("demo", 0, 0L, 1700000000000L, None, "{\"k\": 7}".getBytes),
      Record("demo", 0, 1L, 1700000001000L, None, "not-json".getBytes),
      Record("demo", 1, 0L, 1700000002000L, None, "{\"k\": 42}".getBytes))

    // parse stage: UTF-8 payload must carry a "k" field (the demo schema,
    // reference src/main.rs:14-30)
    val payload = decode(col("value"), "UTF-8")
    val stage = ParseStage(
      valid = payload.rlike("\"k\": [0-9]+"),
      parsed = Seq(col("partition"), col("offset"),
        regexp_extract(payload, "\"k\": ([0-9]+)", 1).cast("long").as("k"),
        timestamp_millis(col("timestampMs")).as("ts")))

    val query = StreamingPipeline.dualWrite(
      stream.toDF(), stage, okDir, dlqDir, ckpt)
    query.awaitTermination()

    println("=== sunk rows ===")
    spark.read.parquet(okDir).orderBy("partition", "offset").show()
    println("=== dead letters ===")
    spark.read.parquet(dlqDir)
      .select(col("partition"), col("offset"), decode(col("value"), "UTF-8"))
      .show()
    println("=== committed offsets (from checkpoint) ===")
    println(Files.readString(
      java.nio.file.Path.of(s"$ckpt/offsets/0")).linesIterator
      .drop(2).mkString("\n"))
    spark.stop()
  }
}
