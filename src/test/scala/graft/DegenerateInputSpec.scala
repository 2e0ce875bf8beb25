package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Curation, NearDup, TextOps}

/** The single-path span scrub, PII redaction and MinHash near-dup on an
  * empty corpus and on a one-document corpus (schema of the sf0.001
  * fixture): none may throw, and the row counts follow the input. */
class DegenerateInputSpec extends SparkSpecBase {

  private def corpus(rows: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-degenerate")
      .toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .orderBy(col("doc_id")).limit(rows)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  for (rows <- Seq(0, 1)) {
    test(s"scrub, pii and near-dup run on a $rows-row corpus") {
      val dir = corpus(rows)
      assert(spark.read.parquet(s"$dir/documents.parquet").count() === rows)
      assert(TextOps.spanScrub(spark, dir).collect().length === rows)
      assert(Curation.piiRedact(spark, dir).collect().length === rows)
      assert(NearDup.minhashNearDup(spark, dir).collect().isEmpty)
    }
  }
}
