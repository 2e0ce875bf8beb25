package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** SQL-surface registration of the native expressions, so `spark.sql`
  * users get the same operators as the Column API:
  *
  *   <session builder>.withExtensions(new GraftExtensions) ...
  *   spark.sql("SELECT simhash64(text), array_dot(a, b) FROM docs")
  *
  * (The `SparkSessionExtensions` hook is also where a custom
  * Rule/Strategy would be injected; this engine deliberately needs
  * none — SURVEY §4.1: Catalyst covers every reference capability.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
}

object GraftExtensions {

  /** One SQL function: its name, the expression class it builds, and
    * the builder from call arguments. */
  final case class Fn(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression)

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** The single function table: builder-time injection ([[GraftExtensions]])
    * and runtime registration ([[register]]) both iterate over it. */
  val Functions: Seq[Fn] = Seq(
    Fn("simhash64", classOf[SimHash64], args => SimHash64(args.head)),
    Fn("array_dot", classOf[ArrayDot], args => ArrayDot(args(0), args(1))),
    Fn("lsh_buckets", classOf[LshBucketsExpr], args =>
      LshBucketsExpr(args(0), intArg(args(1), "tables"),
        intArg(args(2), "bits"))),
    Fn("minhash_sig", classOf[MinHashSigExpr], args =>
      MinHashSigExpr(args(0), intArg(args(1), "perms"))),
    Fn("intersect_count", classOf[IntersectCountExpr], args =>
      IntersectCountExpr(args(0), args(1))),
    Fn("text_shingles", classOf[TextShinglesExpr], args =>
      TextShinglesExpr(args(0), intArg(args(1), "n"))),
    Fn("band_keys", classOf[BandKeysExpr], args =>
      BandKeysExpr(args(0), intArg(args(1), "bands"),
        intArg(args(2), "rows"))),
    Fn("minhash_band_keys", classOf[MinHashBandKeysExpr], args =>
      MinHashBandKeysExpr(args(0), intArg(args(1), "perms"),
        intArg(args(2), "bands"))))

  /** Runtime registration for an ALREADY-built session (builder-time
    * extensions only apply to new sessions; `getOrCreate` on an existing
    * one ignores `withExtensions`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Functions.foreach(f =>
      reg.createOrReplaceTempFunction(f.name, f.build, "built-in"))
  }
}
