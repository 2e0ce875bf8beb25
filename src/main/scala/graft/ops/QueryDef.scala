package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine capability: a named DataFrame query over the
  * driver's parquet tables plus (when SQL-expressible) an equivalent
  * ANSI-SQL oracle that DuckDB runs on the same tables.
  *
  * The driver's comparator sorts columns by name and hashes values, so
  * the Spark result and the oracle must agree on column NAMES and exact
  * values. Conventions that keep the hash deterministic:
  *   - every aggregate / computed column is aliased identically on both
  *     sides;
  *   - both sides end in the same total ORDER BY on a unique key;
  *   - sums over doubles go through exact decimal (or scaled-integer)
  *     arithmetic — straight double summation is order-dependent and
  *     will not reproduce across engines;
  *   - no wall-clock (current_timestamp) output.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** A module of related capabilities (one per SURVEY.md §2 area). */
trait QueryModule {
  def defs: Seq[QueryDef]

  /** Each query first closes its thread's [[graft.Scope]]: building
    * query N+1 frees what query N held. */
  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { d =>
      d.name -> ((s: SparkSession, dir: String) => {
        graft.Scope.close()
        d.fn(s, dir)
      })
    }.toMap
  final def oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
