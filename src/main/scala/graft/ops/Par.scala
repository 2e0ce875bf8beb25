package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism for expensive narrow kernels.
  *
  * The bench fixtures are single-row-group parquet files, so every base
  * scan is exactly ONE partition — and a narrow per-row kernel placed
  * directly over it (codec encode/decode, shingling+minhash, BPE) runs
  * on one core no matter how many the session has. At deployment scale
  * the same scan has thousands of partitions and needs nothing.
  *
  * [[spread]] bridges the two regimes without a constant tuned for
  * either: it hash-repartitions to `defaultParallelism` ONLY when the
  * input currently has fewer partitions than that, so at 100 TB it is
  * a structural no-op (scan partitions ≫ cores) while on a starved
  * scan it buys cores× on the kernel stage. The exchange it may insert
  * moves only the narrow pre-kernel columns (callers project first), so
  * even when it does fire the shuffled bytes are key+metadata, never
  * payloads — the guide's "shuffle a lightweight proxy" rule.
  *
  * Apply it ONLY where per-row work dominates the scan (codecs, token
  * kernels): a scan-speed aggregate gains nothing and would pay an
  * exchange it never needed.
  */
object Par {
  /** `df` hash-partitioned on `key` across the session's default
    * parallelism, or `df` unchanged when it is already at least that
    * parallel (the at-scale case). Keyed repartition keeps the
    * assignment deterministic under task retry (no round-robin /
    * rand()-derived keys — SPARK-38388). */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  /** (min, max, rows) of the LONG column `idCol` of `df`, or None when
    * `df` is empty, from ONE job: a per-partition fold with no exchange,
    * collected to the driver. Over a persisted or lazily checkpointed
    * `df` the same pass also materializes it, so a caller gets the
    * materialization and its census together, where an eager
    * checkpoint or an agg(min, max).collect() ran extra jobs. */
  def idRange(df: DataFrame, idCol: String): Option[(Long, Long, Long)] =
    df.select(org.apache.spark.sql.functions.col(idCol)).rdd
      .mapPartitions { rows =>
        var (lo, hi, n) = (Long.MaxValue, Long.MinValue, 0L)
        rows.foreach { r =>
          val d = r.getLong(0); lo = math.min(lo, d); hi = math.max(hi, d); n += 1
        }
        Iterator((lo, hi, n))
      }
      .collect().filter(_._3 > 0)
      .reduceOption((a, b) =>
        (math.min(a._1, b._1), math.max(a._2, b._2), a._3 + b._3))

  /** Run independent Spark actions CONCURRENTLY from driver threads
    * (guide §2.6: actions are only sequential because driver code calls
    * them sequentially — overlapping lets the next job's tasks back-fill
    * executors freed by the current job's straggler tail). Each task
    * runs under the caller's [[graft.Scope]], so what a task holds is
    * freed when the caller closes its scope, and no task frees another
    * task's blocks. Exceptions propagate to the caller; the pool is
    * per-call and bounded by the task count (2-3 concurrent jobs —
    * enough to fill a tail, not enough to fight for executors). */
  def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    if (tasks.sizeIs <= 1) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      val owner = graft.Scope.owner
      try {
        val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = graft.Scope.within(owner)(t())
        }))
        fs.map { f =>
          try f.get()
          catch { // unwrap so callers see the real failure
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }
  }
}
