package graft

import java.util.concurrent.{Callable, CyclicBarrier, ExecutorService, Executors, TimeUnit}

import org.apache.spark.sql.Row

import graft.operators.NearDup

/** Ownership of the intermediates operators hand back lazily: each
  * thread's [[Scope]] holds its own, and only its owner frees them. */
class ScopeSpec extends SparkSpecBase {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  /** Cached partitions of the persisted RDDs outside `baseline`. */
  private def cachedPartitionsBeyond(baseline: Set[Int]): Int =
    spark.sparkContext.getRDDStorageInfo.filterNot(i => baseline(i.id))
      .map(_.numCachedPartitions).sum

  /** `body` on a thread of `pool`; with `close`, that thread then frees
    * what it held. */
  private def onThread[A](pool: ExecutorService, close: Boolean = true)(
      body: => A): java.util.concurrent.Future[A] =
    pool.submit(new Callable[A] {
      def call(): A = try body finally if (close) Scope.close()
    })

  private def withPool[A](threads: Int)(f: ExecutorService => A): A = {
    val pool = Executors.newFixedThreadPool(threads)
    try f(pool) finally pool.shutdownNow()
  }

  private def rows(name: String): Seq[Row] =
    SparkEntry.queries(name)(spark, sfDir).collect().toSeq

  test("a lazy dedupClusters survives another thread's run of the same operator") {
    val solo = NearDup.dedupClusters(spark, sfDir).collect().toSeq
    Scope.close()
    val lazyA = NearDup.dedupClusters(spark, sfDir) // not materialized yet
    val b = withPool(1)(onThread(_)(
      NearDup.dedupClusters(spark, sfDir).collect().toSeq).get())
    assert(solo.nonEmpty)
    assert(b === solo)
    assert(lazyA.collect().toSeq === solo)
  }

  test("two lazy touchedLabels on one thread, materialized in reverse order, both match") {
    val pairs = NearDup.minhashNearDup(spark, sfDir).select("id_a", "id_b")
    val first = NearDup.touchedLabels(pairs)
    val second = NearDup.touchedLabels(pairs)
    val r2 = second.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r1 = first.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.nonEmpty)
    assert(r1 === r2)
  }

  test("q_minhash_neardup and q_dedup_clusters run concurrently with their sequential results") {
    val seqPairs = rows("q_minhash_neardup")
    val seqClusters = rows("q_dedup_clusters")
    Scope.close()
    // both threads build before either collects: the interleaving in
    // which one caller's operator run could free the other's blocks
    val built = new CyclicBarrier(2)
    def run(name: String): Seq[Row] = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      built.await(120, TimeUnit.SECONDS)
      df.collect().toSeq
    }
    val (pairs, clusters) = withPool(2) { pool =>
      val p = onThread(pool)(run("q_minhash_neardup"))
      val c = onThread(pool)(run("q_dedup_clusters"))
      (p.get(), c.get())
    }
    assert(seqPairs.nonEmpty)
    assert(pairs === seqPairs)
    assert(clusters === seqClusters)
  }

  test("Scope.close frees exactly this thread's blocks, back to the baseline") {
    import spark.implicits._
    // the baseline is compared by what is added to it: Spark may drop
    // an earlier test's unreachable RDDs from it at any GC
    val p0 = persisted
    withPool(1) { pool =>
      // another thread's lazy result, built and not yet materialized
      val other = onThread(pool, close = false)(
        NearDup.dedupClusters(spark, sfDir)).get()
      val otherPins = persisted -- p0
      assert(otherPins.nonEmpty)
      // this thread: checkpoint- and cache-backed operators, materialized
      NearDup.dedupSurvivor(spark, sfDir).count()
      operators.Similarity.semanticDedup(spark, sfDir).count()
      operators.TextOps.curateCorpus(spark, sfDir).count()
      operators.Corpus.takedownIndex(spark, sfDir).count()
      assert((persisted -- p0 -- otherPins).nonEmpty)
      Scope.close()
      assert(persisted -- p0 === otherPins)
      // the other thread's result is still readable; its owner frees it
      val got = onThread(pool)(
        other.where($"doc_id" =!= $"cluster_id").count()).get()
      assert(got > 0L)
    }
    assert((persisted -- p0).isEmpty)
    assert(cachedPartitionsBeyond(p0) === 0)
  }

  test("a registered query's blocks are freed when the same thread builds the next one") {
    Scope.close()
    val p0 = persisted
    val first = SparkEntry.queries("q_dedup_clusters")(spark, sfDir)
    first.write.format("noop").mode("overwrite").save()
    val pinned = persisted -- p0
    assert(pinned.nonEmpty)
    val next = SparkEntry.queries("q_semantic_dedup")(spark, sfDir)
    assert((persisted intersect pinned).isEmpty)
    next.write.format("noop").mode("overwrite").save()
  }
}
