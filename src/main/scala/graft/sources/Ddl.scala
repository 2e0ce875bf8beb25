package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Table DDL + physical layout (S6): the Spark analogue of the
  * reference's sink table `CREATE TABLE ... ENGINE = MergeTree PRIMARY KEY
  * (partition, offset, timestamp)` (/root/reference/README.md:73-82).
  *
  * MergeTree's primary key is a clustered sort order, not a constraint;
  * the parquet equivalent is hash-distributing on the leading key and
  * sorting within files, which gives the same two scale properties:
  * range-predicate row-group skipping (parquet min/max stats on the sort
  * columns) and cheap merge-style reads per partition.
  */
object Ddl {

  /** Write `df` as a sorted parquet table and register it in the catalog.
    * `sortCols.head` doubles as the distribution key. */
  def createSortedTable(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      path: String,
      sortCols: Seq[String],
      numFiles: Int = 4): Unit = {
    df.repartition(numFiles, col(sortCols.head))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"CREATE TABLE $table USING parquet LOCATION '$path'")
  }

  /** Compact a parquet directory's small files into ~`targetBytes`
    * outputs (the maintenance pass every long-lived ingest needs:
    * micro-batch sinks and parallel writers accrete files far below the
    * row-group sweet spot, and at 100 TB the scan's task count — and the
    * namenode/liststatus pressure — is the FILE count, not the byte
    * count).
    *
    * Contract: the table must be QUIESCED — writers AND readers. Raw
    * parquet has no commit protocol, so a file written concurrently with
    * the rewrite would be swapped away with the old directory, and a
    * reader that listed the directory before the swap fails mid-scan (or
    * sees a nonexistent directory in the instant between the two renames).
    * Table formats with a transaction log are the tool for
    * compact-under-traffic. Also not for
    * [[graft.streaming.StreamingPipeline.dualWrite]] sink dirs,
    * whose `batch=<id>/_SUCCESS` markers carry replay-idempotency state
    * a rewrite would erase.
    *
    * Crash safety: data is NEVER deleted before the swap completes. The
    * swap is two renames; a crash between them leaves the full data in
    * `<path>._compact_old`, and [[recover]] (invoked automatically by the
    * next compact() and callable from any table-open path) restores it —
    * no state loses rows. */
  def compact(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit =
    rewrite(spark, path, targetBytes) { df =>
      // compaction is when logical deletes become physical: pending
      // tombstones are applied during the rewrite and cleared by the
      // same atomic swap (the _tombstones dir lives inside the table
      // dir, so it rides to ._compact_old and is deleted with it —
      // a crash anywhere before the swap leaves BOTH the data and the
      // tombstones in place; [[recover]] restores both or neither)
      tombstonesOf(spark, path) match {
        case Some(ts) =>
          val c = ts.columns.head
          require(df.columns.contains(c),
            s"compact: tombstone column '$c' not in table $path " +
              s"(${df.columns.mkString(", ")})")
          df.join(org.apache.spark.sql.functions
            .broadcast(ts.distinct()), Seq(c), "left_anti")
        case None => df
      }
    }

  /** Logical delete: append a takedown id set under
    * `<path>/_tombstones/` (an underscore dir — invisible to Spark's
    * data discovery, so plain readers of the table never see it).
    * `ids` must be a single column named as in the table. Readers that
    * honor retraction anti-join [[tombstonesOf]]; the next [[compact]]
    * applies the set physically and clears it atomically with the data
    * swap. Appends of removal FACTS are idempotent under retry —
    * duplicate tombstone rows change nothing (anti-join semantics). */
  def tombstone(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"tombstone: want one id column, got ${ids.columns.mkString(", ")}")
    ids.write.mode("append").parquet(
      new org.apache.hadoop.fs.Path(path, "_tombstones").toString)
  }

  /** The pending tombstone set of a table dir, if any. */
  def tombstonesOf(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path, "_tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")))
      Some(spark.read.parquet(p.toString))
    else None
  }

  /** The swap-rewrite [[compact]] rides, generalized: read the table,
    * apply `transform`, write ~`targetBytes` files, and swap the result
    * in with the two-rename crash discipline (data parked at
    * `._compact_old` until the swap completes; [[recover]] restores a
    * crashed swap). Quiesce contract and cache invalidation are
    * [[compact]]'s. Used directly by retraction paths that must purge
    * rows referencing removed ids (e.g. a hits table where the removed
    * id can sit in EITHER endpoint column — not expressible as a
    * single-column tombstone). */
  def rewrite(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024)(
      transform: DataFrame => DataFrame): Unit = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // siblings of the (normalized) table dir, trailing-slash-proof
    val norm = fs.makeQualified(hadoopPath)
    val tmp = new org.apache.hadoop.fs.Path(norm.getParent,
      norm.getName + "._compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(norm.getParent,
      norm.getName + "._compact_old")
    recover(spark, path)
    // total on data-less dirs: a table holding only `_tombstones` (or
    // nothing) has no rows to rewrite and no schema to infer — the
    // pending tombstones are vacuously applied, so clear them and
    // return instead of throwing UNABLE_TO_INFER_SCHEMA
    def hasData(d: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(d) && fs.listStatus(d).exists { st =>
        (st.isFile && st.getPath.getName.endsWith(".parquet")) ||
        (st.isDirectory && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") && hasData(st.getPath))
      }
    if (!hasData(norm)) {
      fs.delete(new org.apache.hadoop.fs.Path(norm, "_tombstones"), true)
      return
    }
    val bytes = fs.getContentSummary(norm).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    fs.delete(tmp, true)
    val in = spark.read.parquet(norm.toString)
    val out = transform(in)
    // PRESERVE the table's column order: retained columns keep the
    // input's order as a PREFIX, columns the transform added append
    // after it in the transform's own order. Using-column joins (the
    // tombstone anti-join shape) hoist the join column to the front;
    // writing that order mixes per-file physical schemas with later
    // appends, and readers that bind positionally (`as[(Long, Long)]`)
    // then depend on WHICH file's footer Spark picks for the merged
    // schema — a listing-order flake. The prefix rule covers
    // schema-CHANGING transforms too (rename/add migrations): the
    // same-set-only restore this replaces passed those through
    // untouched, so a migration that also reordered retained columns
    // re-introduced the flake on the next append.
    val retained = in.columns.filter(out.columns.contains)
    val added = out.columns.filterNot(in.columns.contains)
    val order = retained ++ added
    val stable =
      if (!out.columns.sameElements(order))
        out.select(order.map(org.apache.spark.sql.functions.col)
          .toIndexedSeq: _*)
      else out
    stable.coalesce(files)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(bak, true)
    if (!fs.rename(norm, bak))
      throw new java.io.IOException(s"compact: cannot move $norm aside")
    if (!fs.rename(tmp, norm)) {
      if (!fs.rename(bak, norm))
        throw new java.io.IOException(
          s"compact: swap AND rollback failed; data intact at $bak")
      throw new java.io.IOException(s"compact: cannot swap in $tmp")
    }
    fs.delete(bak, true)
    // drop cached plans AND the catalog's cached table relations (file
    // listings) — refreshByPath alone leaves the relation cache stale.
    // The relation-cache drop is session-GLOBAL (the cache offers no
    // by-path invalidation): acceptable for a rare maintenance op, but
    // unrelated tables will re-list on next access — scope compactions
    // accordingly in sessions holding many large cached tables.
    spark.catalog.refreshByPath(norm.toString)
    org.apache.spark.sql.GraftShims.invalidateCachedTables(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    ()
  }

  /** Restore a table directory left invisible by a crash between
    * [[compact]]'s two swap renames (data parked at
    * `<path>._compact_old`). Idempotent and cheap when there is nothing
    * to recover; call it from table-open paths so a crashed swap does not
    * stay invisible until someone happens to re-run compaction. */
  def recover(spark: SparkSession, path: String): Unit = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val norm = fs.makeQualified(hadoopPath)
    val bak = new org.apache.hadoop.fs.Path(norm.getParent,
      norm.getName + "._compact_old")
    if (!fs.exists(norm) && fs.exists(bak)) {
      if (!fs.rename(bak, norm))
        throw new java.io.IOException(s"recover: cannot restore $bak")
      spark.catalog.refreshByPath(norm.toString)
    }
    // MEMBER-level healing for partitioned tables whose partition dirs
    // are rewritten individually ([[compactPartitions]], or per-member
    // compact calls): a crashed member swap leaves
    // `<part>._compact_old` (data parked — restore if the member is
    // missing, else it is a completed swap's leftover) and possibly
    // `<part>._compact_tmp` (always disposable — and if left in place
    // its `name=value._compact_tmp` dir would poison partition
    // inference on the next read). One listing; no-op on flat tables.
    if (fs.exists(norm) && fs.getFileStatus(norm).isDirectory) {
      fs.listStatus(norm).foreach { st =>
        val nm = st.getPath.getName
        if (nm.endsWith("._compact_tmp")) { fs.delete(st.getPath, true); () }
        else if (nm.endsWith("._compact_old")) {
          val main = new org.apache.hadoop.fs.Path(norm,
            nm.stripSuffix("._compact_old"))
          if (!fs.exists(main)) {
            if (!fs.rename(st.getPath, main))
              throw new java.io.IOException(
                s"recover: cannot restore ${st.getPath}")
          } else { fs.delete(st.getPath, true); () }
        }
      }
      ()
    }
  }

  /** [[compact]] for a hive-partitioned table dir, PRESERVING its
    * layout: each `name=value` member dir is swap-rewritten in place
    * (small files folded, pending ROOT tombstones applied), and the
    * tombstone set is cleared only after every member has been
    * rewritten. Root-level [[compact]] on a partitioned dir flattens
    * the partitioning (documented degradation); this keeps the pruned
    * standing reads working across maintenance.
    *
    * Crash discipline: each member swap is [[rewrite]]'s two-rename
    * dance; [[recover]] heals a crashed member (restores the parked
    * dir, deletes stale tmp dirs). A crash anywhere before the final
    * tombstone clear leaves the pending set in place — re-running is
    * idempotent (already-purged members anti-join to no-ops).
    *
    * Returns the post-rewrite BUCKET CENSUS — (member dir, rows), a
    * parquet-footer count per member (no data scan) — the self-report
    * a sharded deployment reads to decide when to RE-BUCKET: the
    * bucket count B is caller-chosen, and a census whose max/mean row
    * skew drifts far from 1 (hot cells hashed together, or K grown
    * past B × target rows) says the modulus no longer spreads. */
  def compactPartitions(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, path)
    val ts = tombstonesOf(spark, path).map(t =>
      (t.columns.head, t.distinct().localCheckpoint(true)))
    val members = fs.listStatus(root).filter(st =>
      st.isDirectory && st.getPath.getName.contains("=") &&
        !st.getPath.getName.startsWith("_"))
    val census = members.toSeq.map { m =>
      rewrite(spark, m.getPath.toString, targetBytes) { df =>
        ts match {
          case Some((c, t)) if df.columns.contains(c) =>
            df.join(org.apache.spark.sql.functions.broadcast(t),
              Seq(c), "left_anti")
          case _ => df
        }
      }
      (m.getPath.getName,
        spark.read.parquet(m.getPath.toString).count())
    }
    fs.delete(new org.apache.hadoop.fs.Path(root, "_tombstones"), true)
    ts.foreach(t => graft.Scope.free(t._2))
    spark.catalog.refreshByPath(path)
    census
  }

  /** Write `df` Z-ORDERED on two long columns: rows are range-partitioned
    * and sorted by the Morton interleave of the two keys, so every file's
    * bounding box in (colA, colB) space is small — parquet min/max stats
    * then prune files for range predicates on EITHER column, where a
    * linear sort only serves its leading column (the multi-dimensional
    * clustering trade behind Z-ordered table layouts). Domains are taken
    * from one min/max scan (at deployment scale, from footer stats). */
  def createZOrderedTable(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      numFiles: Int = 8,
      bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    val r = df.agg(
      min(col(colA)), max(col(colA)), min(col(colB)), max(col(colB))).head()
    if (r.isNullAt(0) || r.isNullAt(2)) {
      // empty input (or all-null keys): nothing to cluster — write as-is
      df.write.mode("overwrite").parquet(path)
      return
    }
    def scaled(c: String, lo: Long, hi: Long) = {
      // ALL arithmetic in double: `hi - lo` (and `v - lo`) in long
      // overflows when the key domain spans more than Long.MaxValue
      // (lo near Long.MinValue), silently destroying the clustering.
      // Monotonicity — all a z-curve needs — survives the double
      // rounding; exact bit placement does not matter.
      val span = math.max(1.0, hi.toDouble - lo.toDouble)
      floor((col(c).cast("double") - lit(lo.toDouble)) / lit(span) *
        lit(((1L << bits) - 1).toDouble)).cast("long")
    }
    val sa = scaled(colA, r.getLong(0), r.getLong(1))
    val sb = scaled(colB, r.getLong(2), r.getLong(3))
    val z = (0 until bits).map { i =>
      shiftleft(shiftright(sa, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(sb, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` HIVE-PARTITIONED on a low-cardinality column: one
    * directory per value (`path/col=value/`), the layout for the
    * coarsest and cheapest pruning there is — a predicate on the
    * partition column eliminates whole directories at PLANNING time
    * (PartitionFilters in the scan node), so a 100 TB corpus filtered to
    * one language/day/source never lists, opens, or reads the other
    * partitions' files. Complements [[createSortedTable]] (row-group
    * skipping WITHIN files) and [[createZOrderedTable]] (two-column
    * range clustering): partition on the always-filtered low-cardinality
    * key, sort/cluster within partitions on the range keys.
    *
    * The repartition puts each output partition's rows in as few tasks
    * as possible, so the write produces ~1 file per (task, value) pair
    * instead of numTasks × numValues small files — the
    * partitioned-write file explosion [[compact]] otherwise mops up. */
  def createPartitionedTable(
      df: DataFrame,
      path: String,
      partCol: String): Unit = {
    df.repartition(col(partCol))
      .write.mode("overwrite")
      .partitionBy(partCol)
      .parquet(path)
  }

  /** Write `df` as a BUCKETED catalog table: rows are hash-distributed
    * into `buckets` files by `bucketCol` and sorted within each bucket.
    * Two tables bucketed the same way join WITHOUT any shuffle — Spark
    * proves both sides already share the required hash distribution, so
    * the sort-merge join reads co-located buckets directly. At 100 TB
    * this is the difference between re-shuffling the fact table on every
    * join and paying the distribution cost ONCE at write time (the same
    * trade the reference's MergeTree primary key makes for reads);
    * pinned by AggregatorDdlSpec's exchange-free-join plan assertion. */
  def createBucketedTable(
      df: DataFrame,
      table: String,
      bucketCol: String,
      buckets: Int = 8): Unit = {
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Key for the band-key-scheme version table property — see
    * [[graft.functions.VecOps.BandKeySchemeVersion]]. */
  private val BandSchemeProp = "graft.band_key_scheme"

  /** Stamp a stored LSH band index table with the band-key scheme
    * version it was built under. Band keys are internal hash values, so
    * a scheme change (new hash family, new seeds) silently invalidates
    * every persisted `bkey`: a probe against an old-scheme index finds
    * ZERO matches with no error. The stamp turns that silent miss into
    * the loud [[assertBandScheme]] failure. */
  def stampBandScheme(spark: SparkSession, table: String): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('" + BandSchemeProp +
      s"' = '${graft.functions.VecOps.BandKeySchemeVersion}')")

  /** Fail fast if `table` was stamped under a DIFFERENT band-key scheme
    * version than this build computes (probing it would silently return
    * zero matches). Unstamped tables pass — they may be foreign or
    * pre-versioning; the stamp is opt-in evidence, not a gate on every
    * bucketed table. */
  def assertBandScheme(spark: SparkSession, table: String): Unit = {
    val cur = graft.functions.VecOps.BandKeySchemeVersion.toString
    val stamped = spark.sql(s"SHOW TBLPROPERTIES $table")
      .collect().collectFirst {
        case r if r.getString(0) == BandSchemeProp => r.getString(1)
      }
    stamped.filter(_ != cur).foreach { v =>
      throw new IllegalStateException(
        s"band index '$table' was built under band-key scheme $v but " +
        s"this build computes scheme $cur — probes would silently " +
        "match zero rows. Rebuild the index (NearDup.bandIndex + " +
        "createBucketedTable + stampBandScheme) under the current " +
        "scheme.")
    }
  }

  /** DELIVERY writer: the curated corpus as `shards` training shards
    * plus a verifiable MANIFEST — the handoff artifact a training run
    * consumes. Shard assignment is the library's deterministic md5 rule
    * (`xxhash64` of the doc key mod shards would also do, but md5 keeps
    * the identity shared with [[graft.operators.Corpus.shardAssign]]'s
    * oracle-gated definition), the write is one `partitionBy(shard)`
    * pass, and the manifest records per shard: row count and an
    * ORDER-FREE content checksum (xor of per-row xxhash64 over every
    * emitted column) — so the consumer can verify each shard
    * independently, in any order, without re-reading the others.
    *
    * Returns the manifest read back FROM THE WRITTEN FILES (not from
    * the in-memory frame): what's verified is what landed on disk.
    *
    * Scale shape: one hash exchange on `shard` (the write's
    * partitioning), manifest aggregation map-side-combines per shard;
    * the manifest itself is `shards` rows. */
  def writeShards(
      df: DataFrame, // must carry doc_id; all columns are delivered
      path: String,
      shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    require(shards >= 1 && shards <= 256,
      "shard rule hashes one md5 byte (shardAssign identity); shards <= 256")
    val spark = df.sparkSession
    // IDENTICAL rule to Corpus.shardAssign (first md5 byte mod shards),
    // so the oracle-gated q_shard_assign tells a consumer which
    // delivered file holds a document
    val keyed = df.withColumn("shard",
      conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long") % shards.toLong)
    keyed.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(path)
    // explicit schema: an EMPTY split writes only _SUCCESS, and
    // schema-less parquet read would throw rather than return 0 rows
    // (releaseCorpus delivers per split — small corpora can leave the
    // val/test split empty)
    val written = spark.read.schema(keyed.schema).parquet(path)
    val dataCols = written.columns.filter(_ != "shard").sorted
    written
      .withColumn("row_hash",
        xxhash64(dataCols.map(c => col(c).cast("string")).toIndexedSeq: _*))
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_rows"),
        bit_xor(col("row_hash")).as("content_hash"))
      .orderBy(col("shard"))
  }
}
