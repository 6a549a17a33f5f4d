package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CDC: continuously apply a change stream to a persisted
  * parquet snapshot with BUCKET-SCOPED copy-on-write — the streaming face
  * of [[graft.operators.Relational.cdcMergeApply]].
  *
  * The snapshot is laid out partitioned by `bucket = pmod(hash(key), B)`.
  * Each micro-batch:
  *
  *  1. computes the set of buckets its change keys hash into (≤ B values,
  *     a bounded driver-side collect);
  *  2. reads ONLY those partitions back (the `isin` filter partition-
  *     prunes the scan — untouched buckets are never listed, read, or
  *     written);
  *  3. runs the shared latest-change-wins merge
  *     ([[graft.operators.Relational.mergeSnapshotRows]]) over that
  *     slice;
  *  4. overwrites ONLY the touched partitions (dynamic partition
  *     overwrite), deleting any bucket the merge emptied.
  *
  * This is the layout/cost model a real 100 TB CDC pipeline uses (Hudi/
  * Delta copy-on-write with file-group indexing, here expressed with
  * nothing but parquet + partition pruning): per-batch work is
  * proportional to the buckets the batch touches, never to snapshot
  * size; B controls write amplification (a batch touching k keys
  * rewrites ≤ k buckets of ~1/B of the data each). Re-applying a batch
  * after a foreachBatch retry is idempotent — the merge is a pure
  * function of (bucket contents, batch), and latest-wins squashing makes
  * duplicate change records harmless.
  *
  * Reference anchor: the reference ships its JDBC-sourced changes into
  * compacted topics and sinks them to S3 (`README.md` connector
  * sections); it has NO merge-to-snapshot operator — this is the
  * extension a training-data pipeline needs to maintain a queryable
  * current-state table from that change feed.
  */
object CdcSnapshot {

  def bucketCol(key: Column, buckets: Int): Column =
    pmod(hash(key), lit(buckets))

  /** Write the initial snapshot (key, status, price) bucket-partitioned. */
  def init(snapshot: DataFrame, dir: String, buckets: Int): Unit =
    snapshot.withColumn("bucket", bucketCol(col("key"), buckets))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  /** Current snapshot contents (key, status, price). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).select(col("key"), col("status"), col("price"))

  /** Apply ONE changeset (key, seq, payload) to the persisted snapshot.
    * Exposed for direct batch use; the streaming sink calls this per
    * micro-batch.
    */
  def applyBatch(spark: SparkSession, dir: String, batch: DataFrame,
                 buckets: Int): Unit = {
    val withB = batch.withColumn("bucket", bucketCol(col("key"), buckets))
      .persist()
    try {
      val touched = withB.select(col("bucket")).distinct()
        .collect().map(_.getInt(0))
      if (touched.isEmpty) return
      val touchedVals = touched.map(Int.box)
      val cur = spark.read.parquet(dir)
        .filter(col("bucket").isin(touchedVals: _*))
        .select(col("key"), col("status"), col("price"))
      val merged = graft.operators.Relational
        .mergeSnapshotRows(cur, withB.drop("bucket"))
        .withColumn("bucket", bucketCol(col("key"), buckets))
        .persist()
      try {
        // dynamic partition overwrite only replaces partitions that have
        // rows in `merged`; a bucket the batch emptied (every key
        // deleted) must be dropped explicitly or stale rows survive
        val present = merged.select(col("bucket")).distinct()
          .collect().map(_.getInt(0)).toSet
        val emptied = touched.filterNot(present)
        if (emptied.nonEmpty) {
          val conf = spark.sessionState.newHadoopConf()
          emptied.foreach { bk =>
            val p = new org.apache.hadoop.fs.Path(s"$dir/bucket=$bk")
            p.getFileSystem(conf).delete(p, true)
          }
        }
        overwriteBuckets(merged, dir)
      } finally { merged.unpersist(); () }
    } finally { withB.unpersist(); () }
  }

  /** The PURE latest-wins upsert merge shared by [[applyUpsert]] and the
    * oracle-checked batch query (`cdc_upsert_latest`): rows carry `key`,
    * `seq`, and arbitrary payload columns; per key the highest-seq row
    * wins across both inputs (`snapshot` rows carry their applied seq, so
    * a late lower-seq change loses). One union + one keyed aggregate —
    * group-bounded on the wire, map-side combine, no join.
    */
  def upsertResult(snapshot: DataFrame, changes: DataFrame): DataFrame = {
    val cols = snapshot.columns.toSeq
    require(cols.contains("key") && cols.contains("seq"),
      s"upsert inputs need key+seq columns, got $cols")
    latestPerKey(snapshot.unionByName(changes.select(cols.map(col): _*)))
  }

  /** The highest-seq row per key (payload columns ride along). */
  private def latestPerKey(rows: DataFrame): DataFrame = {
    val payload = rows.columns.toSeq.filterNot(c => c == "key" || c == "seq")
    rows.groupBy(col("key"))
      .agg(max_by(struct(("seq" +: payload).map(col): _*), col("seq")).as("r"))
      .select(col("key") +: ("seq" +: payload).map(f => col(s"r.$f")): _*)
  }

  /** Overwrite ONLY the buckets that have rows in `rows`. Dynamic
    * partition overwrite is asked for on this write alone: flipping the
    * session-wide `spark.sql.sources.partitionOverwriteMode` would race
    * with any other writer in the session, and a static-mode
    * `partitionBy("bucket")` overwrite deletes every untouched bucket.
    */
  private def overwriteBuckets(rows: DataFrame, dir: String): Unit =
    rows.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(dir)

  /** Latest-wins whole-row UPSERT — the schema-agnostic sibling of
    * [[applyBatch]] for sinks whose change records carry the full new row
    * (no op codes, no deletes): `batch` has `key`, `seq`, and arbitrary
    * payload columns; the snapshot at `dir` persists the same columns
    * (plus the bucket) so late-arriving lower-seq rows lose against what
    * is already applied. Same bucket-scoped copy-on-write cost model:
    * only buckets the batch's keys hash into are read or rewritten. The
    * merge is union + per-key max_by(seq) — one exchange over the touched
    * slice; replaying a batch re-derives identical rows (seq ties are
    * between identical rows), so foreachBatch retries are idempotent.
    * A first call against a missing dir initializes the snapshot.
    */
  def applyUpsert(spark: SparkSession, dir: String, batch: DataFrame,
                  buckets: Int): Unit = {
    val cols = batch.columns.toSeq
    require(cols.contains("key") && cols.contains("seq"),
      s"applyUpsert batch needs key+seq columns, got $cols")
    // an empty changeset is a no-op — crucially it must NOT initialize a
    // DATALESS snapshot (a zero-row partitionBy write leaves only
    // _SUCCESS, and the next batch's read of it cannot infer a schema)
    if (batch.isEmpty) return
    val latest = latestPerKey(batch)
      .withColumn("bucket", bucketCol(col("key"), buckets))
      .persist()
    try {
      if (!hasContent(spark, dir)) {
        latest.write.mode("overwrite").partitionBy("bucket").parquet(dir)
        return
      }
      val touched = latest.select(col("bucket")).distinct()
        .collect().map(_.getInt(0))
      if (touched.isEmpty) return
      val cur = spark.read.parquet(dir)
        .filter(col("bucket").isin(touched.map(Int.box): _*))
        .drop("bucket")
      overwriteBuckets(upsertResult(cur, latest.drop("bucket"))
        .withColumn("bucket", bucketCol(col("key"), buckets)), dir)
    } finally { latest.unpersist(); () }
  }

  /** Current contents of an [[applyUpsert]] snapshot (payload schema). */
  def readUpsert(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("bucket")

  /** A snapshot exists once its directory holds committed DATA — a bare
    * pre-created empty dir (Files.createTempDirectory) is not one, and
    * neither is a dataless commit (only `_SUCCESS`/hidden metadata).
    */
  private[streaming] def hasContent(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Compact buckets that accumulated more than `maxFiles` parquet files
    * — copy-on-write's operational tax: every applyBatch rewrite of a
    * bucket leaves one file per shuffle partition, and a bucket touched
    * by many batches fragments until scans pay per-file open cost.
    * Rewrites ONLY the fragmented buckets (same dynamic-partition-
    * overwrite discipline as the merge), each coalesced to one file and
    * sorted by key so subsequent merges and point lookups read
    * min/max-pruned, locally-ordered row groups. Untouched buckets are
    * not listed, read, or written.
    */
  def compact(spark: SparkSession, dir: String, maxFiles: Int = 4): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val fragmented =
      (if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
        .filter(st => fs.listStatus(st.getPath)
          .count(_.getPath.getName.endsWith(".parquet")) > maxFiles)
        .map(_.getPath.getName.stripPrefix("bucket=").toInt)
    if (fragmented.nonEmpty) {
      val vals = fragmented.map(Int.box)
      val slice = spark.read.parquet(dir)
        .filter(col("bucket").isin(vals: _*))
        .repartition(fragmented.size, col("bucket"))
        .sortWithinPartitions(col("bucket"), col("key"))
      overwriteBuckets(slice, dir)
    }
    fragmented
  }

  /** Continuous merge: a change-record stream (key, seq, payload) kept
    * applied to the snapshot at `dir`, one bucket-scoped copy-on-write
    * per micro-batch.
    */
  def startCdcMergeSink(changes: DataFrame, dir: String, checkpoint: String,
                        buckets: Int = 16): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch.sparkSession, dir, batch, buckets)
      }
      .start()
}
