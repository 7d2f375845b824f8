package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Sinks, batch and streaming — the counterpart of the reference's
  * `writeAsCsv(..., WriteMode.OVERWRITE).setParallelism(1)` and print sinks.
  */
object Sinks {

  /** Single-file CSV, like the reference's parallelism-1 CSV sink. The
    * coalesce(1) is the *sink's* constraint, applied after the computation
    * — upstream stages keep full parallelism, only the final write funnels
    * to one file.
    */
  def writeCsvSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").csv(path)

  /** JSON-lines output — the interchange format most text-pipeline tooling
    * consumes; one JSONL file per partition at full parallelism.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Exactly one CSV *file* at `file` (not a directory) — byte-for-byte the
    * shape of the reference's `writeAsCsv(..., OVERWRITE).setParallelism(1)`
    * sink, so its downstream consumers need no change. Writes a temp
    * directory through the normal committer, then renames the single part
    * file into place via the Hadoop FS API (works on any supported
    * filesystem, not just local disk).
    */
  def writeCsvSingleFile(df: DataFrame, file: String): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(file)
    val fs = target.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(file + "_tmp_" + java.util.UUID.randomUUID())
    df.coalesce(1).write.mode("overwrite").csv(tmp.toString)
    val part = fs.listStatus(tmp)
      .map(_.getPath)
      .find(p => p.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    if (fs.exists(target)) fs.delete(target, true)
    Option(target.getParent).foreach(fs.mkdirs(_))
    fs.rename(part, target)
    fs.delete(tmp, true)
  }

  /** Append-mode streaming CSV sink with checkpointing — the unbounded twin
    * of the reference's CSV output.
    */
  def streamToCsv(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .format("csv")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Training-shard writer: the curated corpus as reproducible, size-bounded
    * parquet shards — one directory per partition value, at most
    * `maxRecordsPerFile` rows per shard file, rows sorted by `sortCols`
    * WITHIN each shard (sortWithinPartitions: a per-partition local sort, no
    * global shuffle). At 100 TB this is the handoff format to a training
    * loader: shard size bounds worker memory, the within-shard order makes
    * byte-identical re-runs possible, and the partition column (usually
    * source or date) is the unit of incremental backfill.
    */
  def writeShards(df: DataFrame, path: String, partitionCol: String,
                  sortCols: Seq[String], maxRecordsPerFile: Int): Unit =
    df.repartition(org.apache.spark.sql.functions.col(partitionCol))
      // partition column FIRST: the file writer requires task rows ordered
      // by the partition columns and inserts its own (non-stable) sort if
      // they aren't — which would scramble sortCols. Leading with it makes
      // the required ordering already satisfied, so our sort survives.
      .sortWithinPartitions(
        (partitionCol +: sortCols).map(org.apache.spark.sql.functions.col): _*)
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Z-ordered training-shard writer — the other half of the lakehouse
    * OPTIMIZE posture next to file-count compaction (`compactShards`):
    * within each Hive partition, rows are clustered by the Morton
    * interleave of two dimension columns (`graft.functions.ZOrder`)
    * instead of a linear sort, so consecutive `maxRecordsPerFile` slices
    * — and therefore the written FILES — cover compact ranges in BOTH
    * dimensions at once. Per-file parquet min/max stats then prune on
    * either dimension: a reader filtering on the SECOND clustered column
    * skips most files, where a linear sort's trailing column spans the
    * full value range in every file and prunes nothing (SinksSpec proves
    * both the footer-stat geometry and the live row-group skipping).
    * Same write discipline as `writeShards` — one repartition on the
    * partition column, a partition-local sort led by the partition column
    * so the writer's required ordering is satisfied and the cluster sort
    * survives, size-bounded files. The dimension columns must be
    * non-negative ints on a bounded grid (a rank, a bin, a day number —
    * quantize unbounded columns first, exactly as OPTIMIZE ZORDER range-
    * ranks before interleaving; only the low 16 bits participate).
    * `tieCols` break Morton-key ties (two rows sharing both bin values):
    * pass a unique key (doc_id) to make the cluster sort TOTAL, which is
    * what turns "clustered files" into "byte-reproducible files" — the
    * loader contract the E2E gates pin. Empty preserves clustering only.
    */
  def writeShardsZOrdered(df: DataFrame, path: String, partitionCol: String,
                          zorderCols: (String, String),
                          maxRecordsPerFile: Int,
                          tieCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__zkey",
        graft.functions.ZOrder.mortonKey(col(zorderCols._1), col(zorderCols._2)))
      .repartition(col(partitionCol))
      .sortWithinPartitions(
        (Seq(partitionCol, "__zkey") ++ tieCols).map(col): _*)
      .drop("__zkey")
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** OPTIMIZE-style shard compaction — the maintenance pass a shard table
    * needs after incremental appends: streaming/backfill batches land as
    * their own small part files, and a training loader reading thousands
    * of under-sized shards pays per-file open/seek cost that compounds at
    * 100 TB. This rewrites ONLY the partitions violating the shard
    * contract — MORE files than their row count needs (`n_files >
    * ceil(n_rows / maxRecordsPerFile)`, small-file debt) or any single
    * file OVER the size bound (a writer that skipped
    * maxRecordsPerFile) — re-binning rows through the same
    * `writeShards` discipline — repartition on the partition column,
    * within-shard sort re-established (leading with the partition column
    * so the writer's required ordering is already satisfied and the sort
    * survives, see writeShards), size re-bounded. Untouched partitions'
    * files are not rewritten at all (dynamic partition overwrite), so
    * their bytes — and any downstream cache keyed on them — survive.
    *
    * The affected rows are localCheckpoint'ed before the overwrite: the
    * rewrite reads the same path it writes, and the checkpoint both
    * satisfies Spark's self-overwrite guard and pins the data while the
    * partition directories are swapped. The partition-value list crosses
    * the driver — partition values (source, date) are low-cardinality by
    * construction, never data-sized. Without a transactional table format
    * the swap is per-partition, not atomic across partitions — the
    * Delta/Iceberg OPTIMIZE this models wraps exactly this rewrite in a
    * commit. Returns the number of partitions compacted. Rows with a
    * NULL partition value (Hive's default partition) are never selected
    * for rewrite — the shard writer upstream requires a non-null
    * partition column, so such a partition existing at all is a data bug
    * to surface, not to silently reshuffle.
    */
  def compactShards(spark: org.apache.spark.sql.SparkSession, path: String,
                    partitionCol: String, sortCols: Seq[String],
                    maxRecordsPerFile: Int): Int = {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(path)
    val stats = df
      .groupBy(col(partitionCol).as("pv"), input_file_name().as("f"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("pv"))
      .agg(count(lit(1)).as("n_files"), sum(col("n")).as("n_rows"),
        max(col("n")).as("max_file_rows"))
      // two ways a partition violates the shard contract: MORE files
      // than its row count needs (small-file debt), or any single file
      // OVER the size bound (a writer that skipped maxRecordsPerFile) —
      // both get the same rewrite
      .filter(col("n_files") >
        ceil(col("n_rows").cast("double") / maxRecordsPerFile) ||
        col("max_file_rows") > maxRecordsPerFile)
      .select("pv").collect().map(_.get(0))
    // a NULL partition value (Hive default partition) is a data bug the
    // shard writer can't produce — SURFACE it loudly, never rewrite it
    // (isin(null) would silently match nothing while still counting the
    // partition as compacted)
    if (stats.contains(null)) System.err.println(
      s"[compact-shards] WARNING: $path contains a NULL $partitionCol " +
        "partition over the file-count/size bound — left untouched; " +
        "shard writers never produce one, so its existence is a data " +
        "bug upstream")
    val need = stats.filter(_ != null)
    if (need.isEmpty) 0
    else {
      val pinned = df.filter(col(partitionCol).isin(need: _*)).localCheckpoint()
      // dynamic overwrite scoped to THIS writer (not a session-wide conf
      // toggle): a concurrent write on the same session during the
      // compaction window keeps its own overwrite semantics
      pinned
        .repartition(col(partitionCol))
        .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
        .partitionBy(partitionCol)
        .parquet(path)
      need.length
    }
  }

  /** The idempotent per-batch write `foreachBatchIdempotent` replays: the
    * batch lands in its own `batch_id=<n>` directory under dynamic
    * partition overwrite, so re-delivering a batch (a restart replays the
    * last uncommitted one) overwrites that partition in place instead of
    * appending duplicates. Exposed separately so the replay path is
    * directly testable.
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long,
                           path: String): Unit =
    // dynamic overwrite scoped to this one writer (same rationale as
    // compactShards): no session-wide conf save/restore dance
    batch
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)

  /** foreachBatch parquet sink with exactly-once *output* on top of the
    * engine's at-least-once batch delivery — the idempotent-writer
    * discipline a transactional table format (Delta/Iceberg MERGE) wraps in
    * a commit log. Each micro-batch overwrites only its own partition, so
    * the sink is deterministic under replay; readers see `batch_id` as an
    * ordinary partition column and prune on it.
    */
  def streamIdempotentParquet(df: DataFrame, path: String,
                              checkpoint: String): StreamingQuery =
    df.writeStream
      .foreachBatch((batch: DataFrame, id: Long) =>
        writeBatchIdempotent(batch, id, path))
      .option("checkpointLocation", checkpoint)
      .start()
}
