package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.operators.IndexLayout

/** Sink layer (SURVEY.md §2.2).
  *
  *  - K1 partitioned parquet stage tables (replacing the reference's
  *    per-term timestamped files, `main.py:275-310,610-625`): one
  *    `write.partitionBy(...)` — downstream reads prune on the partition
  *    columns instead of re-listing and concatenating blobs.
  *  - K3/K4 JDBC upsert with DB-boundary coercion
  *    (`Processing/upload_papers_to_supabase.py:124-399`): batched
  *    `INSERT ... ON CONFLICT DO NOTHING` via foreachPartition (Spark's
  *    `df.write.jdbc` has no upsert mode), stats via accumulators.
  *  - K7 JSON report sink (`schema_validator.py:388-396`): tiny profile
  *    results to a single JSON file.
  */
object Sinks {

  /** Reference's safe-name slug (`main.py:611`): drop non-word chars,
    * whitespace → underscore, lowercase.
    */
  def safeName(s: String): String =
    s.replaceAll("[^\\w\\s-]", "").trim.replaceAll("\\s+", "_").toLowerCase

  /** K1: stage-table write, partitioned for downstream pruning. `runTs` is
    * caller-supplied (deterministic tests; one folder per pipeline run).
    */
  def writeStage(df: DataFrame, baseDir: String, stage: String,
                 runTs: String, partitionCols: Seq[String] = Nil): String = {
    val path = s"$baseDir/stage=${safeName(stage)}/run_ts=$runTs"
    val w = df.write.mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
    path
  }

  /** S10: the latest run's partition directory of a [[writeStage]]
    * layout, by max run_ts — the reference's `max(blobs,
    * key=time_created)` (`schema_validator.py:590-623`) re-expressed on
    * the partition layout: the listing is O(runs) driver-side names
    * (never a data scan) and ISO/lexicographic run_ts order IS creation
    * order. None when no run was ever written.
    */
  def latestRunDir(spark: org.apache.spark.sql.SparkSession,
                   stageDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(stageDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("run_ts="))
      .map(_.getPath.toString)
      .sortBy(d => d.substring(d.lastIndexOf("run_ts=") + 7))
      .lastOption
  }

  /** S10: read ONLY the latest run of a [[writeStage]] stage directory —
    * a partition-pruned single-run read (the scan never touches older
    * runs' files), with the selected run_ts attached as a column so
    * downstream audits can assert WHICH run they profiled.
    */
  def readLatestRun(spark: org.apache.spark.sql.SparkSession,
                    stageDir: String): DataFrame = {
    val dir = latestRunDir(spark, stageDir).getOrElse(
      throw new IllegalArgumentException(s"no run_ts=* runs under $stageDir"))
    spark.read.parquet(dir)
      .withColumn("run_ts",
        lit(dir.substring(dir.lastIndexOf("run_ts=") + 7)))
  }

  /** Partition backfill: overwrite ONLY the partitions present in `df`,
    * leaving sibling partitions untouched (dynamic partition overwrite).
    * This is the idempotent reprocessing primitive at scale — re-running
    * day X replaces day X exactly, never truncates the table, and a
    * crashed backfill re-run converges. Static overwrite (the default
    * mode) would drop EVERY partition under `dir` first.
    */
  def backfillPartitions(df: DataFrame, dir: String,
                         partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** K4: DB-boundary coercions as column expressions — control-char strip,
    * title truncation to 1000, array columns → JSON strings, column renames
    * (`upload_papers_to_supabase.py:145-221`).
    */
  def coerceForDb(df: DataFrame): DataFrame = {
    val cleaned = df.columns.foldLeft(df) { (acc, c) =>
      acc.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType =>
          acc.withColumn(c, regexp_replace(col(c), "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""))
        case _: org.apache.spark.sql.types.ArrayType =>
          acc.withColumn(c, to_json(col(c)))
        case _ => acc
      }
    }
    val truncated =
      if (cleaned.columns.contains("title"))
        cleaned.withColumn("title", substring(col("title"), 1, 1000))
      else cleaned
    truncated.columns.foldLeft(truncated) { (acc, c) =>
      c match {
        case "references_id" => acc.withColumnRenamed(c, "reference_ids")
        case "has_intro" => acc.withColumnRenamed(c, "has_introduction")
        case _ => acc
      }
    }
  }

  /** Upsert outcome counts. `inserted` is EXACT even under re-delivery
    * FOR DRIVERS THAT REPORT PER-ROW BATCH COUNTS (PostgreSQL's JDBC
    * driver does: a replayed partition's rows conflict and executeBatch
    * reports 0 for them). Drivers that return `SUCCESS_NO_INFO` for
    * batched statements (MySQL with rewriteBatchedStatements, Oracle)
    * cannot distinguish inserted from conflict-skipped — those rows are
    * counted in `unknown`, never inflated into `inserted`.
    * `attempted`/`skipped`/`failed` are at-least-once under Spark-level
    * task replays (the accumulators drop failed-ATTEMPT updates, but a
    * partition the framework delivers twice counts twice — by design:
    * attempted measures delivery traffic, the target table stays exact
    * through ON CONFLICT).
    */
  final case class UpsertStats(attempted: Long, inserted: Long,
                               skipped: Long, failed: Long,
                               unknown: Long = 0L)

  /** K3: batched idempotent upsert through a caller-supplied JDBC
    * connection factory (`() => Connection` must be serializable — e.g. a
    * driver-class + URL closure, or a test fake). One connection per
    * partition, `batchSize` rows per executeBatch, ON CONFLICT DO NOTHING
    * for re-run idempotence (reference T4): per JDBC, executeBatch
    * reports 1 per inserted row and 0 per conflict-skipped row, which is
    * what keeps `inserted` exact across re-deliveries. A batch that
    * throws SQLException is counted failed in full and the partition
    * continues — one poisoned batch must not discard its partition.
    */
  def jdbcUpsert(df: DataFrame, table: String, keyCols: Seq[String],
                 connect: () => java.sql.Connection,
                 batchSize: Int = 100): UpsertStats = {
    val spark = df.sparkSession
    val attempted: LongAccumulator = spark.sparkContext.longAccumulator("upsert_attempted")
    val inserted: LongAccumulator = spark.sparkContext.longAccumulator("upsert_inserted")
    val skipped: LongAccumulator = spark.sparkContext.longAccumulator("upsert_skipped")
    val failed: LongAccumulator = spark.sparkContext.longAccumulator("upsert_failed")
    val unknown: LongAccumulator = spark.sparkContext.longAccumulator("upsert_unknown")
    val cols = df.columns.toSeq
    val sql = s"INSERT INTO $table (${cols.mkString(", ")}) VALUES " +
      s"(${cols.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keyCols.mkString(", ")}) DO NOTHING"
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = connect()
        try {
          val stmt = conn.prepareStatement(sql)
          var inBatch = 0
          def flush(): Unit = if (inBatch > 0) {
            try {
              val res = stmt.executeBatch()
              // > 0: per-row count — exactly one insert. 0: conflict
              // skip. SUCCESS_NO_INFO: the driver executed the row but
              // won't say which way — its own bucket, so `inserted`
              // stays exact for drivers that do report
              inserted.add(res.count(_ > 0))
              skipped.add(res.count(_ == 0))
              unknown.add(res.count(_ == java.sql.Statement.SUCCESS_NO_INFO))
            } catch {
              case _: java.sql.SQLException => failed.add(inBatch)
            }
            inBatch = 0
          }
          rows.foreach { row =>
            cols.indices.foreach(i => stmt.setObject(i + 1, row.get(i)))
            stmt.addBatch()
            attempted.add(1)
            inBatch += 1
            if (inBatch >= batchSize) flush()
          }
          flush()
        } finally conn.close()
      }
    }
    UpsertStats(attempted.value, inserted.value, skipped.value,
      failed.value, unknown.value)
  }

  /** Bucketed table write: co-locates future joins/aggregations on
    * `bucketCol` — two tables bucketed the same way join with NO shuffle
    * (asserted in SinksSpec). At 100 TB this is the difference between a
    * one-off shuffle at write time and a shuffle on every downstream join.
    * Requires a metastore table (`saveAsTable`), not a bare path.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Z-order (Morton) layout writer: scale two numeric columns to
    * `bits`-wide integers over their observed min/max, interleave the bits,
    * range-partition + sort by the z-value, write parquet. Files then cover
    * compact rectangles in (a, b) space, so parquet row-group min/max stats
    * prune scans filtered on EITHER column (a plain sort only helps its
    * leading column). The z column is dropped before writing; one extra
    * aggregation pass computes the bounds.
    */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
                    outDir: String, nFiles: Int, bits: Int = 21): Unit = {
    import org.apache.spark.sql.functions._
    val b = df.agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    if (b.isNullAt(0) || b.isNullAt(2)) {
      // empty input (or an all-null z column): write the empty/degenerate
      // dataset as-is rather than NPE on the bounds
      df.write.mode(SaveMode.Overwrite).parquet(outDir)
      return
    }
    val (minA, maxA, minB, maxB) =
      (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    val top = (1L << bits) - 1
    def scale(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else least(lit(top), floor((c.cast("double") - lo) * top / (hi - lo)))
        .cast("long")
    val z = udf { (a: Long, bb: Long) =>
      var out = 0L
      var i = 0
      while (i < bits) {
        out |= ((a >> i) & 1L) << (2 * i) | ((bb >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      out
    }
    df.withColumn("__z", z(scale(col(colA), minA, maxA),
        scale(col(colB), minB, maxB)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(outDir)
  }

  /** Idempotent micro-batch append: each batch writes (mode=overwrite) its
    * own `batch=<id>` partition directory, so a foreachBatch retry of the
    * same batchId REPLACES its previous partial output instead of
    * duplicating it — exactly-once for replayable sources, using only
    * parquet + directory layout (no transaction log). Readers scan the
    * parent directory; the `batch` partition column is metadata.
    */
  def idempotentBatchAppend(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")

  /** The read half of [[idempotentBatchAppend]]: every batch written to
    * `dir` except `batchId` itself, whose own earlier (possibly partial)
    * write a replayed batch must not see. The read goes through
    * [[graft.operators.IndexLayout.readParquet]], so building the frame
    * starts no schema-inference job. None only when `dir` holds no data
    * file, i.e. nothing was written yet; every other failure propagates,
    * so a history that lacks a column its reader selects fails the batch
    * instead of reading as empty and admitting every row.
    */
  def priorBatches(spark: SparkSession, dir: String, batchId: Long): Option[DataFrame] =
    if (!IndexLayout.holdsData(spark, dir)) None
    else Some(IndexLayout.readParquet(spark, Seq(dir)).filter(col("batch") =!= batchId))

  /** Compact a parquet directory's small files to ~`targetBytes` outputs:
    * streaming appends and per-batch incremental writes leave thousands of
    * KB-scale files whose open/footer cost dominates scans at 100 TB. One
    * coalesce (no shuffle) to ceil(bytes/target) files, written to
    * `outDir` — the caller swaps directories (parquet has no atomic
    * in-place rewrite; table formats do this under a transaction log).
    * Returns (filesBefore, filesAfter).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, inDir: String,
                     outDir: String, targetBytes: Long = 128L << 20): (Int, Int) = {
    def listParquet(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // recursive: partitioned layouts keep their files in subdirectories
      graft.operators.IndexLayout.walkFiles(fs, path)
        .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    }
    val files = listParquet(inDir)
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, ((totalBytes + targetBytes - 1) / targetBytes).toInt)
    spark.read.parquet(inDir).coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    (files.length, listParquet(outDir).length)
  }

  /** K7: small report DataFrame → one JSON-lines file (driver-side write of
    * an already-aggregated, tiny result — never call on raw tables).
    */
  def writeJsonReport(df: DataFrame, path: String): Unit = {
    val lines = df.toJSON.collect()
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
  }
}
