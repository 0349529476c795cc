package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Sink-side operators (SURVEY §2.1 S6–S9).
 *
 * The reference's leaderboard writer re-reads the whole CSV, drops the
 * rows of the `(year, division)` being refreshed, appends the new
 * batch, then dedups on keys (reference
 * `processors/leaderboards/main.py:165-214`). On Spark that whole
 * read-modify-write collapses to a dynamic partition overwrite — only
 * the refreshed partitions are touched, which is the property that
 * keeps a daily upsert O(day) instead of O(history) at 100 TB.
 */
object Sinks {

  /** S8: overwrite only the partitions present in `df`. The dynamic
    * mode is a writer option, so the caller's session keeps its own. */
  def upsertByPartition(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** The upsert's dedup step: keep one row per key, latest by
    * `orderCol` (reference keeps last-written; here made deterministic). */
  def dedupKeepLatest(df: DataFrame, keys: Seq[String], orderCol: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCol.desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** S6: incremental append — only rows whose key is absent from the
    * existing sink (the reference's `done_ids` set, reference
    * `scrapers/collect_game.py:67-84`). `left_anti` is the distributed
    * form of the done-set. */
  def appendNewOnly(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /**
   * S9: JDBC upsert — the reference's SQLite loader semantics
   * (reference `scripts/upload_to_db.py:71-181`): DELETE the refreshed
   * slice (e.g. one year), dedup the incoming batch on its keys, then
   * append. The delete runs as one driver-side statement; the append
   * streams from executors via `df.write.jdbc`.
   *
   * @param dedupKeys   keys for the incoming-batch dedup; EMPTY skips
   *                    the dedup entirely (a caller with no key
   *                    registry must not dedup on an arbitrary column
   *                    — partitioning a one-year slice by "year" would
   *                    collapse it to a single row)
   * @param deleteWhere SQL predicate selecting the rows being replaced
   *                    (the reference deletes per year); None skips
   *                    (first load / table absent)
   * @param columnTypes optional `createTableColumnTypes` DDL (embedded
   *                    engines like Derby reject Spark's default TEXT
   *                    mapping for strings)
   */
  def jdbcUpsert(
      df: DataFrame, url: String, table: String,
      dedupKeys: Seq[String], orderCol: Column,
      deleteWhere: Option[String] = None,
      columnTypes: Option[String] = None): Unit = {
    val props = new java.util.Properties()

    deleteWhere.foreach { where =>
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val tableExists = {
          val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
          var found = false
          while (rs.next() && !found)
            found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
          found
        }
        if (tableExists) {
          val st = conn.createStatement()
          try st.executeUpdate(s"DELETE FROM $table WHERE $where")
          finally st.close()
        }
      } finally conn.close()
    }

    val deduped = if (dedupKeys.isEmpty) df else dedupKeepLatest(df, dedupKeys, orderCol)
    val writer = deduped.write.mode("append")
    columnTypes.fold(writer)(ct => writer.option("createTableColumnTypes", ct))
      .jdbc(url, table, props)
  }

  /**
   * Small-files compaction: rewrite a parquet dataset into files near
   * `targetBytes` each — the maintenance pass every long-lived
   * incremental dataset needs (daily appends and per-cell upserts
   * accumulate KB-sized files; at 100 TB the scan cost becomes
   * listing + open overhead, not bytes). File count =
   * `clamp(round(totalBytes / targetBytes), 1, maxFiles)` from the
   * ACTUAL on-disk size; the rewrite is a round-robin
   * `repartition(n)` — one shuffle that balances rows without a key,
   * content-preserving by construction. Returns the file count.
   */
  /** Shared compaction sizing: refuse in-place overwrite, then the
    * target file count from ACTUAL parquet data-file bytes. */
  private def compactionFileCount(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String,
      targetBytes: Long, maxFiles: Int): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(conf)
    // the rewrite overwrites outPath while LAZILY reading inPath — the
    // same (normalized) path would destroy the source mid-scan
    val inQ = fs.makeQualified(in)
    val outQ = new org.apache.hadoop.fs.Path(outPath).getFileSystem(conf)
      .makeQualified(new org.apache.hadoop.fs.Path(outPath))
    require(inQ != outQ,
      s"compactParquet: inPath and outPath resolve to the same location " +
        s"($inQ) — overwrite-while-reading would corrupt the dataset; " +
        "compact into a sibling path and swap")
    // size ONLY the parquet data files: _SUCCESS / .crc / metadata
    // would inflate the file-count computation
    var total = 0L
    val it = fs.listFiles(in, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    math.min(maxFiles.toLong,
      math.max(1L, math.round(total.toDouble / targetBytes))).toInt
  }

  def compactParquet(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String,
      targetBytes: Long, maxFiles: Int = 10000): Int = {
    val n = compactionFileCount(spark, inPath, outPath, targetBytes, maxFiles)
    spark.read.parquet(inPath)
      .repartition(n)
      .write.mode("overwrite").parquet(outPath)
    n
  }

  /**
   * Compaction WITH layout — the full `OPTIMIZE ... ZORDER BY`
   * analogue: one rewrite that both collapses small files to
   * `targetBytes`-sized ones (count from actual on-disk bytes, the
   * [[compactParquet]] sizing) and clusters rows along the Morton
   * curve over `zCols` ([[writeZOrdered]]) so the compacted files are
   * ALSO skippable on every participating dimension. This is the
   * maintenance pass a long-lived incremental dataset actually wants:
   * running compaction and clustering separately reads and writes the
   * data twice; fused, once. Returns the file count.
   */
  def compactParquetZOrdered(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String, zCols: Seq[String],
      targetBytes: Long, maxFiles: Int = 10000, bits: Int = 12): Int = {
    val n = compactionFileCount(spark, inPath, outPath, targetBytes, maxFiles)
    writeZOrdered(spark.read.parquet(inPath), outPath, zCols, n, bits)
    n
  }

  /**
   * Range-clustered parquet write: `repartitionByRange` on the cluster
   * key(s) + an in-partition sort, so consecutive key ranges land in
   * separate files with DISJOINT min/max footer statistics. Downstream
   * point/range scans on the cluster key then skip whole files and row
   * groups via ordinary parquet predicate pushdown — file skipping
   * without a partition-directory explosion (the right tool when the
   * key is high-cardinality: `partitionBy` on `user_id` would create
   * millions of directories; clustering keeps `numFiles` files).
   *
   * At 100 TB this is the difference between a point lookup scanning
   * the whole dataset and scanning ~1/numFiles of it. One range
   * shuffle, no driver state; the in-partition sort also tightens
   * PER-ROW-GROUP stats inside each file.
   */
  def writeClustered(
      df: DataFrame, path: String,
      clusterCols: Seq[String], numFiles: Int): Unit = {
    require(clusterCols.nonEmpty, "need at least one cluster column")
    require(numFiles >= 1, "numFiles must be >= 1")
    df.repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Z-ORDERED parquet write (the multi-dimension generalization of
   * [[writeClustered]]): rows are clustered along a Morton curve over
   * the given numeric dimensions, keeping EVERY dimension's per-file
   * min/max tight at once — so predicates on any participating column
   * skip files, not just the leading one. The public Delta/Iceberg
   * `OPTIMIZE ZORDER` recipe, composed from this repo's own pieces:
   * one tiny min/max aggregate for the literal grid ranges, a
   * map-only codegen'd z-value projection ([[graft.functions.ZOrder]]),
   * then one range shuffle on the curve position.
   */
  def writeZOrdered(
      df: DataFrame, path: String,
      zCols: Seq[String], numFiles: Int, bits: Int = 12): Unit = {
    require(zCols.nonEmpty, "need at least one z-order column")
    require(numFiles >= 1, "numFiles must be >= 1")
    // one 1-row aggregate: the literal [lo, hi] grid per dimension
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"__lo_$c"),
        max(col(c).cast("double")).as(s"__hi_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    // Empty input or an all-NULL z-column leaves the min/max NULL; a
    // z-value over a NULL range is meaningless, so fall back to the
    // single-dimension clustered write (same layout guarantee on the
    // surviving keys, and a plain valid write when df is empty).
    if ((0 until 2 * zCols.size).exists(row.isNullAt)) {
      writeClustered(df, path, zCols, numFiles)
      return
    }
    val ranges = zCols.zipWithIndex.map { case (c, i) =>
      (col(c), row.getDouble(2 * i), row.getDouble(2 * i + 1))
    }
    df.withColumn("__z", graft.functions.ZOrder.zValue(ranges, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
