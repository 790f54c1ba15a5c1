package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bronze-layer registration: parquet files → catalog tables with audit
  * columns, mirroring the reference's CTAS
  * (/root/reference/src/utils.py:171-188):
  * `_source_file`, `_ingestion_timestamp`, `_record_id`.
  *
  * Two id flavors:
  *  - sparse (default): `monotonically_increasing_id()` — no shuffle, ids
  *    unique but sparse; the reference attaches no ordering meaning to
  *    `ROW_NUMBER() OVER ()` (unordered frame), so this is semantics-
  *    preserving at any scale.
  *  - dense: [[denseIds]] — exact 1..N over a caller-supplied total
  *    order, computed DISTRIBUTED (range repartition + per-partition
  *    offsets), not as the classic single-partition window.
  */
object Bronze {

  def withAuditColumns(df: DataFrame, sourceFile: String,
      denseIdOrder: Option[Seq[String]] = None): DataFrame = {
    val base = df
      .withColumn("_source_file", lit(sourceFile))
      .withColumn("_ingestion_timestamp", current_timestamp())
    denseIdOrder match {
      case Some(orderCols) => denseIds(base, orderCols)
      case None =>
        base.withColumn("_record_id", monotonically_increasing_id())
    }
  }

  /** Dense 1..N ids in `orderCols` order, at cluster scale: range-
    * repartition on the order columns (ascending ranges land in ascending
    * partition ids), sort within partitions, then add each partition's
    * row count prefix-sum as an offset to the within-partition sequence
    * from `monotonically_increasing_id` (documented layout: partition id
    * in the upper bits, per-partition row number in the lower 33). The
    * single-partition `Window.orderBy` this replaces moves the WHOLE
    * table through one task — fine at 60k rows, fatal at 100 TB; here
    * the only narrow step is a per-partition COUNT collect (width
    * integers).
    *
    * EAGER (one counts job at construction) and, with `cache` (default),
    * the ranged frame is persisted MEMORY_AND_DISK so the shuffle+sort
    * runs once, not once for counts and again at execution — the cache
    * lives in a [[graft.ManagedCache]] slot, so re-entering this operator
    * releases the previous call's frame rather than accumulating; pass
    * `cache = false` when embedding in a pipeline that manages its own
    * persistence. `orderCols` should be a total order for
    * deterministic ids: ties still get dense ids, but WHICH tied row
    * gets which id is arbitrary and only stable while the cache lives —
    * a recompute (cache released or evicted) may permute ids among
    * tied rows between actions on the same frame. */
  def denseIds(df: DataFrame, orderCols: Seq[String],
      idCol: String = "_record_id", cache: Boolean = true): DataFrame = {
    graft.Reserved.requireNone(df, "Bronze.denseIds")
    val spark = df.sparkSession
    val width = spark.sparkContext.defaultParallelism
    val mask = (1L << 33) - 1
    val rangedPlan = df
      .repartitionByRange(width, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .withColumn("__graft_mid", monotonically_increasing_id())
      .withColumn("__graft_pid",
        shiftright(col("__graft_mid"), 33).cast("int"))
      .withColumn("__graft_rn", col("__graft_mid").bitwiseAND(mask))
    val ranged = if (cache)
      graft.ManagedCache.swap("Bronze.denseIds", rangedPlan)
    else rangedPlan
    val counts = ranged.groupBy("__graft_pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = counts.keys.toSeq.sorted
      .foldLeft((0L, Vector.empty[(Int, Long)])) { case ((acc, out), pid) =>
        (acc + counts(pid), out :+ (pid -> acc))
      }._2
    val offDf = broadcast(
      spark.createDataFrame(offsets).toDF("__graft_pid", "__graft_off"))
    ranged.join(offDf, "__graft_pid")
      .withColumn(idCol, col("__graft_off") + col("__graft_rn") + 1L)
      .drop("__graft_mid", "__graft_pid", "__graft_rn", "__graft_off")
  }

  /** Move a managed table's default location ASIDE when it exists WITHOUT
    * a catalog entry. A run that died between writing files and committing
    * the catalog entry leaves this orphan behind, and `saveAsTable` /
    * CTAS refuse to adopt it (LOCATION_ALREADY_EXISTS) — which would
    * wedge every future scheduled refresh.
    *
    * The files are QUARANTINED (renamed to `<loc>.orphan-<millis>`), not
    * deleted: "no catalog entry" only proves THIS session's catalog
    * doesn't know the table. A fresh or relocated metastore (embedded
    * Derby in a new cwd) over a persisted warehouse, or a second catalog
    * sharing the same s3a warehouse prefix, also presents as "orphan" —
    * a recursive delete there silently destroys live data on every
    * scheduled run. A rename keeps the refresh unwedged while leaving
    * the bytes recoverable by an operator. Hadoop-FileSystem-generic
    * (file:, s3a:, … — on S3A the rename is copy+delete, still safe). */
  def dropOrphanLocation(spark: SparkSession, db: String,
      table: String): Unit =
    if (!spark.catalog.tableExists(s"$db.$table")) {
      val dbLoc = spark.catalog.getDatabase(db).locationUri.stripSuffix("/")
      val loc = new org.apache.hadoop.fs.Path(s"$dbLoc/$table")
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) {
        val quarantine = new org.apache.hadoop.fs.Path(
          s"$dbLoc/$table.orphan-${System.currentTimeMillis()}")
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$db.$table has no catalog entry but its location $loc exists " +
            s"(crashed earlier run, or a foreign catalog's table?) — " +
            s"quarantining to $quarantine before recreate")
        if (!fs.rename(loc, quarantine))
          throw new java.io.IOException(
            s"failed to quarantine orphan table location $loc → $quarantine")
      }
    }

  /** Register one parquet file/dir as `bronze.<table>`.
    *
    * Default `refresh = false` is the reference's exact semantics —
    * `CREATE TABLE IF NOT EXISTS` (utils.py:178-184), meaning a weekly
    * re-ingestion that lands NEW data in the lake still serves LAST
    * week's bronze (the reference's "refreshes on new data" log line
    * notwithstanding, db_sync.py:55). `refresh = true` is the fix a real
    * deployment wants: overwrite the table from the current lake
    * artifact so re-ingestion propagates. */
  def register(spark: SparkSession, path: String, table: String,
      denseIdOrder: Option[Seq[String]] = None,
      refresh: Boolean = false): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze")
    val qualified = s"bronze.$table"
    if (refresh || !spark.catalog.tableExists(qualified)) {
      dropOrphanLocation(spark, "bronze", table)
      val name = path.split('/').last.stripSuffix(".parquet")
      withAuditColumns(spark.read.parquet(path), name, denseIdOrder)
        .write.mode("overwrite").saveAsTable(qualified)
    }
  }

  /** Register every parquet under a lake directory, deriving table names the
    * way the reference does (lowercase, dashes/spaces → underscores;
    * utils.py:172-173). */
  def registerLake(spark: SparkSession, lakeDir: String,
      refresh: Boolean = false): Seq[String] = {
    val files = LakeIO.listLake(spark, s"$lakeDir/*.parquet")
    files.map { f =>
      val table = f.split('/').last.stripSuffix(".parquet")
        .toLowerCase.replace("-", "_").replace(" ", "_")
      register(spark, f, table, refresh = refresh)
      table
    }
  }
}
