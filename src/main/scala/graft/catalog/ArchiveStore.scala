package graft.catalog

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Date-partitioned parquet layout for the tall archive, shared by the
  * batch [[Catalog]] and the streaming sink
  * ([[graft.streaming.DerivedStream.start]]).
  *
  * Physical layout: `p_date = date(timestamp)` directories. Appends land
  * in their date partitions; upserts are last-write-wins on
  * (attribute_id, timestamp) and rewrite ONLY the date partitions the new
  * rows touch (dynamic partition overwrite) — the reference's
  * `ON CONFLICT DO UPDATE` (reference `database/database.py:626-631`)
  * re-expressed so that on a 100 TB archive a late batch rewrites a day,
  * not the table.
  *
  * Every parquet read of a catalog table goes through [[read]], which
  * reuses the table's schema per path: only the first read of a path
  * infers it (a footer-reading Spark job); later reads pass it as a
  * user schema and run no job before the query's own. Spark still lists
  * the files on every read, so new partitions and files stay visible —
  * listing is not cached because appends and upserts change it on every
  * batch, while they never change the schema ([[normalized]] fixes the
  * column types). A writer that creates or replaces a table drops its
  * entry: [[write]] does so itself, and [[graft.catalog.Catalog]] calls
  * [[forget]] after its dimension rewrites and its archive replacement.
  * A table replaced by anything else must be [[forget]]-ed by its writer.
  */
object ArchiveStore {

  /** Archive columns in contract order (readers drop the physical
    * partition column). */
  val cols: Seq[String] = Seq("attribute_id", "timestamp", "value")

  /** Hadoop FileSystem for `path`, so every probe and directory sweep in
    * this store works identically on local disk, HDFS, or an object
    * store (same discipline as [[graft.api.GraftApi.cleanupExports]]). */
  private def hadoopFs(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = hadoopFs(path)
    fs.exists(new HPath(p, "_SUCCESS"))
  }

  /** Parquet schema per qualified table path; see the object doc. */
  private val schemas = new ConcurrentHashMap[String, StructType]()

  private def key(path: String): String = {
    val (fs, p) = hadoopFs(path)
    fs.makeQualified(p).toString
  }

  /** Parquet read of the table at `path`, inferring its schema only on
    * the path's first read. Inference runs inside the map's per-key
    * lock, so a concurrent [[forget]] cannot be overtaken by a stale
    * schema. */
  def read(spark: SparkSession, path: String): DataFrame = {
    var inferred: DataFrame = null
    val schema = schemas.computeIfAbsent(key(path), _ => {
      inferred = spark.read.parquet(path)
      inferred.schema
    })
    if (inferred != null) inferred else spark.read.schema(schema).parquet(path)
  }

  /** Drops the schema of the table at `path`; its next [[read]] infers
    * again. Call it after creating or replacing the table. */
  def forget(path: String): Unit = schemas.remove(key(path))

  /** Logical-schema read (partition column dropped); empty frame with the
    * batch's own types when nothing has been written yet. */
  def readOr(spark: SparkSession, path: String, empty: => DataFrame): DataFrame =
    if (exists(path)) read(spark, path).select(cols.map(col): _*)
    else empty

  private def normalized(df: DataFrame): DataFrame =
    df.select(col("attribute_id").cast("int"), col("timestamp"),
      col("value").cast("double"))

  private def partitioned(df: DataFrame): DataFrameWriter[Row] =
    normalized(df).withColumn("p_date", to_date(col("timestamp")))
      .write.partitionBy("p_date")

  /** Appends to, creates or (under `SaveMode.Overwrite`) replaces the
    * table at `target`; a create or replace drops its schema. */
  def write(df: DataFrame, mode: SaveMode, target: String): Unit = {
    val replaces = mode == SaveMode.Overwrite || !exists(target)
    partitioned(df).mode(mode).parquet(target)
    if (replaces) forget(target)
  }

  /** Rewrites only the date partitions present in `df`. The overwrite
    * mode is a per-write option, so the session's
    * `spark.sql.sources.partitionOverwriteMode` is never touched and
    * other queries on the session keep their own mode. The schema stays:
    * [[normalized]] fixes the column types. */
  private def overwriteDates(df: DataFrame, path: String): Unit =
    partitioned(df).mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  def append(df: DataFrame, path: String): Unit = write(df, SaveMode.Append, path)

  /** Small-file compaction: streaming upserts leave one file per
    * micro-batch per touched date; over days that degrades scans (task
    * per tiny file, footer overhead). Rewrites each listed date
    * partition — or every partition with more than `maxFilesPerDate`
    * files when none are listed — into `targetFiles` file(s) via a
    * dynamic partition overwrite. Pure layout maintenance: rows are
    * unchanged, and untouched partitions keep their files byte-for-byte
    * (same guarantee the upsert relies on). Run it as the maintenance
    * job between ingest windows. */
  def compact(spark: SparkSession, path: String, dates: Seq[String] = Nil,
      maxFilesPerDate: Int = 4, targetFiles: Int = 1): Unit = {
    if (!exists(path)) return
    val toCompact: Seq[String] =
      if (dates.nonEmpty) dates
      else {
        val (fs, root) = hadoopFs(path)
        fs.listStatus(root).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_date="))
          .filter(st => fs.listStatus(st.getPath)
            .count(_.getPath.getName.endsWith(".parquet")) > maxFilesPerDate)
          .map(_.getPath.getName.stripPrefix("p_date="))
      }
    if (toCompact.isEmpty) return
    val rows = read(spark, path)
      .filter(col("p_date").isin(toCompact: _*))
      .select(cols.map(col): _*)
      .repartition(targetFiles, col("timestamp")) // timestamp-clustered files
      .localCheckpoint() // break lineage: overwrite targets the read path
    overwriteDates(rows, path)
  }

  /** Last-write-wins upsert on (attribute_id, timestamp), touching only
    * the date partitions present in `recomputed`. `localCheckpoint` breaks
    * the read lineage so the overwrite may target the same path it read. */
  def upsert(spark: SparkSession, path: String, recomputed: DataFrame): Unit = {
    val rec = normalized(recomputed)
    if (!exists(path)) { append(rec, path); return }
    val recMat = rec.localCheckpoint()
    if (recMat.isEmpty) return // nothing to upsert; avoid a no-partition overwrite job
    val touchedDates = recMat.select(to_date(col("timestamp")).as("p_date")).distinct()
    val keep = read(spark, path)
      .join(broadcast(touchedDates), Seq("p_date"), "left_semi")
      .join(recMat.select("attribute_id", "timestamp"),
        Seq("attribute_id", "timestamp"), "left_anti")
      .select(cols.map(col): _*)
    overwriteDates(keep.unionByName(recMat).localCheckpoint(), path)
  }
}
