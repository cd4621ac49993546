package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.api.GraftApi
import graft.catalog.ArchiveStore
import graft.ingest.Ingest

/** Catalog reads reuse each table's parquet schema per path
  * ([[ArchiveStore.read]]). These specs pin what the reuse must not
  * change: a replaced table shows its new schema, even to another
  * `Catalog` instance; files and partitions added after the first read
  * are found; and the writers that rewrite tables return what a fresh,
  * schema-inferring read returns. */
class CatalogSchemaSpec extends SparkSpec {

  private def freshRoot(): String = Files.createTempDirectory("graft_schema").toString
  private def ts(s: String) = Timestamp.valueOf(s)

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy("attribute_id", "timestamp").collect().toSeq

  /** The archive as a read with no reused schema sees it. */
  private def inferred(root: String): DataFrame =
    spark.read.parquet(s"$root/site1/archive").select(ArchiveStore.cols.map(col): _*)

  test("a warm table read runs no schema-inference job, for any Catalog instance") {
    val api = new GraftApi(spark, freshRoot())
    api.catalog("site1").insertElement("Boiler")
    val (_, cold) = jobsDuring(api.catalog("site1").elements)
    val (_, warm) = jobsDuring(api.catalog("site1").elements)
    assert(cold.size === 1 && warm.isEmpty, s"cold ${cold.size}, warm ${warm.size} jobs")
  }

  test("an archive replaced through another Catalog shows its new timestamp type") {
    val root = freshRoot()
    val api = new GraftApi(spark, root)
    val reader = api.catalog("site1")
    val e = reader.insertElement("Boiler")
    val temp = reader.insertAttribute(e, "temp")
    val sess = spark
    import sess.implicits._
    // java.sql.Timestamp rows: TimestampType, now the reused schema
    reader.appendArchive(Seq((temp, ts("2024-01-01 10:00:00"), 1.0))
      .toDF("attribute_id", "timestamp", "value"))
    assert(reader.archiveRange(None, None).schema("timestamp").dataType === TimestampType)

    // a second instance empties the archive (rewriteArchive), then ingest
    // writes timestamp_ntz rows into it
    val writer = api.catalog("site1")
    assert(writer.deleteAttribute(temp) === 1)
    val press = writer.insertAttribute(e, "press")
    val mapping = Seq(("\\\\AF\\Boiler|press", press)).toDF("lookup_key", "attribute_id")
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row("\\\\AF\\Boiler|press", "2024-01-01T03:00:00Z", "2.5")), 1),
      StructType(Seq("lookup_key", "timestamp", "value").map(StructField(_, StringType))))
    writer.appendArchive(Ingest.coerceBatch(raw, mapping))

    val after = reader.archiveRange(Some("2024-01-01 00:00:00"), None)
    assert(after.schema("timestamp").dataType === TimestampNTZType)
    assert(rows(after) === rows(inferred(root)))
    assert(after.collect().map(_.getDouble(2)).toSeq === Seq(2.5))
  }

  test("an upsert into a new date partition is visible to the next archiveRange") {
    val root = freshRoot()
    val api = new GraftApi(spark, root)
    val reader = api.catalog("site1")
    val sess = spark
    import sess.implicits._
    reader.appendArchive(Seq(
      (1, ts("2024-01-01 10:00:00"), 1.0),
      (1, ts("2024-01-02 10:00:00"), 2.0)).toDF("attribute_id", "timestamp", "value"))
    assert(reader.archiveRange(Some("2024-01-03 00:00:00"), None).isEmpty)

    api.catalog("site1").upsertArchive(Seq(
      (1, ts("2024-01-02 10:00:00"), 22.0),
      (1, ts("2024-01-03 10:00:00"), 3.0)).toDF("attribute_id", "timestamp", "value"))
    val day3 = reader.archiveRange(Some("2024-01-03 00:00:00"), None)
    assert(day3.collect().map(_.getDouble(2)).toSeq === Seq(3.0))
    assert(reader.archive.orderBy("timestamp").collect().map(_.getDouble(2)).toSeq ===
      Seq(1.0, 22.0, 3.0))
  }

  test("updateAttribute and repopulate on a warm catalog read back as a fresh read does") {
    val root = freshRoot()
    val api = new GraftApi(spark, root)
    val cat = api.catalog("site1")
    val plant = cat.insertElement("Plant")
    val unit = cat.insertElement("Unit", 1, Some(plant))
    val temp = cat.insertAttribute(unit, "temp")
    val press = cat.insertAttribute(unit, "press")
    val sess = spark
    import sess.implicits._
    cat.appendArchive(Seq(
      (temp, ts("2024-01-01 00:00:00"), 10.0),
      (temp, ts("2024-01-02 00:00:00"), 20.0),
      (press, ts("2024-01-01 00:00:00"), 2.0)).toDF("attribute_id", "timestamp", "value"))
    val mean = cat.insertAttribute(unit, "mean", formula = Some(s"($$$temp + $$$press) / 2"))
    val warm = api.catalog("site1")
    assert(rows(warm.archive).size === 4) // every table's schema is now reused

    cat.updateAttribute(mean, name = Some("double"), formula = Some(s"$$$temp * 2"))
    assert(rows(warm.archive) === rows(inferred(root)))
    assert(warm.archive.filter(col("attribute_id") === mean).orderBy("timestamp")
      .collect().map(_.getDouble(2)).toSeq === Seq(20.0, 40.0))
    assert(warm.attributes.filter(col("attribute_id") === mean)
      .select("name").head().getString(0) === "double")

    // new ids for the same paths; Unit's mean is dropped from the tree
    val newElems = Seq((0, 5, "Plant", None: Option[Int]), (1, 6, "Unit", Some(5)))
      .toDF("level", "element_id", "name", "parent_id")
    val newAttrs = Seq(
      (6, 7, "temp", None: Option[String], None: Option[String]),
      (6, 8, "press", None: Option[String], None: Option[String]))
      .toDF("element_id", "attribute_id", "name", "kks", "formula")
    api.catalog("site1").repopulate(newElems, newAttrs)
    assert(rows(warm.archive) === rows(inferred(root)))
    assert(warm.archive.select("attribute_id").distinct().collect().map(_.getInt(0)).toSet ===
      Set(7, 8))
    assert(warm.elements.select("element_id").collect().map(_.getInt(0)).toSet === Set(5, 6))
  }

  test("upsert and compact leave the session's partitionOverwriteMode untouched") {
    val root = freshRoot()
    val cat = new GraftApi(spark, root).catalog("site1")
    val sess = spark
    import sess.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    cat.appendArchive(Seq(
      (1, ts("2024-01-01 10:00:00"), 1.0),
      (1, ts("2024-01-02 10:00:00"), 2.0)).toDF("attribute_id", "timestamp", "value"))
    val dir = new File(s"$root/site1/archive")
    def partFiles(date: String): Set[String] =
      new File(dir, s"p_date=$date").listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val day1 = partFiles("2024-01-01")
    val before = spark.conf.getOption(key)

    // each job's properties carry the session's SQL confs as they were
    // when it was submitted, so these show the conf during the writes
    val (_, jobs) = jobsDuring {
      cat.upsertArchive(Seq((1, ts("2024-01-02 10:00:00"), 22.0))
        .toDF("attribute_id", "timestamp", "value"))
      ArchiveStore.compact(spark, dir.toString, dates = Seq("2024-01-02"))
    }
    val seen = jobs.flatMap(j => Option(j.properties).flatMap(p => Option(p.getProperty(key))))
    assert(jobs.nonEmpty && seen.forall(_ == before.orNull), s"conf during the writes: $seen")
    assert(spark.conf.getOption(key) === before)
    assert(partFiles("2024-01-01") === day1) // untouched date keeps its files
    assert(cat.archive.orderBy("timestamp").collect().map(_.getDouble(2)).toSeq === Seq(1.0, 22.0))
  }
}
