package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.api.GraftApi
import graft.catalog.Catalog
import graft.ops.Relational

/** `GraftApi.export` resolves its attributes on the driver and pivots in
  * one aggregation. This spec holds it to the formulation it replaced —
  * a broadcast join of the dimensions and `Relational.pivotWide` — on a
  * catalog with every shape the pivot has to get right, and pins the
  * warm export's job count. */
class ExportEquivalenceSpec extends SparkSpec {

  /** The previous export: attributes joined to their elements, the
    * archive joined to them, Spark's `pivot` over the sorted names. */
  private def reference(c: Catalog, elementIds: Seq[Int],
      start: Option[String], end: Option[String]): DataFrame = {
    val attrs = c.attributes.filter(col("element_id").isin(elementIds: _*))
      .join(broadcast(c.elements.select(col("element_id"), col("name").as("element_name"))),
        Seq("element_id"))
      .select(col("attribute_id"), col("name").as("attribute_name"), col("element_name"))
    val attrNames = attrs.select("attribute_name").distinct()
      .collect().map(_.getString(0)).sorted
    val scan = c.archiveRange(start, end).join(broadcast(attrs), Seq("attribute_id"))
    val keys = if (elementIds.sizeIs > 1) Seq("element_name", "timestamp") else Seq("timestamp")
    Relational.pivotWide(scan, keys, "attribute_name", attrNames, "value",
        cellAgg = c => first(c, ignoreNulls = true))
      .orderBy(keys.map(col): _*)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Boiler and Pump share the attribute names `temp` and `press`; Pump
    * also has `flow` and a derived `ratio`; Empty has no attributes;
    * `ghost` belongs to element 99, which does not exist. Rows straddle
    * the 2024-01-01/02 date partitions, carry NULL values, and at some
    * timestamps only some attributes have rows. */
  private lazy val fixture: (GraftApi, Catalog, Map[String, Int]) = {
    val api = new GraftApi(spark, Files.createTempDirectory("graft_export_eq").toString)
    val cat = api.catalog("site1")
    val boiler = cat.insertElement("Boiler")
    val pump = cat.insertElement("Pump")
    val empty = cat.insertElement("Empty")
    val bTemp = cat.insertAttribute(boiler, "temp")
    val bPress = cat.insertAttribute(boiler, "press")
    val pTemp = cat.insertAttribute(pump, "temp")
    val pPress = cat.insertAttribute(pump, "press")
    val pFlow = cat.insertAttribute(pump, "flow")
    val ghost = pFlow + 1
    val sess = spark
    import sess.implicits._
    // an attribute whose element is missing can only arrive with a tree
    // reload; insertAttribute refuses it
    cat.repopulate(cat.elements, cat.attributes.unionByName(
      Seq((99, ghost, "ghost", None: Option[String], None: Option[String]))
        .toDF("element_id", "attribute_id", "name", "kks", "formula")))
    val rows = Seq(
      (ghost, "2024-01-01 23:59:00", Some(0.5)),
      (bTemp, "2024-01-01 23:58:00", Some(1.0)),
      (bPress, "2024-01-01 23:58:00", Some(2.0)),
      (bTemp, "2024-01-01 23:59:00", None),
      (bTemp, "2024-01-02 00:00:00", Some(3.0)),
      (bPress, "2024-01-02 00:01:00", Some(4.0)),
      (pTemp, "2024-01-01 23:59:00", Some(5.0)),
      (pPress, "2024-01-01 23:59:00", Some(6.0)),
      (pFlow, "2024-01-01 23:59:00", Some(7.0)),
      (pTemp, "2024-01-02 00:00:00", Some(8.0)),
      (pPress, "2024-01-02 00:00:00", None),
      (pFlow, "2024-01-02 00:01:00", Some(9.0)),
      (pPress, "2024-01-02 00:01:00", Some(10.0)))
    cat.appendArchive(rows.map { case (a, t, v) => (a, ts(t), v) }
      .toDF("attribute_id", "timestamp", "value"))
    cat.insertAttribute(pump, "ratio", formula = Some(s"$$$pFlow / $$$pPress"))
    (api, cat, Map("Boiler" -> boiler, "Pump" -> pump, "Empty" -> empty))
  }

  private val midnight = "2024-01-02 00:00:00"
  private val bounds: Seq[(Option[String], Option[String])] = Seq(
    (None, None),
    (Some(midnight), None), // starts on a partition boundary
    (None, Some(midnight)), // ends on one
    (Some(midnight), Some(midnight)),
    (None, Some("2024-01-01 23:59:59")),
    (Some("2024-01-01 23:59:00"), Some("2024-01-02 00:00:59")))

  private def selections(ids: Map[String, Int]): Seq[Seq[Int]] = Seq(
    Seq(ids("Boiler")),
    Seq(ids("Pump")),
    Seq(ids("Empty")),
    Seq.empty,
    Seq(ids("Boiler"), ids("Pump")),
    Seq(ids("Pump"), ids("Empty")),
    Seq(99), // no such element, but an attribute of it
    Seq(ids("Boiler"), ids("Pump"), 99))

  private def contents(df: DataFrame): (Seq[(String, String)], Seq[Row]) =
    (df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq, df.collect().toSeq)

  test("export equals the join-and-pivot formulation on every selection and bound") {
    val (api, cat, ids) = fixture
    for (sel <- selections(ids); (lo, hi) <- bounds) {
      val got = contents(api.export("site1", sel, lo, hi))
      val want = contents(reference(cat, sel, lo, hi))
      assert(got === want, s"elements $sel, bounds ($lo, $hi)")
    }
  }

  test("export shapes: shared names, NULL cells, the derived tag, empty selections") {
    val (api, _, ids) = fixture
    val multi = api.export("site1", Seq(ids("Boiler"), ids("Pump")), None, None)
    assert(multi.columns.toSeq ===
      Seq("element_name", "timestamp", "flow", "press", "ratio", "temp"))
    val pumpAtMidnight = multi.collect()
      .find(r => r.getString(0) == "Pump" && r.getTimestamp(1) == ts(midnight)).get
    assert(pumpAtMidnight.isNullAt(2) && pumpAtMidnight.isNullAt(3) &&
      pumpAtMidnight.isNullAt(4) && pumpAtMidnight.getDouble(5) === 8.0)
    val ratio = multi.filter(col("ratio").isNotNull).select("ratio").collect().map(_.getDouble(0))
    assert(ratio.toSeq === Seq(7.0 / 6.0, 9.0 / 10.0))
    for (sel <- Seq(Seq(ids("Empty")), Seq.empty[Int], Seq(99))) {
      val none = api.export("site1", sel, None, None)
      assert(none.columns.toSeq === Seq("timestamp") && none.isEmpty, s"elements $sel")
    }
  }

  test("a warm single-element export runs at most 6 Spark jobs") {
    val (api, _, ids) = fixture
    def run() = api.export("site1", Seq(ids("Pump")), Some("2024-01-01 00:00:00"),
      Some("2024-01-02 23:59:59")).collect()
    val warm = run() // first read of each table infers its schema
    val (rows, jobs) = jobsDuring(run())
    assert(rows.toSeq === warm.toSeq)
    assert(jobs.size <= 6, s"${jobs.size} jobs: ${jobs.map(_.stageInfos.map(_.name)).mkString("; ")}")
  }
}
