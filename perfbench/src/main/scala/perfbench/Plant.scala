package perfbench

import java.io.File
import java.time.LocalDateTime

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.api.GraftApi
import graft.catalog.Catalog
import graft.ingest.Ingest
import graft.streaming.DerivedStream
import graft.streaming.DerivedStream.DerivedDef

/** `plant`: the reference's plant engineer and its PI ingest on one
  * seeded catalog, as one client in a closed loop. The seed draws one
  * cycle of eight requests, which every step replays:
  *
  *  0. an ingest batch of PI-style string points — `Ingest.coerceBatch`,
  *     `Catalog.upsertArchive` of the raw rows, `DerivedStream
  *     .derivedForBatch` per formula tag, `Catalog.upsertArchive` of the
  *     derived rows. It carries the next ten minutes, re-sends the last
  *     two (conflicts take the upsert path), late points for a slice of
  *     the previous day, ~1% unknown tags, and ~4% boolean or non-numeric
  *     values;
  *  1. `GraftApi.export` of the window just written;
  *  2, 4, 6. a non-export route: leaf elements, an exact or ILIKE lookup,
  *     element attributes with their time range;
  *  3. an export of one element over 4 h, also written as a CSV download
  *     through `GraftApi.writeExport`;
  *  5. an export of ten elements over a day;
  *  7. an export of one element over 16 h.
  *
  * The seed draws elements, window starts and the lookup; window lengths
  * are fixed, so every seed does the same amount of work.
  *
  * Ops are exports; aux ops are ingest batches, timed from hand-in until
  * their raw and derived rows are readable. Every export is checked cell
  * by cell against the generator's value function. */
final class PlantWorkload(ctx: Ctx) extends Workload {
  import PlantWorkload._
  private val spark: SparkSession = ctx.spark
  private val db = "plant"
  private val plant: Plant = PlantGen.layout(ctx.seed)
  private val rnd = new scala.util.Random(ctx.seed * 31 + 7)
  private var root: String = _
  private var api: GraftApi = _
  private var catalog: Catalog = _

  private val BatchMinutes = 10
  private val Resend = 2
  private val LateWindow = 30
  private val f0 = plant.frontier
  private var frontier = f0
  /** Minute ranges in which every raw point has been (re)delivered. */
  private val delivered = mutable.ArrayBuffer[(Int, Int)]()

  /** Whether raw attribute `a` has an archive row at minute `m`. */
  private def present(a: Int, m: Int): Boolean =
    m >= 0 && m < frontier &&
      (m >= f0 || !PlantGen.gap(plant.seed, a, m) || delivered.exists { case (l, h) => l <= m && m < h })

  /** Write a fresh copy of the catalog; the loop uses the last one. */
  def generate(rep: Int): Unit = {
    root = s"${ctx.work}/catalog-$rep"
    catalog = PlantGen.write(spark, plant, root, db)
    api = new GraftApi(spark, root)
  }

  /** Export through the API route, materialized on the driver as the
    * route's serializer would. */
  private def export(req: Int, elems: Seq[Int], lo: Int, hi: Int): (DataFrame, Array[Row]) = {
    val (out, span) = ctx.spans("api.export", "api", req) {
      val df = api.export(db, elems, Some(PlantGen.sqlTime(lo)), Some(PlantGen.sqlTime(hi)))
      (df, df.collect())
    }
    ctx.facts.windowDays(span.id) = (PlantGen.at(hi).toLocalDate.toEpochDay -
      PlantGen.at(lo).toLocalDate.toEpochDay + 1).toInt
    out
  }

  /** Compare every exported cell with the generator's value function. */
  private def checkExport(elems: Seq[Int], lo: Int, hi: Int, df: DataFrame,
      rows: Array[Row]): Boolean = {
    val attrs = elems.flatMap(plant.attrsOf)
    val names = attrs.map(_.name).distinct.sorted
    val multi = elems.size > 1
    val keys = if (multi) Seq("element_name", "timestamp") else Seq("timestamp")
    if (df.columns.toSeq != keys ++ names) {
      System.err.println(s"perfbench: export columns ${df.columns.mkString(",")} != ${(keys ++ names).mkString(",")}")
      return false
    }
    val exp = PlantGen.expected(plant, present) _
    val expected = for {
      e <- elems.map(plant.elementById).sortBy(_.name)
      m <- lo to hi
      cells = attrs.filter(_.elementId == e.id).map(a => a.name -> exp(a, m)).toMap
      if cells.values.exists(_.isDefined)
    } yield (if (multi) Seq(e.name) else Nil) ++ Seq(PlantGen.at(m)) ++
      names.map(n => cells.get(n).flatten.flatten.map(Double.box).orNull)
    val bad = rows.iterator.zip(expected.iterator).find { case (r, e) => r.toSeq != e }
    bad.foreach { case (r, e) => System.err.println(s"perfbench: export row $r != ${e.mkString("[", ",", "]")}") }
    if (rows.length != expected.length)
      System.err.println(s"perfbench: export rows ${rows.length} != ${expected.length}")
    rows.length == expected.length && bad.isEmpty
  }

  /** Archive layout after the run: parquet files per date partition. */
  override def filesPerDate(): Double = {
    val dirs = Option(new File(s"$root/$db/archive").listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith("p_date="))
    val files = dirs.map(_.listFiles().count(_.getName.endsWith(".parquet")))
    if (files.isEmpty) 0.0 else files.sum.toDouble / files.length
  }

  private val defs = plant.derived.map(d => DerivedDef(d.id, d.formula.get))
  private var mapping: DataFrame = _
  private var pathOf: Map[Int, String] = _
  private val rawSchema = StructType(Seq("lookup_key", "timestamp", "value")
    .map(StructField(_, StringType)))
  /** The run's cycle, drawn once from the seed and replayed every step. */
  private lazy val cycle: Seq[Req] = {
    def pick = plant.equipment(rnd.nextInt(plant.equipment.size)).id
    def single(hours: Int, csv: Boolean) = {
      val lo = rnd.nextInt(f0 - hours * 60)
      Export(Seq(pick), lo, lo + hours * 60 - 1, csv)
    }
    val lo = rnd.nextInt(f0 - 1440)
    val multi = Export(rnd.shuffle(plant.equipment.map(_.id)).take(10).sorted, lo, lo + 1439, csv = false)
    val e = plant.elementById(pick)
    val lookup = rnd.nextInt(4) match {
      case 0 => LookupReq("element", e.name)
      case 1 => LookupReq("element", "%" + e.name.split("-")(1).toLowerCase + "%")
      case 2 => LookupReq("attribute", PlantGen.RawNames(rnd.nextInt(PlantGen.RawNames.size)))
      case _ => LookupReq("attribute", "calc%")
    }
    Seq(Batch, Fresh(plant.derived(rnd.nextInt(plant.derived.size)).elementId), LeafReq,
      single(4, csv = true), lookup, multi, AttrsReq(pick), single(16, csv = false))
  }

  def warm(): Unit = {
    // the ingest mapping is built once from the catalog (the reference's
    // update-cache route) and held on the driver, as a PI client would
    val m = catalog.attributePathMapping().withColumnRenamed("raw_path", "lookup_key")
    mapping = spark.createDataFrame(spark.sparkContext.parallelize(m.collect().toSeq, 1), m.schema)
    pathOf = mapping.collect().map(r => r.getAs[Int]("attribute_id") -> r.getAs[String]("lookup_key")).toMap
    cycle.zipWithIndex.foreach { case (r, k) => run(-1, k, r) }
  }

  /** One step is a whole cycle, so every run measures the same mix. */
  def step(i: Int): Unit = cycle.zipWithIndex.foreach { case (r, k) => run(i * cycle.size + k, k, r) }

  private def run(id: Int, slot: Int, r: Req): Unit = r match {
    case Batch => ingest(id, slot)
    case Fresh(e) => exportOp(id, slot, Seq(e), frontier - 60, frontier - 1, csv = false)
    case Export(elems, lo, hi, csv) => exportOp(id, slot, elems, lo, hi, csv)
    case other => ctx.op("route", slot.toString, id)(ctx.spans("api.routes", "api", id)(route(other))._1)
  }

  private def exportOp(id: Int, slot: Int, elems: Seq[Int], lo: Int, hi: Int, csv: Boolean): Unit =
    ctx.op("op", slot.toString, id) {
      val (df, rows) = export(id, elems, lo, hi)
      val file = if (csv) Some(ctx.spans("api.write_export", "api", id) {
        api.writeExport(df, s"${ctx.work}/exports", s"pi_data_${id + 1}", "csv")
      }._1) else None
      () => checkExport(elems, lo, hi, df, rows) && file.forall(f => checkCsv(f, df, rows.length))
    }

  private def checkCsv(dir: String, df: DataFrame, n: Int): Boolean = {
    val parts = new File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    val ok = parts.length == 1 && {
      val lines = java.nio.file.Files.readAllLines(parts.head.toPath)
      lines.size == n + 1 && lines.get(0) == df.columns.mkString(",")
    }
    Ctx.delete(new File(dir))
    ok
  }

  /** Runs one non-export route; returns its checker. */
  private def route(r: Req): () => Boolean = r match {
    case LeafReq =>
      val names = api.leafElements(db).collect().map(_.getAs[String]("name")).toSeq
      () => names == (plant.elements.filter(e => e.level == 3 || e.parent.isEmpty).map(_.name).sorted)
    case AttrsReq(e) =>
      val attrs = api.elementAttributes(db, e).collect().map(_.getAs[Int]("attribute_id")).toSeq
      val range = api.attributeTimeRange(db, attrs).collect()
      () => {
        val want = plant.attrsOf(e).sortBy(_.name).map(_.id)
        val ms = (0 until frontier).filter(m => plant.attrsOf(e).exists(a =>
          PlantGen.expected(plant, present)(a, m).isDefined))
        attrs == want && range.length == 1 &&
          range(0).get(0) == PlantGen.at(ms.head) && range(0).get(1) == PlantGen.at(ms.last)
      }
    case LookupReq(kind, name) =>
      val got = api.lookup(db, kind, name).collect().map(_.getAs[String]("name")).toSeq
      () => {
        val pool = if (kind == "element") plant.elements.map(_.name) else plant.attrs.map(_.name)
        val want =
          if (name.contains("%")) {
            val re = name.toLowerCase.split("%", -1).map(java.util.regex.Pattern.quote).mkString(".*")
            pool.filter(_.toLowerCase.matches(re)).sorted
          } else pool.filter(_ == name)
        got.sorted == want.sorted && (!name.contains("%") || got == got.sorted)
      }
    case other => throw new IllegalArgumentException(s"not a route: $other")
  }

  /** The next batch's raw points: the next `BatchMinutes` minutes, the
    * last `Resend` minutes again, the previous day's undelivered points
    * in a `LateWindow` slice, and ~1% unknown tags; shuffled. */
  private def batch(): (Seq[Row], (Int, Int)) = {
    val lo = frontier - Resend
    val hi = frontier + BatchMinutes
    val day = frontier / 1440 - 1
    val start = day * 1440 + rnd.nextInt(1440 - LateWindow)
    val late = (start, start + LateWindow)
    val points = for {
      m <- (lo until hi) ++ (late._1 until late._2)
      a <- plant.raw
      if m >= lo || PlantGen.gap(plant.seed, a.id, m)
    } yield Row(pathOf(a.id), PlantGen.piTime(m), PlantGen.rawValue(plant.seed, a.id, m))
    val unknown = (0 until points.size / 100).map(k =>
      Row(s"\\\\AFSERVER\\Site\\Retired|TAG$k", PlantGen.piTime(lo), "1.0"))
    (rnd.shuffle(points ++ unknown), late)
  }

  private def ingest(id: Int, slot: Int): Unit = {
    val (rows, late) = batch()
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), rawSchema)
    ctx.op("aux", slot.toString, id) {
      val coerced = ctx.spans("ingest.coerce", "ingest", id) {
        val c = Ingest.coerceBatch(raw, mapping).cache()
        (c, c.count())
      }._1
      ctx.spans("catalog.upsert_raw", "catalog", id)(catalog.upsertArchive(coerced._1))
      ctx.spans("catalog.upsert_derived", "catalog", id) {
        val recomputed = defs.map(d => DerivedStream.derivedForBatch(catalog.archive, coerced._1, d))
          .reduce(_ unionByName _)
        catalog.upsertArchive(recomputed)
      }
      coerced._1.unpersist()
      ctx.facts.batch(rows.size, coerced._2,
        rows.iterator.map(r => (0 until 3).map(r.getString(_).length.toLong).sum).sum)
      val newFrontier = frontier + BatchMinutes
      delivered += ((frontier - Resend, frontier))
      delivered += late
      frontier = newFrontier
      val expectKept = rows.count(r => !r.getString(0).contains("Retired"))
      () => coerced._2 == expectKept
    }
  }
}

object PlantWorkload {
  /** The run's cycle, drawn once from the seed and replayed every step. */
  private sealed trait Req
  private case object Batch extends Req
  private final case class Fresh(elem: Int) extends Req // the window just written
  private final case class Export(elems: Seq[Int], lo: Int, hi: Int, csv: Boolean) extends Req
  private case object LeafReq extends Req
  private final case class AttrsReq(elem: Int) extends Req
  private final case class LookupReq(kind: String, name: String) extends Req
}
