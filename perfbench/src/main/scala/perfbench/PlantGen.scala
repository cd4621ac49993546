package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.formula.Formula
import graft.model.Schemas

final case class Elem(level: Int, id: Int, name: String, parent: Option[Int])
final case class Attr(elementId: Int, id: Int, name: String, kks: String,
    formula: Option[String])

/** A plant catalog in the reference's shape: an element tree
  * site → unit → system → equipment, five raw tags per equipment at
  * one-minute density, and derived formula tags on some equipment.
  * Raw attribute ids are 1..nRaw and archive minute `m` is
  * [[PlantGen.Epoch]] + m minutes; the archive holds minutes
  * [0, frontier). */
final case class Plant(seed: Long, elements: Seq[Elem], attrs: Seq[Attr],
    days: Int, frontier: Int) {
  val equipment: Seq[Elem] = elements.filter(_.level == 3)
  val raw: Seq[Attr] = attrs.filter(_.formula.isEmpty)
  val derived: Seq[Attr] = attrs.filter(_.formula.isDefined)
  val attrsOf: Map[Int, Seq[Attr]] = attrs.groupBy(_.elementId)
  val elementById: Map[Int, Elem] = elements.map(e => e.id -> e).toMap
}

/** Every archive value is a pure function of (seed, attribute, minute),
  * so a checker can recompute any exported cell without reading the
  * archive. The same function is written twice, as a Spark SQL
  * expression for generation and in Scala for checking; both use exact
  * integer arithmetic and one IEEE division. */
object PlantGen {
  val Epoch: LocalDateTime = LocalDateTime.of(2024, 3, 1, 0, 0)
  val RawNames: Seq[String] = Seq("AMPS", "FLOW", "PRESS", "TEMP", "VIB")
  val Units = 2
  val SystemsPerUnit = 2
  val EquipmentPerSystem = 3
  val Days = 2
  val DerivedTags = 4
  private val SystemKinds = Seq("FEED", "COOL", "STEAM", "LUBE", "FUEL", "AIR", "DRAIN", "SEAL")
  private val EquipmentKinds = Seq("PUMP", "FAN", "VALVE", "MOTOR", "HX", "TANK")
  /** Formula shapes over an equipment's five raw tags; `{i}` is tag i. */
  private val Templates = Seq(
    "{0} + {1}", "({0} - {1}) * 0.5", "{0} * 2 + {1} / ({2} + 1)", "({0} + {1} + {2}) / 3",
    "{0} / ({1} + 1)", "{3} * {4} / 100", "({0} + {4}) * ({1} - {2})", "{2} - {3} / 4",
    "({1} + 1) / ({3} + 1)", "{0} + {1} + {2} + {3} + {4}")

  def salt(seed: Long): Long = Math.floorMod(seed, 1000003L)

  /** Mixed hash of (seed, attribute, minute), < 2^31. */
  def hash(seed: Long, a: Int, m: Int): Long = {
    val h = Math.floorMod((salt(seed) * 2654435761L + a * 40503L) * 31L + m * 2246822519L,
      4294967291L)
    Math.floorMod(h * 48271L, 2147483647L)
  }
  private def hashSql(seed: Long, a: String, m: String): String =
    s"pmod(pmod((${salt(seed)}L * 2654435761L + $a * 40503L) * 31L + $m * 2246822519L, " +
      "4294967291L) * 48271L, 2147483647L)"

  /** A point PI never delivered before the first ingest: ~0.5% of the
    * generated archive. Late batches fill them. */
  def gap(seed: Long, a: Int, m: Int): Boolean = (hash(seed, a, m) / 7) % 211 == 0
  private def gapSql(h: String) = s"pmod(div($h, 7), 211) = 0"

  /** The raw PI value string: mostly numeric, ~2% "true"/"false", ~2%
    * non-numeric (coerced to NULL). */
  def rawValue(seed: Long, a: Int, m: Int): String = {
    val h = hash(seed, a, m)
    (h % 53).toInt match {
      case 0 => "Bad Input"
      case 1 => if ((h / 53) % 2 == 0) "false" else "true"
      case _ => ((h % 100000).toDouble / 100.0).toString
    }
  }

  /** The archived (coerced) value of a raw point. */
  def value(seed: Long, a: Int, m: Int): Option[Double] = {
    val h = hash(seed, a, m)
    (h % 53).toInt match {
      case 0 => None
      case 1 => Some(((h / 53) % 2).toDouble)
      case _ => Some((h % 100000).toDouble / 100.0)
    }
  }
  private def valueSql(h: String): String =
    s"CASE pmod($h, 53) WHEN 0 THEN CAST(NULL AS DOUBLE) " +
      s"WHEN 1 THEN CAST(pmod(div($h, 53), 2) AS DOUBLE) " +
      s"ELSE CAST(pmod($h, 100000) AS DOUBLE) / 100.0 END"

  def at(m: Int): LocalDateTime = Epoch.plusMinutes(m.toLong)
  private val sqlTs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def sqlTime(m: Int): String = at(m).format(sqlTs)
  /** PI delivers UTC ISO-8601; ingest shifts it +7 h to plant time. */
  def piTime(m: Int): String = at(m).minusHours(7).format(sqlTs).replace(' ', 'T') + "Z"

  def layout(seed: Long): Plant = {
    val rnd = new scala.util.Random(seed)
    val elements = Seq.newBuilder[Elem]
    elements += Elem(0, 1, "Site", None)
    var nextId = 2
    val equipment = Seq.newBuilder[Int]
    for (u <- 1 to Units) {
      val uid = nextId; nextId += 1
      elements += Elem(1, uid, s"U$u", Some(1))
      rnd.shuffle(SystemKinds).take(SystemsPerUnit).foreach { sk =>
        val sid = nextId; nextId += 1
        val sname = s"U$u-$sk"
        elements += Elem(2, sid, sname, Some(uid))
        (1 to EquipmentPerSystem).foreach { k =>
          val eid = nextId; nextId += 1
          elements += Elem(3, eid, s"$sname-${EquipmentKinds(rnd.nextInt(EquipmentKinds.size))}$k",
            Some(sid))
          equipment += eid
        }
      }
    }
    val eq = equipment.result()
    val raw = eq.zipWithIndex.flatMap { case (eid, i) =>
      RawNames.zipWithIndex.map { case (n, j) =>
        Attr(eid, i * RawNames.size + j + 1, n, f"${eid}%03dKKS${rnd.nextInt(1000)}%03d", None)
      }
    }
    val rawOf = raw.groupBy(_.elementId)
    val derived = rnd.shuffle(eq).take(DerivedTags).zipWithIndex.map { case (eid, k) =>
      val refs = rawOf(eid).sortBy(_.id).map(_.id)
      val f = refs.indices.foldLeft(Templates(k))((s, i) => s.replace(s"{$i}", "$" + refs(i)))
      Attr(eid, raw.size + k + 1, s"CALC$k", s"CALC-$eid-$k", Some(f))
    }
    Plant(seed, elements.result(), raw ++ derived, Days, Days * 1440 - 180)
  }

  /** Expected archived value of attribute `a` at minute `m` given which
    * raw points are present; None when the archive has no row. */
  def expected(p: Plant, present: (Int, Int) => Boolean)(a: Attr, m: Int): Option[Option[Double]] =
    a.formula match {
      case None => if (present(a.id, m)) Some(value(p.seed, a.id, m)) else None
      case Some(f) =>
        val refs = Formula.refs(f)
        val vals = refs.map(r => if (present(r, m)) value(p.seed, r, m) else None)
        if (vals.forall(_.isDefined)) Some(Some(Formula.eval(f, refs.zip(vals.flatten).toMap)))
        else None
    }

  /** Write the catalog: dimension tables, then the archive for minutes
    * [0, frontier) minus gaps. Derived tags are generated from the same
    * value function through `Formula.compile`, with the trigger's NULL
    * gate (every source present and non-NULL), so generation is two
    * shuffle-free appends. */
  def write(spark: SparkSession, p: Plant, root: String, db: String): Catalog = {
    val c = new Catalog(spark, root, db)
    val elemRows = p.elements.map(e => Row(e.level, e.id, e.name, e.parent.map(Int.box).orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(elemRows, 1), Schemas.element)
      .write.parquet(s"$root/$db/element")
    val attrRows = p.attrs.map(a => Row(a.elementId, a.id, a.name, a.kks, a.formula.orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(attrRows, 1), Schemas.attribute)
      .write.parquet(s"$root/$db/attribute")
    val ts = s"CAST(TIMESTAMP_NTZ '${sqlTime(0)}' + make_dt_interval(0, 0, m, 0) AS TIMESTAMP_NTZ)"
    val h = hashSql(p.seed, "a", "m")
    val raw = spark.range(0L, p.raw.size.toLong * p.frontier, 1L, 8)
      .selectExpr(s"CAST(id DIV ${p.frontier} + 1 AS INT) AS a",
        s"CAST(id % ${p.frontier} AS INT) AS m")
      .selectExpr("a", "m", s"$h AS h")
      .filter(s"NOT (${gapSql("h")})")
      .selectExpr("a AS attribute_id", s"$ts AS timestamp", s"${valueSql("h")} AS value")
    c.appendArchive(raw)
    val minutes = spark.range(0L, p.frontier.toLong, 1L, 2).selectExpr("CAST(id AS INT) AS m")
    val derived = p.derived.map { d =>
      val f = d.formula.get
      val hashOf = (id: Int) => hashSql(p.seed, id.toString, "m")
      val allPresent = Formula.refs(f).map(id => s"NOT (${gapSql(hashOf(id))})").mkString(" AND ")
      minutes.filter(allPresent)
        .select(lit(d.id).as("attribute_id"), expr(ts).as("timestamp"),
          Formula.compile(f, id => expr(valueSql(hashOf(id)))).as("value"))
        .filter(col("value").isNotNull)
    }.reduce(_ union _)
    c.appendArchive(derived)
    c
  }
}
