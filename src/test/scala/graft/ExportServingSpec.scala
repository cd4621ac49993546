package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.api.GraftApi

/** Serving-layer halves of the export surface: the chunked CSV stream
  * (S8, reference `routes.py:74-96`) and the export retention sweep
  * (S10 + F12, reference `web_app.py:207-222`).
  */
class ExportServingSpec extends SparkSpec {

  private def api() = new GraftApi(spark, Files.createTempDirectory("graft_srv").toString)

  private def fixtureFrame() = {
    val sess = spark
    import sess.implicits._
    // every CSV-hostile shape: separator and quote inside a field, a
    // NULL, a negative double, a timestamp — rendered identically by
    // the file sink and the streaming path or the test fails on bytes
    Seq(
      (1L, "plain", Option(1.5), java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "comma, and \"quotes\"", None, java.sql.Timestamp.valueOf("2024-06-15 13:45:30")),
      (3L, "", Option(-2.25), java.sql.Timestamp.valueOf("2024-12-31 23:59:59"))
    ).toDF("id", "label", "score", "ts").coalesce(1)
  }

  test("S8: streamExportCsv survives dotted column names (no nested-field parse)") {
    val a = api()
    val df = fixtureFrame().withColumnRenamed("score", "unit.1|score")
    val lines = a.streamExportCsv(df).toList
    assert(lines.head === "id,label,unit.1|score,ts")
    assert(lines.size === 4)
  }

  test("S8: streamExportCsv is byte-identical to the writeExport file sink") {
    val a = api()
    val df = fixtureFrame()
    val out = Files.createTempDirectory("graft_exp").toString
    val dir = a.writeExport(df, out, "pi_data_s8", "csv")
    val part = Files.list(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val fileLines = Files.readAllLines(part).asScala.toList
    val streamed = a.streamExportCsv(df).toList
    assert(streamed === fileLines)
  }

  test("JSONL export: one parseable object per line, round-trips through a JSON read") {
    val a = api()
    val df = fixtureFrame()
    val out = Files.createTempDirectory("graft_jsonl").toString
    val dir = a.writeExport(df, out, "train_docs", "jsonl")
    assert(dir.endsWith("train_docs.jsonl"))
    val part = Files.list(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val lines = Files.readAllLines(part).asScala.toList
    assert(lines.size === 3)
    // every line is a self-contained JSON object with escaped quotes
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    assert(lines.exists(_.contains("comma, and \\\"quotes\\\"")))
    // round-trip: Spark's own JSON reader recovers the rows (the NULL
    // field is absent from its line, not "null"-stringed)
    val back = spark.read.json(dir)
    assert(back.count() === 3)
    assert(back.filter(back("id") === 2L).select("score").head.isNullAt(0))
    val labels = back.select("label").collect().map(_.getString(0)).toSet
    assert(labels === Set("plain", "comma, and \"quotes\"", ""))
  }

  test("S8: CSV-hostile COLUMN NAMES are escaped identically by stream and file sink") {
    val a = api()
    // a comma and a quote in the header line itself — the stream renders
    // the header through the same univocity formatter as the file sink
    val df = fixtureFrame().withColumnRenamed("label", "name, \"quoted\"")
    val out = Files.createTempDirectory("graft_exp").toString
    val dir = a.writeExport(df, out, "pi_data_s8h", "csv")
    val part = Files.list(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val fileLines = Files.readAllLines(part).asScala.toList
    val streamed = a.streamExportCsv(df).toList
    assert(streamed.head === fileLines.head)
    assert(streamed === fileLines)
  }

  test("S8: the stream is a lazy iterator — header costs zero Spark jobs") {
    val a = api()
    val ((it, header), jobs) = jobsDuring {
      val it = a.streamExportCsv(fixtureFrame())
      (it, it.next())
    }
    assert(header === "id,label,score,ts")
    assert(jobs.isEmpty, "header consumption must not execute the frame")
    assert(it.size === 3) // rows only arrive as the consumer advances
  }

  test("S10/F12: cleanupExports deletes only pi_data_* artifacts past the cutoff") {
    val a = api()
    val out = Files.createTempDirectory("graft_ret")
    val now = 1700000000000L
    val old = 26L * 3600 * 1000 // 26h ago: past the 24h cutoff
    val young = 2L * 3600 * 1000
    def mk(name: String, ageMillis: Long, asDir: Boolean) = {
      val p = out.resolve(name)
      if (asDir) { Files.createDirectory(p); Files.createFile(p.resolve("part-0.csv")) }
      else Files.createFile(p)
      p.toFile.setLastModified(now - ageMillis)
      p
    }
    val oldDir = mk("pi_data_old.csv", old, asDir = true) // writeExport shape
    val oldFile = mk("pi_data_old2.parquet", old, asDir = false)
    val youngDir = mk("pi_data_new.csv", young, asDir = true)
    val unrelated = mk("keep.txt", old, asDir = false)

    assert(a.cleanupExports(out.toString, maxAgeHours = 24, nowMillis = now) === 2)
    assert(!Files.exists(oldDir) && !Files.exists(oldFile))
    assert(Files.exists(youngDir) && Files.exists(unrelated))
    // idempotent: nothing left past the cutoff
    assert(a.cleanupExports(out.toString, maxAgeHours = 24, nowMillis = now) === 0)
    // missing directory is a no-op, not an error
    assert(a.cleanupExports(out.resolve("absent").toString) === 0)
  }
}
