package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

import graft.SparkEntry

/** One-off diagnostic, outside the benchmark's runs: every cell of
  * `SparkEntry.queries` once under `.count()` and once materialized in
  * full with a no-op write, after an untimed warm-up run. Writes a
  * tab-separated table (cell, count_s, noop_s, noop/count) and prints
  * every cell whose no-op write takes more than 1.2× its count — the
  * cells that `graft.Bench`'s count under-measures.
  *
  * Usage: Diagnose <sfDir> <out.tsv> <cores> [cell,cell,...] */
object Diagnose {
  def main(args: Array[String]): Unit = {
    val Array(sf, outPath, cores) = args.take(3)
    val only = args.lift(3).map(_.split(",").toSet)
    val spark = Main.session(cores.toInt, new java.io.File(".").getAbsolutePath)
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_(n)))
    val rows = names.zipWithIndex.map { case (n, i) =>
      val q = SparkEntry.queries(n)
      val count = () => timed(q(spark, sf).count())
      val noop = () => timed(q(spark, sf).write.format("noop").mode("overwrite").save())
      val res = Try {
        count(); cleanup()
        // alternate which action runs first, so neither is always the warmer
        val (c, o) = if (i % 2 == 0) { val c = count(); cleanup(); (c, noop()) }
          else { val o = noop(); cleanup(); (count(), o) }
        cleanup()
        (c, o)
      }
      cleanup()
      val line = res.fold(e => s"$n\t\t\t\tfailed: ${e.getMessage}",
        { case (c, o) => f"$n\t$c%.3f\t$o%.3f\t${o / c}%.3f\t" })
      System.err.println(s"diagnose: $line")
      (n, res.toOption, line)
    }
    Files.writeString(Paths.get(outPath),
      ("cell\tcount_s\tnoop_s\tnoop_over_count\tnote" +: rows.map(_._3)).mkString("", "\n", "\n"))
    val over = rows.collect { case (n, Some((c, o)), _) if o > 1.2 * c => f"$n ${o / c}%.2fx" }
    println(s"cells over 1.2x under a no-op write: ${over.size} of ${names.size}")
    over.foreach(println)
    println(s"failed: ${rows.count(_._2.isEmpty)}")
    spark.stop()
  }
}
