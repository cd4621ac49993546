package perfbench

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

final case class Cell(name: String, family: String, iterative: Boolean)

/** `cells`: query cells of `SparkEntry.queries`, each materialized in
  * full with a no-op write, one pass over all of them per step in a
  * seeded order. The fixture is the sf0.01 TPC-H-style table set that
  * ships in `perfbench/data`. Iterative cells (time in job count, driver gaps and
  * checkpoints) are the aux ops; kernel cells (time in shuffle and task
  * compute) are the ops. The warm-up writes every cell's full result as
  * parquet once, which warms codegen and the JIT and gives the output
  * that the runner checks against the DuckDB twins' digests. */
final class Cells(ctx: Ctx) extends Workload {
  override def genReps: Int = 0 // the fixture ships with the benchmark
  override def minSteps: Int = 3
  def generate(rep: Int): Unit = ()
  private val order = new scala.util.Random(ctx.seed).shuffle(Cells.list)

  def warm(): Unit = order.foreach { c =>
    ctx.op(if (c.iterative) "aux" else "op", c.name, -1) {
      try SparkEntry.queries(c.name)(ctx.spark, ctx.data).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.work}/cells_out/${c.name}")
      finally cleanup()
      () => true
    }
  }

  def step(i: Int): Unit = order.foreach { c =>
    ctx.op(if (c.iterative) "aux" else "op", c.name, i) {
      ctx.spans(s"cells.${c.name}", "cells", i) {
        noop(SparkEntry.queries(c.name)(ctx.spark, ctx.data))
      }
      () => true
    }
    cleanup()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drop what a cell cached or checkpointed, as `graft.Bench` does
    * between cells, so cells are independent measurements. */
  private var before: Set[Int] = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def cleanup(): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(false)
    }
    before = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet
  }
}

object Cells {
  val list: Seq[Cell] = Seq(
    Cell("d_cluster", "dedup", iterative = true),
    Cell("g_lpa_w", "graph", iterative = true),
    Cell("pipe_negatives", "pipe", iterative = false),
    Cell("t_ngram_topk", "text", iterative = false),
    Cell("m_phash_pairs", "multimodal", iterative = false),
    Cell("er_score", "er", iterative = false),
    Cell("j2_export_join", "relational", iterative = false))
}
