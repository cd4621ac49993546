package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** A workload: its inputs are generated `genReps` times (the last copy is
  * used), then one warm-up, then closed-loop steps. Each step records its
  * ops through [[Ctx.op]]. */
trait Workload {
  def genReps: Int = 3
  /** Fewest steps a run measures, so the per-slot minimum has repeats. */
  def minSteps: Int = 2
  def generate(rep: Int): Unit
  def warm(): Unit
  def step(i: Int): Unit
  /** Parquet files per archive date partition, for workloads that own one. */
  def filesPerDate(): Double = 0.0
}

/** Counts the per-layer report needs that spans cannot carry. */
final class Facts {
  val windowDays = mutable.Map[Int, Int]() // export span id → date partitions in its window
  var batches, rowsIn, rowsKept, bytesIn = 0L
  def batch(in: Long, kept: Long, bytes: Long): Unit = {
    batches += 1; rowsIn += in; rowsKept += kept; bytesIn += bytes
  }
}

/** Run-wide state shared by the workloads: the session, the span
  * recorder (plain, or a [[Tracer]] in the traced run), and the op log. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val data: String) {
  var spans: Spans = new Spans
  var facts = new Facts
  /** Latencies in ms by (kind, slot). A slot is one recurring op of the
    * workload: a position in the plant cycle, a cell. */
  val latencies = mutable.LinkedHashMap[(String, String), mutable.ArrayBuffer[Double]]()
  var attempted, failed = 0L

  /** Each slot's fastest repeat, for slots of `kind` (all when None):
    * robust to the bursts of CPU steal a shared host has. */
  def best(kind: Option[String]): Seq[Double] = latencies.collect {
    case ((k, _), v) if kind.forall(_ == k) && v.nonEmpty => v.min
  }.toSeq
  def all: Seq[Double] = latencies.values.flatten.toSeq

  /** Time one op. `body` runs the library calls and returns a checker,
    * which runs after the clock stops. A failed or wrong op is counted
    * and left out of the latencies. Ops with a negative id are warm-up:
    * checked and counted, never timed. */
  def op(kind: String, slot: String, id: Int)(body: => () => Boolean): Unit = {
    val t0 = System.nanoTime()
    val res = Try(spans(s"request.$kind", "request", id)(body)._1)
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = res.flatMap(chk => Try(chk())).fold({ e =>
      System.err.println(s"perfbench: $kind $id failed: $e"); e.printStackTrace(); false
    }, identity)
    if (!ok && res.isSuccess) System.err.println(s"perfbench: $kind $id returned a wrong result")
    attempted += 1
    if (!ok) failed += 1
    else if (id >= 0) latencies.getOrElseUpdate((kind, slot), mutable.ArrayBuffer()) += ms
  }

  def resetLog(): Unit = {
    latencies.clear()
    facts = new Facts
  }
}

object Ctx {
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** Ordered name → (value, unit) map, printed as the result's metrics. */
final class MetricSink {
  val values = mutable.LinkedHashMap[String, (Double, String)]()
  def apply(name: String, unit: String, v: Double): Unit =
    values(name) = (if (v.isNaN || v.isInfinite) 0.0 else v, unit)
  def json: String = values.map { case (k, (v, u)) =>
    s""""$k": {"value": $v, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}

object Main {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size.max(1)

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def session(cores: Int, work: String): SparkSession = {
    val local = s"$work/spark-local"
    new File(local).mkdirs()
    val s = graft.GraftSession.configure(SparkSession.builder(), cores)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work is required"))
    val data = arg(args, "--data").getOrElse("")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

    val spark = session(cores, work)
    val startS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, seed, work, data)
    val w: Workload = workload match {
      case "plant" => new PlantWorkload(ctx)
      case "cells" => new Cells(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val genS = (0 until w.genReps).map(rep => timed(w.generate(rep)))
    val warmS = timed(w.warm())
    // process start to the first timed op, with input generation at its
    // median over the repetitions
    val setupS = startS + median(genS) + warmS
    System.err.println(f"perfbench: start $startS%.2f s, generate ${genS.map(g => f"$g%.2f").mkString("/")} s, " +
      f"warm-up $warmS%.2f s")
    val out = new MetricSink
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetHeapPeak(): Unit = { System.gc(); heapPools.foreach(_.resetPeakUsage()) }
    def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    if (!trace) {
      ctx.resetLog()
      resetHeapPeak()
      val (wall, _) = loop(ctx, w, seconds, 0, w.minSteps)
      val slots = ctx.best(None)
      out("setup_s", "s", setupS)
      out("op_ms", "ms", mean(ctx.best(Some("op"))))
      out("aux_ms", "ms", mean(ctx.best(Some("aux"))))
      out("ops_per_s", "1/s", slots.size / (slots.sum / 1000.0))
      System.err.println(f"perfbench: ${ctx.all.size} ops in $wall%.1f s; " + ctx.latencies.map {
        case ((k, s), v) => s"$k/$s ${v.map(_.round).mkString(",")}" }.mkString("; "))
    } else {
      // untraced, traced, untraced thirds: the overhead compares the
      // traced third with the mean of the two around it, so JIT warming
      // during the run biases neither side
      val tracer = new Tracer(spark)
      def third(from: Int): (Seq[Double], Int) = {
        ctx.resetLog()
        val (_, n) = loop(ctx, w, seconds / 3, from, 1)
        (ctx.all, from + n)
      }
      val (plainA, s1) = third(0)
      ctx.spans = tracer
      val gc0 = gcMs()
      resetHeapPeak()
      tracer.attach()
      val (traced, s2) = third(s1)
      tracer.detach()
      val gc = gcMs() - gc0
      val heapMb = heapPeakMb
      val facts = ctx.facts
      ctx.spans = new Spans
      val (plainB, _) = third(s2)
      Layers.report(out, tracer, facts, w, cores, gc)
      // the reconciliation is a check: job time outside its span, or in
      // no span, past 5% of the wall means the layer split is not sound
      ctx.attempted += 1
      if (out.values("trace.reconcile_err_frac")._1 > 0.05) {
        System.err.println("perfbench: spans do not reconcile with their jobs")
        ctx.failed += 1
      }
      tracer.writeSpans(s"$work/spans.jsonl", workload)
      out("jvm.heap_peak_mb", "MB", heapMb)
      out("trace.overhead_frac", "frac", mean(traced) / ((mean(plainA) + mean(plainB)) / 2) - 1.0)
      System.err.println(s"perfbench: traced ${s2 - s1} steps")
    }
    spark.stop()
    val res = s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": ${out.json}}"""
    println(res)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Closed loop: run steps until `seconds` of wall time have passed
    * and at least `minSteps` steps have run. */
  def loop(ctx: Ctx, w: Workload, seconds: Double, from: Int, minSteps: Int): (Double, Int) = {
    val t0 = System.nanoTime()
    var i = from
    while ((System.nanoTime() - t0) / 1e9 < seconds || i - from < minSteps) { w.step(i); i += 1 }
    ((System.nanoTime() - t0) / 1e9, i - from)
  }
}
