package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{CacheScope, SessionCaches}

/** One benchmark workload: set-up, an untimed correctness pass, a
  * closed loop driven by one client thread, and the layer figures of
  * the traced run. */
abstract class Workload(val a: Args) {
  /** Set-up repetitions; `setup_s` is their median. */
  val SetupReps = 3

  var spark: SparkSession = _
  val trace = new Trace(a.trace, () => spark)
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Failures found outside the timed ops (set-up and end-of-run checks). */
  val checkFailures = mutable.ArrayBuffer.empty[String]
  /** Figures printed beside the end-to-end metrics (workload specific). */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  /** Latency samples of composite ops (not counted again as attempts). */
  val derived = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Length of the measurement window, set when it closes. */
  var windowS = 0.0

  /** Name of the op class the end-to-end latency metrics are taken from. */
  def primary: String
  /** Prepares the workload's inputs in the fresh session `spark`. */
  def setup(rep: Int): Unit
  /** Untimed correctness pass after set-up. */
  def check(): Unit
  /** Runs the closed loop until `deadlineNs`. */
  def measure(deadlineNs: Long): Unit
  /** End-of-run checks and traced-only probes, after the window. */
  def finish(): Unit = ()
  /** The workload's own per-layer figures of the traced run, taken
    * when the window has closed. */
  def layers(): Map[String, Double]
  def info: Map[String, Any]

  /** Number of completed primary ops in the window. */
  def primaryCount: Int = derived.get(primary).map(_.size).getOrElse(ops.count(_.cls == primary))

  def record(cls: String, name: String)(body: => Boolean): Boolean = {
    trace.nextOp()
    val t0 = System.nanoTime()
    val ok =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $cls $name failed: $e")
        false
      }
    ops += Op(cls, name, (System.nanoTime() - t0) / 1e9, ok)
    ok
  }

  private val born = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.2fs $what")

  def run(): Map[String, Any] = {
    val setupS = (1 to SetupReps).map { rep =>
      if (spark != null) {
        SessionCaches.releaseAll(); CacheScope.drain(); spark.stop()
      }
      Harness.time { spark = Harness.session(a.cores); setup(rep) }._2
    }
    phase("set-up done")
    trace.attach(spark)
    check()
    phase("check done")
    trace.drainBus()
    trace.sparkCounters.reset()
    Jvm.resetHeapPeak()
    Jvm.resetRssPeak()
    val gc0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    measure(t0 + (a.seconds * 1e9).toLong)
    windowS = (System.nanoTime() - t0) / 1e9
    val gcS = Jvm.gcSeconds - gc0
    val heapPeak = Jvm.heapPeakMb
    val rssPeak = Jvm.peakRssMb
    trace.drainBus()
    val layerFigures =
      if (a.trace) sparkLayer() ++ layers() ++ Map("jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapPeak)
      else Map.empty[String, Double]
    phase("window done")
    finish()
    val probeFigures = if (a.trace) probes() else Map.empty[String, Double]
    trace.write(s"${a.out}/spans.json")
    val res = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "trace" -> a.trace, "primary" -> primary,
      "setup_s" -> setupS, "measure_s" -> windowS,
      "ops" -> ops.map(o => Map("cls" -> o.cls, "name" -> o.name, "s" -> o.seconds, "ok" -> o.ok)),
      "derived" -> derived, "check_failures" -> checkFailures, "extra" -> extra,
      "layers" -> (layerFigures ++ probeFigures ++ trace.counters),
      "info" -> info, "peak_rss_mb" -> rssPeak)
    SessionCaches.releaseAll()
    CacheScope.drain()
    spark.stop()
    phase("stopped")
    res
  }

  /** Per-op means of the window's Spark counters, and the share of the
    * cores' time the window kept busy with tasks. */
  private def sparkLayer(): Map[String, Double] = {
    val c = trace.sparkCounters.total()
    val n = math.max(1, primaryCount).toDouble
    Map(
      "spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n, "spark.task_s" -> c.taskNs / 1e9 / n,
      "spark.task_cpu_s" -> c.cpuNs / 1e9 / n, "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.shuffle_read_bytes" -> c.shufR / n,
      "spark.shuffle_write_bytes" -> c.shufW / n,
      "spark.spill_bytes" -> c.spill / n, "spark.input_bytes" -> c.input / n,
      "spark.result_bytes" -> c.result / n,
      "spark.core_busy_ratio" -> c.taskNs / 1e9 / (windowS * a.cores))
  }

  /** Traced-only layer probes run after the window (none by default). */
  def probes(): Map[String, Double] = Map.empty
}

object Main {
  def workload(a: Args): Workload = a.workload match {
    case "pca" => new PcaBench(a)
    case "queries_warm" => new QueryBench(a, cold = false)
    case "queries_cold" => new QueryBench(a, cold = true)
    case "snapshot_writes" => new SnapshotBench(a)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.out))
    Json.write(s"${a.out}/result.json", workload(a).run())
  }
}
