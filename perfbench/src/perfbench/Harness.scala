package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Command-line arguments of the harness JVM. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, out: String, cores: Int,
    injectWrong: Boolean, pcaRows: Int, pcaCols: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("out"),
      m.getOrElse("cores", "4").toInt, m.getOrElse("inject-wrong", "0") == "1",
      m.getOrElse("pca-rows", "20000").toInt, m.getOrElse("pca-cols", "256").toInt)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(Locale.ROOT, "%.9g", Double.box(v))
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), (render(v) + "\n").getBytes(StandardCharsets.UTF_8))
}

/** Spark work counted per label. The label is the `perfbench.span`
  * local property of the submitting thread, i.e. the innermost traced
  * span, so jobs, stages and tasks are attributed where they ran. */
final class SparkCounters extends SparkListener {
  final class C {
    var jobs, stages, tasks = 0L
    var taskNs, cpuNs, gcMs, shufR, shufW, spill, input, result = 0L
    def +=(o: C): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
      cpuNs += o.cpuNs; gcMs += o.gcMs; shufR += o.shufR; shufW += o.shufW
      spill += o.spill; input += o.input; result += o.result
    }
  }
  private val byLabel = new ConcurrentHashMap[String, C]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private def c(label: String): C = byLabel.computeIfAbsent(label, _ => new C)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val label = Option(js.properties).flatMap(p =>
      Option(p.getProperty(SparkCounters.Prop))).getOrElse("-")
    js.stageIds.foreach(s => stageLabel.put(s, label))
    c(label).synchronized(c(label).jobs += 1)
  }
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val l = c(stageLabel.getOrDefault(sc.stageInfo.stageId, "-"))
    l.synchronized(l.stages += 1)
  }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val l = c(stageLabel.getOrDefault(te.stageId, "-"))
    val m = te.taskMetrics
    l.synchronized {
      l.tasks += 1
      if (m != null) {
        l.taskNs += m.executorRunTime * 1000000L
        l.cpuNs += m.executorCpuTime
        l.gcMs += m.jvmGCTime
        l.shufR += m.shuffleReadMetrics.totalBytesRead
        l.shufW += m.shuffleWriteMetrics.bytesWritten
        l.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        l.input += m.inputMetrics.bytesRead
        l.result += m.resultSize
      }
    }
  }

  /** Sum over labels accepted by `p`. */
  def total(p: String => Boolean = _ => true): C = {
    val t = new C
    byLabel.asScala.foreach { case (k, v) => if (p(k)) v.synchronized(t += v) }
    t
  }
  def reset(): Unit = { byLabel.clear(); stageLabel.clear(); seen.clear() }

  private val seen = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Jobs under `label` since the previous call for the same label. */
  def takeJobs(label: String): Long = {
    val now = Option(byLabel.get(label)).map(c => c.synchronized(c.jobs)).getOrElse(0L)
    val d = now - seen(label)
    seen(label) = now
    d
  }
}

object SparkCounters { val Prop = "perfbench.span" }

/** Planning time of each successful action: the analysis, optimization
  * and planning phases of its QueryExecution (the session's
  * GraftExtensions rules run inside them). Events arrive on the
  * listener bus in submission order, so after a drain the last one is
  * the action the client thread ran last. */
final class PlanListener extends QueryExecutionListener {
  @volatile private var lastPlanNs = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    lastPlanNs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum * 1000000L
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def takeLastPlanSeconds(): Double = { val v = lastPlanNs; lastPlanNs = 0L; v / 1e9 }
}

/** One traced call: times are nanoseconds since the trace began; spans
  * of one op share `op`, and `parent` is the enclosing span (0 = none). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** Spans at the layer boundaries the benchmark calls into, plus counts
  * at the same boundaries. Kept in memory, written when the run ends.
  * With tracing off every method is a pass-through. */
final class Trace(val enabled: Boolean, spark: () => SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val sparkCounters = new SparkCounters
  val plans = new PlanListener
  private var nextId = 1
  private var stack = List(0)
  private var op = 0
  private val origin = System.nanoTime()

  def attach(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.addSparkListener(sparkCounters)
    s.listenerManager.register(plans)
  }

  /** Start a new op: spans recorded inside share its id. */
  def nextOp(): Unit = op += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      val sc = spark().sparkContext
      val prev = sc.getLocalProperty(SparkCounters.Prop)
      sc.setLocalProperty(SparkCounters.Prop, name)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SparkCounters.Prop, prev)
        spans += Span(id, parent, op, name, t0 - origin, t1 - origin)
      }
    }

  def count(name: String, v: Double): Unit = if (enabled) counters(name) += v

  /** Durations in seconds of every span named `name`. */
  def durations(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def drainBus(): Unit = if (enabled) BenchBus.drain(spark().sparkContext)

  def write(path: String): Unit = if (enabled)
    Json.write(path, spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

/** One timed operation of the closed loop. */
final case class Op(cls: String, name: String, seconds: Double, ok: Boolean)

/** JVM-level counters: collector time and peak heap occupancy. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Restarts the count of [[peakRssMb]] from the current resident set
    * (Linux: writing 5 to clear_refs resets VmHWM). */
  def resetRssPeak(): Unit = {
    val out = new java.io.FileOutputStream("/proc/self/clear_refs")
    try out.write('5') finally out.close()
  }
  /** Peak resident set size of this process since the last
    * [[resetRssPeak]] (Linux VmHWM). */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

object Harness {
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Bytes the block manager holds for persisted data (memory + disk). */
  def storageBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Storage memory the block managers offer, in bytes. */
  def storageMemory(s: SparkSession): Long =
    s.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
  }
}
