package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheScope, SessionCaches, SparkEntry}
import graft.sources.Tables

/** `queries_warm` and `queries_cold`: oracle-checked registry queries
  * over the seeded fixture tables, in a seed-shuffled order, each
  * written to the noop sink. Whole passes over the list run until the
  * window has elapsed. The cold workload releases every session cache
  * before each query. */
final class QueryBench(a0: Args, cold: Boolean) extends Workload(a0) {
  val names: Seq[String] = if (cold) QueryBench.Cold else QueryBench.Warm
  val dir: String = a.data
  private val rng = new scala.util.Random(a.seed)
  /** Per module: build, plan and exec seconds and job counts per query. */
  private val byModule = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Array[Double]]]
  private val cacheSamples = mutable.ArrayBuffer.empty[(Double, Boolean, Double)]

  /** One op of the end-to-end metrics is a whole pass over the list. */
  def primary: String = "pass"

  def setup(rep: Int): Unit =
    Tables.names.foreach { t =>
      val df = if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)
      df.write.format("noop").mode("overwrite").save()
    }

  private def release(): Unit = trace.span("caches.release") {
    SessionCaches.releaseAll()
    CacheScope.drain()
  }

  /** Untimed passes: one in which every query writes its output for the
    * oracle compare, then [[WarmPasses]] warm-up passes to the noop sink. */
  def check(): Unit = {
    val t0 = System.nanoTime()
    val oracle = SparkEntry.oracleSql
    names.zipWithIndex.foreach { case (name, i) =>
      if (cold) release()
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        // a deliberately wrong output, for the benchmark's self-test only
        val out = if (a.injectWrong && i == 0) df.limit(0) else df
        out.write.mode("overwrite").parquet(s"${a.out}/check/$name")
      } catch { case e: Throwable =>
        checkFailures += s"$name: $e"
      } finally CacheScope.drain()
    }
    Json.write(s"${a.out}/check/oracle_sql.json", names.map(n => n -> oracle(n)).toMap)
    // with fewer warm-up passes the JIT is still compiling in the window,
    // and each pass of the window runs faster than the one before
    (1 to QueryBench.WarmPasses).foreach { _ =>
      rng.shuffle(names).foreach { name =>
        if (cold) release()
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        CacheScope.drain()
      }
    }
    extra("warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Whole passes only, so every run times the same multiset of
    * queries: another pass starts until the deadline has passed, so the
    * window lasts at least the requested seconds. */
  def measure(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      rng.shuffle(names).foreach(runOne)
      derived.getOrElseUpdate(primary, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    }

  private def runOne(name: String): Unit = {
    val module = QueryBench.moduleOf(name)
    if (cold) release()
    SessionCaches.consumeTouched()
    val fn: (SparkSession, String) => DataFrame = SparkEntry.queries(name)
    var buildS, writeS = 0.0
    record("query", name) {
      trace.span(s"$module.$name") {
        val (df, b) = Harness.time(trace.span(s"$module.build")(fn(spark, dir)))
        writeS = Harness.time(trace.span(s"$module.write") {
          df.write.format("noop").mode("overwrite").save()
        })._2
        buildS = b
      }
      true
    }
    val drained = CacheScope.drain()
    if (trace.enabled) {
      trace.drainBus()
      val planS = trace.plans.takeLastPlanSeconds()
      val jobs = trace.sparkCounters.takeJobs(s"$module.build") +
        trace.sparkCounters.takeJobs(s"$module.write")
      byModule.getOrElseUpdate(module, mutable.ArrayBuffer.empty) +=
        Array(buildS, planS, math.max(0.0, writeS - planS), jobs.toDouble)
      trace.count("cachescope.drained", drained)
      cacheSamples += ((SessionCaches.totalEntries.toDouble, SessionCaches.consumeTouched(),
        Harness.storageBytes(spark).toDouble))
    }
  }

  def layers(): Map[String, Double] = {
    val modules = byModule.flatMap { case (m, rows) =>
      Seq(s"$m.build_s" -> Harness.median(rows.map(_(0)).toSeq),
        s"$m.plan_s" -> Harness.median(rows.map(_(1)).toSeq),
        s"$m.exec_s" -> Harness.median(rows.map(_(2)).toSeq),
        s"$m.jobs" -> rows.map(_(3)).sum / rows.size)
    }
    val releases = trace.durations("caches.release")
    modules.toMap ++ Map(
      "caches.entries" -> cacheSamples.map(_._1).maxOption.getOrElse(0.0),
      "caches.touched_ratio" -> cacheSamples.count(_._2).toDouble / math.max(1, cacheSamples.size),
      "caches.storage_bytes" -> cacheSamples.map(_._3).maxOption.getOrElse(0.0),
      "caches.release_s" -> Harness.median(releases))
  }

  override def finish(): Unit =
    if (trace.enabled) trace.counters("cachescope.drained") /= math.max(1, ops.size)

  def info: Map[String, Any] = Map("queries" -> names,
    "input_bytes" -> Harness.dirBytes(dir),
    "storage_memory_bytes" -> Harness.storageMemory(spark))
}

object QueryBench {
  val WarmPasses = 3
  val Warm: Seq[String] = Seq("q1_agg", "q71_spearman", "p5_pca_project_norm",
    "t18_bigram_nll", "e6_funnel")
  val Cold: Seq[String] = Seq("g17_wcc", "d8_components")

  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "operators.Relational" -> graft.operators.Relational.queries,
    "operators.Stats" -> graft.operators.Stats.queries,
    "operators.PcaQueries" -> graft.operators.PcaQueries.queries,
    "operators.TextAnalysis" -> graft.operators.TextAnalysis.queries,
    "operators.Dedup" -> graft.operators.Dedup.queries,
    "operators.Graph" -> graft.operators.Graph.queries,
    "streaming.Funnel" -> graft.streaming.Funnel.queries)

  def moduleOf(name: String): String =
    modules.find(_._2.contains(name)).map(_._1).getOrElse("other")
}
