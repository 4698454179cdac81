package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, pmod, sum}

import graft.sources.SnapshotTable

/** `snapshot_writes`: seeded batches committed to a SnapshotTable in
  * cycles of two appends and an upsert merge, each followed by a latest
  * read, plus an as-of read, compact and vacuum. Every read is checked
  * against the generator's own model of the table. */
final class SnapshotBench(a0: Args) extends Workload(a0) {
  val BatchRows = 4000
  val MergeRows = 1000
  val KeepVersions = 6
  val path = s"${a.out}/snapshot_table"

  private var rng: SplittableRandom = _
  /** The generator's model: live key -> value, and per version (rows, checksum). */
  private val live = mutable.LinkedHashMap.empty[Long, Long]
  private val history = mutable.Map.empty[Long, (Long, Long)]
  private var nextId = 0L
  private var commits = 0
  private var rowsCommitted = 0L
  private val written = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  /** One op of the end-to-end metrics is a whole cycle (see [[cycle]]). */
  def primary: String = "cycle"

  private def frame(rows: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, v) => (id, v, s"tag-${v % 97}") }.toDF("id", "v", "tag")
  }

  private def state: (Long, Long) =
    (live.size.toLong, live.iterator.map { case (id, v) => SnapshotBench.term(id, v) }.sum)

  private def fresh(n: Int): Seq[(Long, Long)] =
    (0 until n).map { _ => nextId += 1; (nextId, rng.nextLong(1000000L)) }

  def setup(rep: Int): Unit = {
    Harness.deleteTree(path)
    rng = new SplittableRandom(a.seed)
    live.clear(); history.clear(); nextId = 0L; commits = 0; rowsCommitted = 0L
    val base = fresh(BatchRows)
    live ++= base
    val v = SnapshotTable.writeSnapshot(frame(base), path)
    history(v) = state
    if (read(SnapshotTable.readSnapshot(spark, path)) != state)
      checkFailures += s"set-up read of version $v disagrees with the model"
  }

  /** (rows, checksum) of a snapshot, computed by Spark. */
  private def read(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(pmod(df("id") * SnapshotBench.Mul + df("v"),
      lit(SnapshotBench.Mod)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def commit(kind: String, rows: Seq[(Long, Long)])(write: DataFrame => Long): Unit = {
    val before = if (trace.enabled) filesAndBytes else (0, 0L)
    var v = -1L
    val df = frame(rows)
    record("commit", kind) {
      v = trace.span(s"SnapshotTable.$kind")(write(df))
      v > 0
    }
    // a deliberately wrong model, for the benchmark's self-test only
    val applied = if (a.injectWrong && commits == 0) rows.drop(1) else rows
    applied.foreach { case (id, x) => live(id) = x }
    history(v) = state
    rowsCommitted += rows.size
    commits += 1
    if (trace.enabled) {
      val after = filesAndBytes
      written += (((after._1 - before._1).toDouble, (after._2 - before._2).toDouble,
        rows.size.toDouble))
    }
  }

  private def filesAndBytes: (Int, Long) = {
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(path, "data"))
    try {
      val fs = st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
      (fs.size, fs.map(java.nio.file.Files.size).sum)
    } finally st.close()
  }

  private def readLatest(): Unit = record("read", "readSnapshot") {
    trace.span("SnapshotTable.read")(read(SnapshotTable.readSnapshot(spark, path))) == state
  }

  private def readAsOf(): Unit = {
    val times = SnapshotTable.versionTimes(spark, path)
    val (v, t) = times(rng.nextInt(times.size))
    // the newest version published at or before t is what AS OF t must return
    val expect = history(times.filter(_._2 <= t).map(_._1).max)
    record("read_asof", s"readSnapshotAsOf v$v") {
      trace.span("SnapshotTable.read_asof")(
        read(SnapshotTable.readSnapshotAsOf(spark, path, t))) == expect
    }
  }

  /** One cycle: two appends and an upsert merge, each followed by a
    * latest read, an as-of read, then compact and vacuum. */
  private def cycle(): Unit = {
    commit("append", fresh(BatchRows))(df => SnapshotTable.appendSnapshot(df, path))
    readLatest()
    commit("append", fresh(BatchRows))(df => SnapshotTable.appendSnapshot(df, path))
    readLatest()
    readAsOf()
    val existing = live.keysIterator.toIndexedSeq
    val upd = (0 until MergeRows / 2).map(_ => existing(rng.nextInt(existing.size))).distinct
      .map(id => (id, rng.nextLong(1000000L))) ++ fresh(MergeRows / 2)
    commit("merge", upd)(df => SnapshotTable.merge(df, path, Seq("id")))
    readLatest()
    record("compact", "compact") {
      val v = trace.span("SnapshotTable.compact")(SnapshotTable.compact(spark, path))
      history(v) = state
      v > 0
    }
    record("vacuum", "vacuum") {
      trace.span("SnapshotTable.vacuum")(
        SnapshotTable.vacuum(spark, path, KeepVersions, minAgeMs = 0L))
      true
    }
  }

  /** Untimed cycles after set-up, so the window starts past JIT warm-up. */
  def check(): Unit = {
    (1 to 2).foreach(_ => cycle())
    ops.filterNot(_.ok).foreach(o => checkFailures += s"untimed ${o.cls} ${o.name} failed")
    ops.clear(); written.clear(); rowsCommitted = 0L
  }

  def measure(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      cycle()
      derived.getOrElseUpdate(primary, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    }

  /** End of run: the latest state, every retained version by number
    * and AS OF its publication time, and a re-read from a fresh session. */
  override def finish(): Unit = {
    val latest = read(SnapshotTable.readSnapshot(spark, path))
    if (latest != state) checkFailures += s"final snapshot $latest != model $state"
    val times = SnapshotTable.versionTimes(spark, path)
    times.foreach { case (v, t) =>
      val got = read(SnapshotTable.readSnapshot(spark, path, v))
      if (got != history(v)) checkFailures += s"version $v reads $got != model ${history(v)}"
      val asOf = history(times.filter(_._2 <= t).map(_._1).max)
      val gotAsOf = read(SnapshotTable.readSnapshotAsOf(spark, path, t))
      if (gotAsOf != asOf) checkFailures += s"AS OF version $v reads $gotAsOf != model $asOf"
    }
    val files = SnapshotTable.readSnapshot(spark, path).inputFiles
    val liveBytes = files.map(f => java.nio.file.Files.size(
      java.nio.file.Paths.get(new java.net.URI(f)))).sum
    extra("rows_committed_per_s") = rowsCommitted / math.max(1e-9, windowS)
    extra("stored_bytes_per_row") = liveBytes.toDouble / math.max(1L, latest._1)
    liveFiles = files.length
    versions = times.map(_._1).max
    spark.stop()
    spark = Harness.session(a.cores)
    val reread = read(SnapshotTable.readSnapshot(spark, path))
    if (reread != state) checkFailures += s"fresh-session read $reread != model $state"
  }

  private var liveFiles = 0
  private var versions = 0L

  override def probes(): Map[String, Double] = {
    val (files, bytes, rows) = (written.map(_._1).sum, written.map(_._2).sum, written.map(_._3).sum)
    Map("SnapshotTable.versions" -> versions.toDouble,
      "SnapshotTable.live_files" -> liveFiles.toDouble,
      "SnapshotTable.bytes_written" -> bytes,
      "SnapshotTable.bytes_written_per_row" -> bytes / math.max(1.0, rows),
      "SnapshotTable.files_per_commit" -> files / math.max(1, written.size))
  }

  def layers(): Map[String, Double] =
    Seq("append", "merge", "compact", "vacuum", "read", "read_asof").map { n =>
      s"SnapshotTable.${n}_s" -> Harness.median(trace.durations(s"SnapshotTable.$n"))
    }.toMap

  def info: Map[String, Any] = Map(
    "batch_rows" -> BatchRows, "merge_rows" -> MergeRows,
    "commits" -> commits, "rows_committed" -> rowsCommitted,
    "table_bytes" -> Harness.dirBytes(path),
    "storage_memory_bytes" -> Harness.storageMemory(spark))
}

object SnapshotBench {
  val Mul = 1000003L
  val Mod = 1000000007L
  def term(id: Long, v: Long): Long = Math.floorMod(id * Mul + v, Mod)
}
