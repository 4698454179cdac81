package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import breeze.linalg.{qr, DenseMatrix => BDM}
import org.apache.spark.ml.feature.{PCA => MllibPCA}
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.ml.{Cov, Eigen}
import graft.ml.feature.{GraftPCA, GraftPCAModel}

/** `pca`: GraftPCA.fit then GraftPCAModel.transform to the noop sink,
  * alternating, over a seeded dense matrix with a planted decaying
  * spectrum that set-up writes to parquet. One op is a fit followed by
  * the transform of the model it produced. */
final class PcaBench(a0: Args) extends Workload(a0) {
  val K = 16
  val AbsTol = 1e-5
  val m: Int = a.pcaRows
  val n: Int = a.pcaCols
  val path = s"${a.out}/pca_input.parquet"
  var input: DataFrame = _
  /** Explained variance of Spark MLlib's PCA on the same input. */
  var refVariance: Array[Double] = _

  def primary: String = "fit_transform"

  def setup(rep: Int): Unit = {
    PcaBench.generate(spark, a.seed, m, n, a.cores).write.mode("overwrite").parquet(path)
    input = spark.read.parquet(path)
    val model = fit()
    model.transform(input).write.format("noop").mode("overwrite").save()
  }

  def fit(): GraftPCAModel =
    new GraftPCA().setInputCol("features").setOutputCol("pca").setK(K).fit(input)

  def check(): Unit = {
    val ref = new MllibPCA().setInputCol("features").setOutputCol("ref").setK(K).fit(input)
    val g = fit()
    refVariance = ref.explainedVariance.toArray
    val variance = g.explainedVariance.toArray.clone()
    if (a.injectWrong) variance(0) += 1e-3
    def canon(pc: org.apache.spark.ml.linalg.DenseMatrix): BDM[Double] =
      Eigen.signFlip(new BDM(pc.numRows, pc.numCols, pc.toArray.clone()))
    val (gc, rc) = (canon(g.pc), canon(ref.pc))
    val maxPcDiff = (0 until n * K).map(i => math.abs(gc.data(i) - rc.data(i))).max
    val maxVarDiff = variance.zip(refVariance).map { case (x, y) => math.abs(x - y) }.max
    // projected rows: align each component's sign with the reference
    val sign = (0 until K).map { j =>
      val d = (0 until n).map(i => g.pc(i, j) * ref.pc(i, j)).sum
      if (d < 0) -1.0 else 1.0
    }
    val sample = input.limit(256)
    val got = g.transform(sample).select("pca").collect().map(_.getAs[Vector](0))
    val exp = ref.transform(sample).select("ref").collect().map(_.getAs[Vector](0))
    val maxRowDiff = got.zip(exp).map { case (x, y) =>
      (0 until K).map(j => math.abs(x(j) - sign(j) * y(j))).max
    }.max
    Seq("explained variance" -> maxVarDiff, "components" -> maxPcDiff,
      "projected rows" -> maxRowDiff).foreach { case (what, d) =>
      if (!(d <= AbsTol)) checkFailures += f"pca $what differ from Spark MLlib by $d%.3e"
    }
    // untimed pairs, so the window starts past JIT warm-up
    (1 to 4).foreach(_ => fit().transform(input).write.format("noop").mode("overwrite").save())
  }

  def measure(deadlineNs: Long): Unit = {
    while (System.nanoTime() < deadlineNs) {
      var model: GraftPCAModel = null
      val t0 = System.nanoTime()
      val fitOk = record("fit", "GraftPCA.fit") {
        model = trace.span("ml.GraftPCA.fit")(fit())
        model.explainedVariance.toArray.zip(refVariance)
          .forall { case (x, y) => math.abs(x - y) <= AbsTol }
      }
      val okT = fitOk && record("transform", "GraftPCAModel.transform") {
        trace.span("ml.GraftPCAModel.transform") {
          model.transform(input).write.format("noop").mode("overwrite").save()
        }
        true
      }
      if (okT) derived.getOrElseUpdate(primary, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
    }
  }

  override def probes(): Map[String, Double] = {
    trace.sparkCounters.reset()
    (1 to 5).foreach { _ =>
      val rows = Cov.vectorRdd(input, "features")
      val width = rows.first().size
      val stats = trace.span("ml.Cov.stats")(Cov.stats(rows, width, useGemm = true))
      trace.span("ml.Eigen.pca")(Eigen.pca(stats.covariance, K))
    }
    trace.drainBus()
    val statsS = Harness.median(trace.durations("ml.Cov.stats"))
    val eigenS = Harness.median(trace.durations("ml.Eigen.pca"))
    val fitS = Harness.median(trace.durations("ml.GraftPCA.fit"))
    val statsCalls = trace.durations("ml.Cov.stats").size
    Map("ml.Cov.stats_s" -> statsS,
      "ml.Cov.gflops" -> 2.0 * m * n.toDouble * n / statsS / 1e9,
      "ml.Cov.result_bytes" ->
        trace.sparkCounters.total(_ == "ml.Cov.stats").result.toDouble / statsCalls,
      "ml.Eigen.pca_s" -> eigenS,
      "ml.GraftPCA.fit_s" -> fitS,
      "ml.GraftPCA.fit_other_s" -> (fitS - statsS - eigenS))
  }

  def layers(): Map[String, Double] = {
    val transformS = Harness.median(trace.durations("ml.GraftPCAModel.transform"))
    Map("ml.GraftPCAModel.transform_s" -> transformS,
      "ml.GraftPCAModel.rows_per_s" -> m / transformS)
  }

  def info: Map[String, Any] = Map(
    "rows" -> m, "width" -> n, "k" -> K,
    "input_bytes" -> Harness.dirBytes(path),
    "dense_bytes" -> m.toLong * n * 8,
    "storage_memory_bytes" -> Harness.storageMemory(spark))
}

object PcaBench {
  /** Rows x = mu + Q (s ⊙ z), z ~ N(0, I): Q a seeded random orthogonal
    * basis, s a decaying spectrum, so the top components are well
    * separated and the covariance eigenvalues are s². */
  def generate(spark: SparkSession, seed: Long, m: Int, n: Int, parts: Int): DataFrame = {
    val rng = new SplittableRandom(seed)
    val g = BDM.tabulate(n, n)((_, _) => gaussian(rng))
    val q = qr(g).q.toArray
    val s = Array.tabulate(n)(j => 3.0 * math.pow(0.8, j) + 0.05)
    val mu = Array.fill(n)(2.0 * gaussian(rng))
    val rows = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val r = new SplittableRandom(seed * 1000003L + p)
      val lo = (m.toLong * p / parts).toInt
      val hi = (m.toLong * (p + 1) / parts).toInt
      Iterator.range(lo, hi).map { _ =>
        val z = Array.tabulate(n)(j => s(j) * gaussian(r))
        val x = mu.clone()
        var j = 0
        while (j < n) {
          val zj = z(j); val off = j * n; var i = 0
          while (i < n) { x(i) += q(off + i) * zj; i += 1 }
          j += 1
        }
        Row(Vectors.dense(x))
      }
    }
    spark.createDataFrame(rows,
      StructType(Seq(StructField("features", SQLDataTypes.VectorType, nullable = false))))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller on the splittable generator (deterministic per seed)
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}
