package graft.ml.feature

import dev.ludovic.netlib.blas.BLAS
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector, SQLDataTypes}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, UnsafeArrayData}
import org.apache.spark.sql.graftshim.StreamingShim
import org.apache.spark.sql.types.{ArrayType, DoubleType, Metadata, StructField, StructType}

import graft.ml.{Cov, Eigen}

/** Principal Component Analysis, API-compatible with the reference's
  * `com.nvidia.spark.ml.feature.PCA` (reference: PCA.scala:27-37,
  * RapidsPCA.scala:30-210): same params (`k`, `inputCol`, `outputCol`,
  * `meanCentering`, plus the GPU algorithm-selection switches `useGemm`,
  * `useCuSolverSVD`, `gpuId` kept as compat params: inert on JVM, still
  * settable and persisted), same fit/transform/persistence protocol,
  * deterministic canonical-sign eigenvectors. Fit and transform both
  * run blocked GEMM, the reference's default path.
  *
  * Differences from stock Spark ML PCA, matching the reference:
  *  - `meanCentering=false` computes components of the uncentered second
  *    moment (reference: RapidsRowMatrix.scala:163-165);
  *  - eigenvector signs are canonical (largest-|entry| positive,
  *    reference: rapidsml_jni.cu:37-64), so results are reproducible;
  *  - `array<numeric>` input columns are accepted alongside `VectorUDT`
  *    (the fixture embeddings are `array<float>`);
  *  - the feature width comes from the Gram pass itself, not from a
  *    separate `first()` probe job (reference: RapidsPCA.scala:117).
  */
trait GraftPCAParams extends Params {
  final val k = new IntParam(this, "k", "number of principal components (> 0)",
    ParamValidators.gtEq(1))
  final val inputCol = new Param[String](this, "inputCol", "input column name")
  final val outputCol = new Param[String](this, "outputCol", "output column name")
  final val meanCentering = new BooleanParam(this, "meanCentering",
    "center columns before computing covariance (reference RapidsPCA.scala:36-45)")
  final val useGemm = new BooleanParam(this, "useGemm",
    "compat: inert on JVM, fit and transform always run blocked GEMM " +
      "(reference RapidsPCA.scala:47-52)")
  final val useCuSolverSVD = new BooleanParam(this, "useCuSolverSVD",
    "compat: inert on JVM (reference RapidsPCA.scala:54-59)")
  final val gpuId = new IntParam(this, "gpuId",
    "compat: inert on JVM (reference RapidsPCA.scala:61-68)")

  setDefault(meanCentering -> true, useGemm -> true, useCuSolverSVD -> false,
    gpuId -> -1)

  def getK: Int = $(k)
  def getInputCol: String = $(inputCol)
  def getOutputCol: String = $(outputCol)
  def getMeanCentering: Boolean = $(meanCentering)

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"input column '${$(inputCol)}' not in ${schema.fieldNames.mkString(",")}")
    val outType = schema($(inputCol)).dataType match {
      case t if t == SQLDataTypes.VectorType => SQLDataTypes.VectorType
      case _: ArrayType => ArrayType(DoubleType, containsNull = false)
      case other => throw new IllegalArgumentException(
        s"input column '${$(inputCol)}' must be VectorUDT or array<numeric>, got $other")
    }
    require(!schema.fieldNames.contains($(outputCol)),
      s"output column '${$(outputCol)}' already exists")
    // stamp size-k ML attribute-group metadata so downstream stages
    // (assemblers, models) read the output width without a data pass
    // (reference: RapidsPCA.scala:193-200 via updateAttributeGroupSize)
    val meta = if (isSet(k)) new AttributeGroup($(outputCol), $(k)).toMetadata()
               else Metadata.empty
    StructType(schema.fields :+
      StructField($(outputCol), outType, nullable = false, meta))
  }
}

class GraftPCA(override val uid: String) extends Estimator[GraftPCAModel]
    with GraftPCAParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftPca"))

  def setK(value: Int): this.type = set(k, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)
  def setMeanCentering(value: Boolean): this.type = set(meanCentering, value)
  def setUseGemm(value: Boolean): this.type = set(useGemm, value)
  def setUseCuSolverSVD(value: Boolean): this.type = set(useCuSolverSVD, value)
  def setGpuId(value: Int): this.type = set(gpuId, value)

  /** Fit: one distributed pass (count+mean+Gram, Cov.scala), then
    * driver-local eigen post-processing (Eigen.scala). Mirrors the
    * reference lifecycle (RapidsPCA.scala:111-125).
    *
    * Past the reference's [[Cov.MaxCols]] ceiling — where the exact
    * route would need an n×n covariance the reference fails fast on
    * (RapidsRowMatrix.scala:66-68) — fit auto-selects the randomized
    * sketch ([[graft.ml.Rsvd]]): same output contract, O(n·(k+10))
    * memory instead of O(n²), so this engine accepts widths the
    * reference documents as unsupported. */
  override def fit(dataset: Dataset[_]): GraftPCAModel = {
    transformSchema(dataset.schema, logging = true)
    val df = dataset.toDF()
    // the Gram pass reports the width itself, so the exact route is one
    // Spark job; a width past MaxCols comes back after one row per
    // partition and routes to the sketch
    val p = Cov.pass(df, $(inputCol))
    require(p.n > 0, "empty input")
    require($(k) <= p.n, s"k=${$(k)} must be <= numFeatures=${p.n}")
    val res =
      if (p.n > Cov.MaxCols) {
        // the sketch makes powerIters+2 passes: cache the extracted
        // vectors so each pass rereads storage instead of re-running
        // the upstream query's whole lineage
        val rows = Cov.vectorRdd(df, $(inputCol))
        rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try graft.ml.Rsvd.pca(rows, p.n, $(k), $(meanCentering))
        finally { rows.unpersist(blocking = false); () }
      } else {
        val stats = Cov.stats(p)
        val matrix =
          if ($(meanCentering)) stats.covariance else stats.gramNormalized
        Eigen.pca(matrix, $(k))
      }
    copyValues(new GraftPCAModel(uid, res.pc, res.explainedVariance)
      .setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftPCA = defaultCopy(extra)

  override def write: MLWriter = new GraftPCA.Writer(this)
}

/** Explicitly-set params of an estimator or model, one parquet row.
  * (The reference stores a JSON metadata file + a Matrix-UDT parquet,
  * RapidsPCA.scala:218-228; we store plain columns so the artifact is
  * readable by any parquet reader, DuckDB included.) Top-level so the
  * encoder's generated code can reach the accessors (nested private
  * classes force an interpreter fallback — or a hard failure under
  * Pipeline.save's codegen path). */
private[feature] case class ParamsData(uid: String, k: Option[Int],
    inputCol: Option[String], outputCol: Option[String],
    meanCentering: Option[Boolean], useGemm: Option[Boolean],
    useCuSolverSVD: Option[Boolean], gpuId: Option[Int])

/** Fitted-model artifact row: params + the n×k component matrix. */
private[feature] case class ModelData(params: ParamsData, pcRows: Int,
    pcCols: Int, pcValues: Array[Double], explainedVariance: Array[Double])

object GraftPCA extends MLReadable[GraftPCA] {

  /** DefaultParamsWriter-layout metadata file, so Pipeline persistence
    * can discover the stage class (`SharedReadWrite.load` reads
    * `metadata/` to find the companion reader, which then loads our
    * parquet artifact). Params are replicated in paramMap for
    * inspectability; our own reader uses the parquet row. */
  private[feature] def writeMetadata(path: String,
      spark: org.apache.spark.sql.SparkSession, instance: Params): Unit = {
    def jsonVal(v: Any): String = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      // array-typed params (e.g. featuresCols) must render as JSON
      // arrays — Array.toString would corrupt the metadata file that
      // Pipeline persistence parses to discover the stage class
      case a: Array[_] => "[" + a.map(jsonVal).mkString(",") + "]"
      case s: Seq[_] => "[" + s.map(jsonVal).mkString(",") + "]"
      case other => other.toString
    }
    val pairs = instance.params.flatMap(p => instance.get(p).map(v =>
      s""""${p.name}":${jsonVal(v)}""")).mkString(",")
    val json = s"""{"class":"${instance.getClass.getName}",""" +
      s""""timestamp":${System.currentTimeMillis()},""" +
      s""""sparkVersion":"${spark.version}","uid":"${instance.uid}",""" +
      s""""paramMap":{$pairs},"defaultParamMap":{}}"""
    import spark.implicits._
    Seq(json).toDS().repartition(1).write.mode("overwrite")
      .text(s"$path/metadata")
  }

  private[feature] def paramsData(p: GraftPCAParams with Params): ParamsData =
    ParamsData(p.uid, p.get(p.k), p.get(p.inputCol), p.get(p.outputCol),
      p.get(p.meanCentering), p.get(p.useGemm), p.get(p.useCuSolverSVD),
      p.get(p.gpuId))

  private[feature] def restoreParams(t: GraftPCAParams, d: ParamsData): Unit = {
    d.k.foreach(v => t.set(t.k, v))
    d.inputCol.foreach(v => t.set(t.inputCol, v))
    d.outputCol.foreach(v => t.set(t.outputCol, v))
    d.meanCentering.foreach(v => t.set(t.meanCentering, v))
    d.useGemm.foreach(v => t.set(t.useGemm, v))
    d.useCuSolverSVD.foreach(v => t.set(t.useCuSolverSVD, v))
    d.gpuId.foreach(v => t.set(t.gpuId, v))
  }

  private[feature] class Writer(instance: GraftPCA) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      import spark.implicits._
      Seq(paramsData(instance)).toDS()
        .repartition(1).write.mode("overwrite").parquet(s"$path/params")
      writeMetadata(path, spark, instance)
    }
  }

  private class Reader extends MLReader[GraftPCA] {
    override def load(path: String): GraftPCA = {
      val spark = sparkSession
      import spark.implicits._
      val d = spark.read.parquet(s"$path/params").as[ParamsData].head()
      val est = new GraftPCA(d.uid)
      restoreParams(est, d)
      est
    }
  }

  override def read: MLReader[GraftPCA] = new Reader
  override def load(path: String): GraftPCA = super.load(path)
}

/** Fitted PCA model: `pc` is n×k (column i = i-th principal component),
  * `explainedVariance` the k variance ratios. Transform projects each
  * row n→k via pcᵀ·v (reference: RapidsPCA.scala:186-189). */
class GraftPCAModel(override val uid: String, val pc: DenseMatrix,
    val explainedVariance: DenseVector)
    extends Model[GraftPCAModel] with GraftPCAParams with MLWritable {

  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)
  def setUseGemm(value: Boolean): this.type = set(useGemm, value)

  /** Partition-batched GEMM projection — the blocked transform the
    * reference carries as a disabled variant (RapidsPCA.scala:172-185):
    * buffer rows into an m×n block, ONE BLAS dgemm per block against the
    * n×k component matrix (PCASpec checks it against a per-row
    * `pcᵀ·v` replay at 1e-12).
    *
    * Runs over the plan's Catalyst rows: each input row passes through
    * unchanged, joined with its projected k-vector, with no Row or
    * Vector objects in between. */
  override def transform(dataset: Dataset[_]): DataFrame = {
    val df = dataset.toDF()
    val outField = transformSchema(df.schema, logging = true).last
    val n = pc.numRows
    val kk = pc.numCols
    val pcValues = pc.toArray // column-major n×k
    val block = Cov.blockSize(n)
    val (prepped, reader) = Cov.decoded(df, $(inputCol))
    val isVec = reader.isVec
    val rdd = prepped.queryExecution.toRdd.mapPartitions { it =>
      // the scan reuses its row objects: copy the ones held for a block
      it.map(_.copy()).grouped(block).flatMap { rows =>
        val m = rows.size
        // m rows row-major = the block transposed, n×m column-major
        val a = new Array[Double](m * n)
        var i = 0
        rows.foreach { r => reader.read(r, n, a, i * n); i += 1 }
        // pcᵀ·aᵀ: k×m column-major, i.e. each row's k outputs contiguous
        val p = new Array[Double](m * kk)
        BLAS.getInstance().dgemm("T", "N", kk, m, n, 1.0, pcValues, n, a, n, 0.0, p, kk)
        rows.iterator.zipWithIndex.map { case (r, ri) =>
          val out = java.util.Arrays.copyOfRange(p, ri * kk, (ri + 1) * kk)
          val value: Any =
            if (isVec) Cov.VectorUdt.serialize(new DenseVector(out))
            else UnsafeArrayData.fromPrimitiveArray(out)
          new JoinedRow(r, InternalRow(value)): InternalRow
        }
      }
    }
    val projected = StreamingShim.fromInternalRows(df.sparkSession, rdd,
      StructType(prepped.schema.fields :+ outField), isStreaming = false)
    if (isVec) projected else projected.drop(Cov.DecodedCol)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftPCAModel =
    copyValues(new GraftPCAModel(uid, pc, explainedVariance), extra)
      .setParent(parent)

  override def write: MLWriter = new GraftPCAModel.Writer(this)
}

object GraftPCAModel extends MLReadable[GraftPCAModel] {

  private[feature] class Writer(instance: GraftPCAModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      import spark.implicits._
      val d = ModelData(GraftPCA.paramsData(instance), instance.pc.numRows,
        instance.pc.numCols, instance.pc.values,
        instance.explainedVariance.values)
      // single artifact file, as the reference (RapidsPCA.scala:224)
      Seq(d).toDS().repartition(1).write.mode("overwrite")
        .parquet(s"$path/data")
      GraftPCA.writeMetadata(path, spark, instance)
    }
  }

  private class Reader extends MLReader[GraftPCAModel] {
    override def load(path: String): GraftPCAModel = {
      val spark = sparkSession
      import spark.implicits._
      val d = spark.read.parquet(s"$path/data").as[ModelData].head()
      val model = new GraftPCAModel(d.params.uid,
        new DenseMatrix(d.pcRows, d.pcCols, d.pcValues),
        new DenseVector(d.explainedVariance))
      GraftPCA.restoreParams(model, d.params)
      model
    }
  }

  override def read: MLReader[GraftPCAModel] = new Reader
  override def load(path: String): GraftPCAModel = super.load(path)
}
