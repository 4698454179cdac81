package graft.ml

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import dev.ludovic.netlib.blas.BLAS
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, UserDefinedType}

/** Distributed column statistics + Gram/covariance computation.
  *
  * Semantics follow the reference's `RapidsRowMatrix.computeCovariance`
  * (reference: RapidsRowMatrix.scala:149-257): a single pass over the
  * rows produces per-partition partials `(count, colSum, BᵀB)` that are
  * tree-reduced to the driver, where the small n×n result is finalized.
  * The reference's GEMM path batches partition rows into a local matrix
  * and calls cublasDgemm (RapidsRowMatrix.scala:168-200); ours reads the
  * Catalyst values of each row straight into a row-major block buffer
  * and folds it into the Gram matrix with one netlib dgemm per block —
  * same blocking idea, JVM BLAS instead of a device kernel. The
  * reference's `useGemm` flag picks between that and a per-row SPR
  * kernel (RapidsRowMatrix.scala:203-234); here dense and sparse rows
  * alike go through the blocked dgemm, and the flag is inert.
  *
  * Unlike the reference, which probes the width with a separate
  * `first()` job (RapidsPCA.scala:117), the pass discovers it: each
  * partition takes the width from its own first row and checks every
  * later row against it, and the reduce rejects partials of different
  * widths. So a fit costs one Spark job.
  *
  * Scale notes: the shuffle-free `treeAggregate` moves only n×n partials
  * (n ≤ 65535 enforced below, same ceiling as RapidsRowMatrix.scala:147);
  * row data never leaves its partition, so this holds at any row count —
  * executor work is O(rows·n²/blocked-GEMM) and driver work is O(n²·log P).
  */
object Cov {

  /** Max supported feature width, as documented by the reference
    * (RapidsRowMatrix.scala:66-68): n(n+1)/2 must stay within Int range. */
  val MaxCols = 65535

  /** Rows per GEMM block inside a partition — bounds executor memory at
    * blockRows·n doubles regardless of partition size. */
  val blockRows = 4096

  /** Rows per block at width `n`: [[blockRows]], fewer past 512 columns
    * so a block buffer stays within ~16 MiB. Shared by the Gram pass and
    * the model's projection. */
  private[ml] def blockSize(n: Int): Int =
    math.max(1, math.min(blockRows, (16 << 20) / 8 / n))

  private[ml] val VectorUdt = SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]

  /** One partition/tree-level partial of the pass: the feature width
    * `n` (0 when no row was seen), the row count, the per-column sum and
    * the n×n second-moment accumulation Σ v·vᵀ. A partial wider than
    * [[MaxCols]] carries its width alone (`sum` and `gram` are null):
    * its partition stopped at the first row, before allocating n×n. */
  final case class Partial(n: Int, var m: Long, sum: BDV[Double], gram: BDM[Double]) {
    def merge(o: Partial): Partial =
      if (o.n == 0) this
      else if (n == 0) o
      else {
        require(o.n == n, s"row width ${o.n} != $n (uniform width required)")
        if (gram != null) { m += o.m; sum += o.sum; gram += o.gram }
        this
      }
  }

  private val NoRows = Partial(0, 0L, null, null)

  /** Reads the feature vector at `ordinal` of a Catalyst row: a
    * VectorUDT struct (type 0 sparse / 1 dense, size, indices, values)
    * or an `array<double>`. */
  private[ml] final case class RowReader(inputCol: String, ordinal: Int, isVec: Boolean) {

    private def checkNotNull(row: InternalRow): Unit =
      if (row.isNullAt(ordinal)) throw new IllegalArgumentException(
        s"null value in input column '$inputCol'")

    /** The row's vector width. */
    def width(row: InternalRow): Int = {
      checkNotNull(row)
      if (!isVec) row.getArray(ordinal).numElements()
      else {
        val v = row.getStruct(ordinal, 4)
        if (v.getByte(0) == 1) v.getArray(3).numElements() else v.getInt(1)
      }
    }

    /** Copies the row's vector, which must have width `n`, into
      * `buf(off until off + n)`; a sparse vector's inactive entries are
      * zeroed. */
    def read(row: InternalRow, n: Int, buf: Array[Double], off: Int): Unit = {
      checkNotNull(row)
      if (!isVec) copyDense(row.getArray(ordinal), n, buf, off)
      else {
        val v = row.getStruct(ordinal, 4)
        if (v.getByte(0) == 1) copyDense(v.getArray(3), n, buf, off)
        else {
          checkWidth(v.getInt(1), n)
          val idx = v.getArray(2); val vals = v.getArray(3)
          java.util.Arrays.fill(buf, off, off + n, 0.0)
          val nnz = idx.numElements()
          var jj = 0
          while (jj < nnz) { buf(off + idx.getInt(jj)) = vals.getDouble(jj); jj += 1 }
        }
      }
    }

    private def copyDense(a: ArrayData, n: Int, buf: Array[Double], off: Int): Unit = {
      checkWidth(a.numElements(), n)
      var i = 0
      while (i < n) { buf(off + i) = a.getDouble(i); i += 1 }
    }

    private def checkWidth(w: Int, n: Int): Unit =
      require(w == n, s"row width $w != $n (uniform width required)")
  }

  /** Per-partition state of the pass for width `n`, the reference's
    * blocked-GEMM path (RapidsRowMatrix.scala:168-200): rows buffer into
    * a row-major block — which is Bᵀ, n×r column-major — and each full
    * block adds Bᵀ·B to the Gram matrix with one dgemm read in place
    * (lda = n, beta = 1). */
  private final class Acc(n: Int) {
    require(n > 0, s"feature width $n outside (0, $MaxCols]")
    private val block = blockSize(n)
    private val buf = new Array[Double](block * n)
    private val sum = new Array[Double](n)
    private val gram = new Array[Double](n * n)
    private var m = 0L
    private var r = 0

    def add(reader: RowReader, row: InternalRow): Unit = {
      val off = r * n
      reader.read(row, n, buf, off)
      var i = 0
      while (i < n) { sum(i) += buf(off + i); i += 1 }
      m += 1
      r += 1
      if (r == block) flush()
    }

    private def flush(): Unit = if (r > 0) {
      BLAS.getInstance().dgemm("N", "T", n, n, r, 1.0, buf, n, buf, n, 1.0, gram, n)
      r = 0
    }

    def result: Partial = {
      flush()
      Partial(n, m, new BDV(sum), new BDM(n, n, gram))
    }
  }

  /** How a feature column is decoded, for the pass, [[vectorRdd]] and
    * the model's projection: a VectorUDT column is read as is, an
    * `array<numeric>` column (the fixture `embeddings.embedding` is
    * `array<float>`; the reference API is VectorUDT — support both, cf.
    * dense/sparse equivalence in PCASuite.scala:155-190) is cast to
    * `array<double>` in the plan. Returns the column to read and whether
    * it is a VectorUDT. */
  private def feature(df: DataFrame, inputCol: String): (Column, Boolean) =
    df.schema(inputCol).dataType match {
      case t if t == SQLDataTypes.VectorType => (col(inputCol), true)
      case _: ArrayType => (col(inputCol).cast("array<double>"), false)
      case other => throw new IllegalArgumentException(
        s"input column '$inputCol' must be VectorUDT or array<numeric>, got $other")
    }

  /** Name of the `array<double>` column [[decoded]] appends. */
  private[ml] val DecodedCol = "__graft_in"

  /** `df` with every column kept, plus — for `array<numeric>` input —
    * the feature cast to `array<double>` in an appended [[DecodedCol]];
    * and the reader of the feature in that frame's Catalyst rows. */
  private[ml] def decoded(df: DataFrame, inputCol: String): (DataFrame, RowReader) = {
    val (c, isVec) = feature(df, inputCol)
    val plan = if (isVec) df else df.withColumn(DecodedCol, c)
    (plan, RowReader(inputCol, plan.schema.fieldIndex(if (isVec) inputCol else DecodedCol), isVec))
  }

  /** The pass over a VectorUDT or `array<numeric>` column: one Spark job
    * over the plan's Catalyst rows of that column alone. A width past
    * [[MaxCols]] comes back as a width-only partial, at the cost of one
    * row per partition. */
  def pass(df: DataFrame, inputCol: String): Partial = {
    val (c, isVec) = feature(df, inputCol)
    pass(df.select(c).queryExecution.toRdd, RowReader(inputCol, 0, isVec))
  }

  private def pass(rows: RDD[InternalRow], reader: RowReader): Partial =
    rows.mapPartitions { it =>
      if (!it.hasNext) Iterator.single(NoRows)
      else {
        val first = it.next()
        val n = reader.width(first)
        if (n > MaxCols) Iterator.single(Partial(n, 0L, null, null))
        else {
          val acc = new Acc(n)
          acc.add(reader, first)
          while (it.hasNext) acc.add(reader, it.next())
          Iterator.single(acc.result)
        }
      }
    }.treeAggregate(NoRows)((a, p) => a.merge(p), (a, b) => a.merge(b), depth = 2)

  /** Extract an `RDD[Vector]` from either a `VectorUDT` column or an
    * `array<numeric>` column — the input of the multi-pass sketch
    * ([[Rsvd]]). */
  def vectorRdd(df: DataFrame, inputCol: String): RDD[Vector] = {
    val (c, isVec) = feature(df, inputCol)
    df.select(c).rdd.map { r =>
      if (r.isNullAt(0)) throw new IllegalArgumentException(
        s"null value in input column '$inputCol'")
      if (isVec) r.getAs[Vector](0) else Vectors.dense(r.getSeq[Double](0).toArray)
    }
  }

  /** Result of the distributed pass. */
  final case class Stats(m: Long, mean: BDV[Double], secondMoment: BDM[Double]) {
    /** Sample covariance (m−1 normalization, as the reference:
      * RapidsRowMatrix.scala:236-251). */
    def covariance: BDM[Double] = {
      require(m > 1, s"covariance needs >1 row, got $m")
      val c = secondMoment.copy
      // co-moment identity: Cov = (Σvvᵀ − m·x̄x̄ᵀ) / (m−1)
      val n = mean.length
      var j = 0
      while (j < n) {
        var i = 0
        while (i < n) { c(i, j) -= m * mean(i) * mean(j); i += 1 }
        j += 1
      }
      c /= (m - 1).toDouble
      c
    }
    /** Uncentered second moment / (m−1) — the meanCentering=false path
      * (reference: RapidsRowMatrix.scala:163-165). */
    def gramNormalized: BDM[Double] = {
      require(m > 1, s"normalization needs >1 row, got $m")
      secondMoment / (m - 1).toDouble
    }
  }

  /** Finalize a pass: count, mean and second moment. The result shares
    * `p.gram`. */
  def stats(p: Partial): Stats = {
    require(p.n > 0, "empty input")
    require(p.n <= MaxCols, s"feature width ${p.n} outside (0, $MaxCols]")
    Stats(p.m, p.sum / p.m.toDouble, p.gram)
  }

  def stats(df: DataFrame, inputCol: String): Stats = stats(pass(df, inputCol))

  /** The pass over already extracted vectors, for a caller that knows
    * the width: every row is checked against `n`. `useGemm` is inert
    * (compat: the pass is always blocked GEMM). */
  def stats(rows: RDD[Vector], n: Int, useGemm: Boolean): Stats = {
    val p = pass(rows.map(v => InternalRow(VectorUdt.serialize(v))),
      RowReader("vector", 0, isVec = true))
    require(p.n == 0 || p.n == n, s"row width ${p.n} != $n (uniform width required)")
    stats(p)
  }
}
