package graft.ml

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import dev.ludovic.netlib.blas.BLAS
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
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
  * same blocking idea, JVM BLAS instead of a device kernel.
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
      * zeroed. Returns -1 for a dense row, else the active-entry count,
      * whose positions go to `active` unless it is null. */
    def read(row: InternalRow, n: Int, buf: Array[Double], off: Int,
        active: Array[Int]): Int = {
      checkNotNull(row)
      if (!isVec) { copyDense(row.getArray(ordinal), n, buf, off); -1 }
      else {
        val v = row.getStruct(ordinal, 4)
        if (v.getByte(0) == 1) { copyDense(v.getArray(3), n, buf, off); -1 }
        else {
          checkWidth(v.getInt(1), n)
          val idx = v.getArray(2); val vals = v.getArray(3)
          java.util.Arrays.fill(buf, off, off + n, 0.0)
          val nnz = idx.numElements()
          var jj = 0
          while (jj < nnz) {
            val j = idx.getInt(jj)
            buf(off + j) = vals.getDouble(jj)
            if (active != null) active(jj) = j
            jj += 1
          }
          nnz
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

  /** Per-partition state of the pass for width `n`. Blocked-GEMM path
    * (the reference's default, RapidsRowMatrix.scala:168-200): rows
    * buffer into a row-major block — which is Bᵀ, n×r column-major — and
    * each full block adds Bᵀ·B to the Gram matrix with one dgemm read in
    * place (lda = n, beta = 1). Per-row path (the reference's SPR path,
    * RapidsRowMatrix.scala:203-234): scalar upper-triangle updates over
    * the row's nonzero (or, sparse, active) entries, mirrored at
    * finalize time. */
  private final class Acc(n: Int, useGemm: Boolean) {
    require(n > 0, s"feature width $n outside (0, $MaxCols]")
    // bound block buffer memory at ~16 MiB regardless of width
    private val block =
      if (useGemm) math.max(1, math.min(blockRows, (16 << 20) / 8 / n)) else 1
    private val buf = new Array[Double](block * n)
    private val active = if (useGemm) null else new Array[Int](n)
    private val sum = new Array[Double](n)
    private val gram = new Array[Double](n * n)
    private var m = 0L
    private var r = 0

    def add(reader: RowReader, row: InternalRow): Unit = {
      val off = r * n
      val nnz = reader.read(row, n, buf, off, active)
      var i = 0
      while (i < n) { sum(i) += buf(off + i); i += 1 }
      m += 1
      if (useGemm) { r += 1; if (r == block) flush() }
      else if (nnz < 0) upperDense()
      else upperSparse(nnz)
    }

    private def flush(): Unit = if (r > 0) {
      BLAS.getInstance().dgemm("N", "T", n, n, r, 1.0, buf, n, buf, n, 1.0, gram, n)
      r = 0
    }

    private def upperDense(): Unit = {
      var j = 0
      while (j < n) {
        val vj = buf(j)
        if (vj != 0.0) {
          val off = j * n
          var i = 0
          while (i <= j) { gram(off + i) += buf(i) * vj; i += 1 }
        }
        j += 1
      }
    }

    private def upperSparse(nnz: Int): Unit = {
      var jj = 0
      while (jj < nnz) {
        val j = active(jj); val vj = buf(j)
        val off = j * n
        var ii = 0
        while (ii <= jj) { val i = active(ii); gram(off + i) += buf(i) * vj; ii += 1 }
        jj += 1
      }
    }

    def result: Partial = {
      flush()
      Partial(n, m, new BDV(sum), new BDM(n, n, gram))
    }
  }

  /** The pass over a VectorUDT or `array<numeric>` column (the fixture
    * `embeddings.embedding` is `array<float>`; the reference API is
    * VectorUDT — support both, cf. dense/sparse equivalence in
    * PCASuite.scala:155-190): one Spark job over the plan's Catalyst
    * rows, arrays cast to `array<double>` in the plan. `useGemm` selects
    * blocked-GEMM (default, like the reference) vs per-row accumulation.
    * A width past [[MaxCols]] comes back as a width-only partial, at the
    * cost of one row per partition. */
  def pass(df: DataFrame, inputCol: String, useGemm: Boolean): Partial = {
    val isVec = df.schema(inputCol).dataType match {
      case t if t == SQLDataTypes.VectorType => true
      case _: ArrayType => false
      case other => throw new IllegalArgumentException(
        s"input column '$inputCol' must be VectorUDT or array<numeric>, got $other")
    }
    val c = if (isVec) col(inputCol) else col(inputCol).cast("array<double>")
    pass(df.select(c).queryExecution.toRdd, RowReader(inputCol, 0, isVec), useGemm)
  }

  /** The pass over already extracted vectors. */
  private def pass(rows: RDD[Vector], useGemm: Boolean): Partial =
    pass(rows.map(v => InternalRow(VectorUdt.serialize(v))),
      RowReader("vector", 0, isVec = true), useGemm)

  private def pass(rows: RDD[InternalRow], reader: RowReader, useGemm: Boolean): Partial =
    rows.mapPartitions { it =>
      if (!it.hasNext) Iterator.single(NoRows)
      else {
        val first = it.next()
        val n = reader.width(first)
        if (n > MaxCols) Iterator.single(Partial(n, 0L, null, null))
        else {
          val acc = new Acc(n, useGemm)
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
    df.schema(inputCol).dataType match {
      case _: ArrayType =>
        df.select(col(inputCol).cast("array<double>")).rdd.map { r =>
          val s = r.getSeq[Double](0)
          if (s == null) throw new IllegalArgumentException(
            s"null value in input column '$inputCol'")
          Vectors.dense(s.toArray)
        }
      case _ =>
        df.select(col(inputCol)).rdd.map { r =>
          r.get(0) match {
            case v: Vector => v
            case other => throw new IllegalArgumentException(
              s"input column '$inputCol' must be VectorUDT or array<numeric>, got $other")
          }
        }
    }
  }

  /** Mirror the accumulated upper triangle into the lower (cf. the
    * reference's `triuToFull`, RapidsRowMatrix.scala:260-288). */
  private def symmetrize(gram: BDM[Double]): BDM[Double] = {
    val n = gram.rows
    var j = 0
    while (j < n) {
      var i = j + 1
      while (i < n) { gram(i, j) = gram(j, i); i += 1 }
      j += 1
    }
    gram
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

  /** Finalize a pass: mean and second moment (the per-row path's
    * upper triangle mirrored). */
  def stats(p: Partial, useGemm: Boolean): Stats = {
    require(p.n > 0, "empty input")
    require(p.n <= MaxCols, s"feature width ${p.n} outside (0, $MaxCols]")
    val moment = if (useGemm) p.gram else symmetrize(p.gram)
    Stats(p.m, p.sum / p.m.toDouble, moment)
  }

  def stats(rows: RDD[Vector], useGemm: Boolean = true): Stats =
    stats(pass(rows, useGemm), useGemm)

  /** As above for a caller that already knows the width: every row is
    * checked against `n`. */
  def stats(rows: RDD[Vector], n: Int, useGemm: Boolean): Stats = {
    val p = pass(rows, useGemm)
    require(p.n == 0 || p.n == n, s"row width ${p.n} != $n (uniform width required)")
    stats(p, useGemm)
  }

  def stats(df: DataFrame, inputCol: String): Stats =
    stats(df, inputCol, useGemm = true)

  def stats(df: DataFrame, inputCol: String, useGemm: Boolean): Stats =
    stats(pass(df, inputCol, useGemm), useGemm)
}
