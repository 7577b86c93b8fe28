package graft.core

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** One column's values for one block of instances (row order preserved). */
sealed trait ColBlock extends Serializable {
  /** Number of instances in the block. */
  def n: Int
}

/** Dense column block: one byte per instance. */
final case class DenseBlock(values: Array[Byte]) extends ColBlock {
  def n: Int = values.length
}

/**
 * Sparse column block: explicit entries at `rows(i) -> values(i)`
 * (rows strictly increasing); every other instance is implicitly 0.
 * Mirrors the reference's implicit-zero histogram accounting
 * (reference: InfoTheory.scala:274-310, :324-390) — on a 0.1%-dense
 * corpus the cached working set shrinks ~1000x vs densification.
 */
final case class SparseBlock(n: Int, rows: Array[Int], values: Array[Byte])
    extends ColBlock

/**
 * One instance block of the columnar working set: every feature's
 * column block plus the block's class-label bytes, in row order.
 * `id` is the source partition id.
 */
final case class Block(id: Int, cols: Array[ColBlock], label: Array[Byte]) {
  /** Number of instances in the block. */
  def n: Int = label.length

  /** Column `f`; `f == cols.length` is the label column. */
  def column(f: Int): ColBlock =
    if (f == cols.length) DenseBlock(label) else cols(f)
}

/**
 * Columnar (transposed) working set: the engine's core internal
 * representation, mirroring the reference's `ColumnarData`
 * (reference: InfoSelector.scala:73-75) re-expressed Spark-first.
 *
 * Layout: `RDD[Block]`, one cached record per instance block holding all
 * of that block's columns and its labels. The label is also counted as
 * column `nFeatures` in `cardinality` (the reference appends it the same
 * way, InfoSelector.scala:431).
 *
 * Scale notes (100 TB design):
 * - The transpose is a pure mapPartitions (ZERO shuffle; the only
 *   exchange anywhere is the optional parallelism repartition of the raw
 *   rows, which ships unsafe rows once). Every per-block pairing the
 *   kernels need (x vs label, x vs the per-round selected column y) is
 *   inside one record, so NO column is ever collected, broadcast, or
 *   shuffled during selection: at 10^11 rows a collected/broadcast
 *   column (~100 GB) would exceed both driver and executor memory —
 *   here the per-task working set stays O(block), independent of
 *   nInstances.
 * - Scan parallelism = number of blocks, which grows with data volume
 *   (the reference's partitionByRange(0) by feature,
 *   InfoSelector.scala:436, would make one task scan an entire feature
 *   column — a straggler at billions of rows). A feature's partial
 *   histograms merge through a keyed reduce that shuffles only
 *   O(nFeatures x blocks) tiny count matrices (<= 6 KB each for a
 *   256x|Y| table) — independent of nInstances.
 */
final case class ColumnarData(
    data: RDD[Block],
    nInstances: Long,
    nFeatures: Int,
    cardinality: Array[Int]) {

  /** Index of the class-label column. */
  def labelIndex: Int = nFeatures

  /** Collect one column's blocks (block id -> densified bytes).
    * TEST/DEBUG ONLY — the engine never collects a column. */
  def collectColumn(feature: Int): Map[Int, Array[Byte]] =
    data.map(b => (b.id, Columnar.densify(b.column(feature)))).collect().toMap

  def unpersist(): Unit = data.unpersist(blocking = false)
}

object Columnar {

  /** Byte-domain validation (reference: requireByteValues,
    * InfoSelector.scala:404-416; README.md:22-23 "maximum of 256 distinct
    * values"). We use the unsigned domain [0, 255] — values are histogram
    * indices. Documented divergence: the reference's check accepts
    * [-128, 127], but its own error message says [0, 255] and a negative
    * value would corrupt its histogram indexing (negative array index
    * after toByte); we enforce what the reference can actually process. */
  @inline def toByteChecked(v: Double): Byte = {
    if (v < 0.0 || v > 255.0 || v % 1 != 0.0) {
      throw new IllegalArgumentException(
        s"Info-Theoretic Framework requires integer values in range [0, 255], got $v")
    }
    v.toByte
  }

  @inline def idx(b: Byte): Int = b & 0xFF

  /** Densified view of a column block. */
  def densify(blk: ColBlock): Array[Byte] = blk match {
    case DenseBlock(b) => b
    case SparseBlock(n, rows, vals) =>
      val out = new Array[Byte](n)
      var i = 0
      while (i < rows.length) { out(rows(i)) = vals(i); i += 1 }
      out
  }

  /** Max feature count supported by the sparse transpose packing
    * (feature id must fit in 22 bits next to a 32-bit row id). */
  val MaxSparseFeatures: Int = 1 << 22

  /**
   * Block-local transpose of a `(label, features)` DataFrame into one
   * [[Block]] per partition (reference semantics:
   * InfoSelector.scala:421-438).
   *
   * The storage mode follows the input vectors: sparse rows transpose
   * into [[SparseBlock]]s (implicit zeros never materialize — neither in
   * the shuffle nor the cache), dense rows into [[DenseBlock]]s. The
   * label column is always dense. Each block takes the vector size from
   * its first row; rows and blocks that disagree are rejected.
   *
   * The hot loop reads the vector UDT struct fields straight out of
   * Tungsten InternalRows (`queryExecution.toRdd`): no Row wrapper, no
   * ml.Vector allocation per row — the transpose touches each value
   * exactly once as a primitive.
   */
  def fromLabeledDf(
      df: DataFrame,
      featuresCol: String = "features",
      labelCol: String = "label"): ColumnarData = {
    val rows = spread(df.select(col(labelCol).cast("double"), col(featuresCol)))
    val blocks = rows.mapPartitionsWithIndex { (pid, rowIt) =>
      var nf = -1
      val it = rowIt.map { row =>
        // UnsafeRow reads a null as 0 — fail instead of inventing class 0
        if (row.isNullAt(0)) throw new IllegalArgumentException(
          s"null value in label column '$labelCol'")
        if (row.isNullAt(1)) throw new IllegalArgumentException(
          s"null vector in features column '$featuresCol'")
        val size = vecSize(row.getStruct(1, 4))
        if (nf < 0) nf = size
        if (size != nf) throw new IllegalArgumentException(
          s"Inconsistent vector size in features column '$featuresCol': $size != $nf")
        row
      }.buffered
      if (!it.hasNext) Iterator.empty
      else {
        // ml.VectorUDT layout: struct<type:byte, size:int,
        //   indices:array<int>, values:array<double>>; type 0 = sparse
        val sparse = it.head.getStruct(1, 4).getByte(0) == 0
        Iterator.single(
          if (sparse) transposeSparse(pid, it, nf) else transposeDense(pid, it, nf))
      }
    }
    finish(blocks, s"features column '$featuresCol'")
  }

  /** The projected rows, repartitioned up to `defaultParallelism` when
    * the input has fewer partitions (the exchange ships unsafe rows). */
  private def spread(projected: DataFrame): RDD[InternalRow] = {
    val target = projected.sparkSession.sparkContext.defaultParallelism
    val df =
      if (projected.queryExecution.toRdd.getNumPartitions < target) {
        projected.repartition(target)
      } else projected
    df.queryExecution.toRdd
  }

  /** Vector size from the UDT struct (dense: values length; sparse: the
    * size field). */
  @inline private def vecSize(s: InternalRow): Int =
    if (s.getByte(0) == 0) s.getInt(1) else s.getArray(3).numElements()

  /** Dense-mode partition transpose: one byte builder per column. */
  private def transposeDense(pid: Int, it: Iterator[InternalRow],
      nf: Int): Block = {
    val builders = Array.fill(nf)(new mutable.ArrayBuilder.ofByte)
    val labels = new mutable.ArrayBuilder.ofByte
    it.foreach { row =>
      val vec = row.getStruct(1, 4)
      if (vec.getByte(0) != 0) {
        val vals = vec.getArray(3)
        var j = 0
        while (j < nf) { builders(j) += toByteChecked(vals.getDouble(j)); j += 1 }
      } else {
        val dense = new Array[Byte](nf)
        val ids = vec.getArray(2); val vals = vec.getArray(3)
        val nnz = ids.numElements()
        var j = 0
        while (j < nnz) {
          dense(ids.getInt(j)) = toByteChecked(vals.getDouble(j)); j += 1
        }
        j = 0
        while (j < nf) { builders(j) += dense(j); j += 1 }
      }
      labels += toByteChecked(row.getDouble(0))
    }
    Block(pid, builders.map(b => DenseBlock(b.result()): ColBlock),
      labels.result())
  }

  /**
   * Sparse-mode partition transpose: nonzeros pack into one long each
   * (feature << 40 | row << 8 | value), a single array sort groups them
   * by feature, and per-feature slices become [[SparseBlock]]s. Every
   * feature gets a column (possibly with zero explicit entries) so the
   * histogram kernels see every (feature, block) cell — implicit zeros
   * are patched in-kernel, never materialized.
   */
  private def transposeSparse(pid: Int, it: Iterator[InternalRow],
      nf: Int): Block = {
    require(nf < MaxSparseFeatures,
      s"sparse transpose supports < $MaxSparseFeatures features, got $nf")
    val packed = new mutable.ArrayBuilder.ofLong
    val labels = new mutable.ArrayBuilder.ofByte
    var rowIdx = 0
    it.foreach { row =>
      val vec = row.getStruct(1, 4)
      if (vec.getByte(0) == 0) {
        val ids = vec.getArray(2); val vals = vec.getArray(3)
        val nnz = ids.numElements()
        var j = 0
        while (j < nnz) {
          val v = toByteChecked(vals.getDouble(j))
          if (v != 0) {
            packed += (ids.getInt(j).toLong << 40) | (rowIdx.toLong << 8) | (v & 0xFFL)
          }
          j += 1
        }
      } else {
        val vals = vec.getArray(3)
        var j = 0
        while (j < nf) {
          val v = toByteChecked(vals.getDouble(j))
          if (v != 0) {
            packed += (j.toLong << 40) | (rowIdx.toLong << 8) | (v & 0xFFL)
          }
          j += 1
        }
      }
      labels += toByteChecked(row.getDouble(0))
      rowIdx += 1
    }
    val n = rowIdx
    val arr = packed.result()
    java.util.Arrays.sort(arr)
    // slice per feature
    var p = 0
    val cols = Array.tabulate[ColBlock](nf) { f =>
      val rows = new mutable.ArrayBuilder.ofInt
      val vals = new mutable.ArrayBuilder.ofByte
      while (p < arr.length && (arr(p) >>> 40).toInt == f) {
        rows += ((arr(p) >>> 8) & 0xFFFFFFFFL).toInt
        vals += (arr(p) & 0xFFL).toByte
        p += 1
      }
      SparseBlock(n, rows.result(), vals.result())
    }
    Block(pid, cols, labels.result())
  }

  /**
   * Fast-path transpose from integer-valued columns (no ml.Vector
   * construction or UDT serialization on the hot path). `featureCols`
   * become features 0..n-1 in order; `labelCol` becomes the label.
   *
   * Iterates Tungsten InternalRows directly (`queryExecution.toRdd`) —
   * primitive `getInt` reads with zero per-row boxing, and the
   * parallelism repartition happens at the DataFrame level so the
   * exchange ships unsafe rows, not Scala objects.
   */
  def fromIntColumns(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String): ColumnarData = {
    val names = (featureCols :+ labelCol).toArray
    val nf = featureCols.length
    val rows = spread(df.select(names.map(c => col(c).cast("int")): _*))
    val blocks = rows.mapPartitionsWithIndex { (pid, it) =>
      val builders = Array.fill(nf + 1)(new mutable.ArrayBuilder.ofByte)
      it.foreach { row =>
        var j = 0
        while (j <= nf) {
          // UnsafeRow.getInt silently reads null as 0 — fail loudly
          // instead of corrupting histograms with phantom zeros
          if (row.isNullAt(j)) {
            throw new IllegalArgumentException(
              s"null value in column '${names(j)}': columns must be non-null")
          }
          builders(j) += toByteChecked(row.getInt(j).toDouble); j += 1
        }
      }
      val label = builders(nf).result()
      if (label.isEmpty) Iterator.empty
      else Iterator.single(Block(pid,
        Array.tabulate[ColBlock](nf)(f => DenseBlock(builders(f).result())),
        label))
    }
    finish(blocks, s"columns ${names.mkString(", ")}")
  }

  /** Largest value of a column block (implicit zeros count as 0). */
  private def maxValue(blk: ColBlock): Int = {
    val bytes = blk match {
      case DenseBlock(b) => b
      case SparseBlock(_, _, v) => v
    }
    var mx = 0
    var i = 0
    while (i < bytes.length) {
      val v = idx(bytes(i)); if (v > mx) mx = v; i += 1
    }
    mx
  }

  /** Persist the blocks (no shuffle: each stays in its source partition)
    * and run the single stats pass: one aggregate of (max value per
    * column, row count) over the blocks (cardinality pre-pass per
    * reference InfoTheory.scala:415-419 fused with the instance count).
    * Rejects an empty input and blocks of different widths. */
  private def finish(blocks: RDD[Block], source: String): ColumnarData = {
    val cached = blocks.persist(StorageLevel.MEMORY_AND_DISK)
    val (maxes, n) = cached
      .map(b => (Array.tabulate(b.cols.length + 1)(f => maxValue(b.column(f))),
        b.n.toLong))
      .fold((Array.emptyIntArray, 0L)) { case (a @ (ma, na), b @ (mb, nb)) =>
        if (ma.isEmpty) b
        else if (mb.isEmpty) a
        else {
          if (ma.length != mb.length) throw new IllegalArgumentException(
            s"Inconsistent vector size in $source: " +
              s"${ma.length - 1} != ${mb.length - 1}")
          (Array.tabulate(ma.length)(f => math.max(ma(f), mb(f))), na + nb)
        }
      }
    if (n == 0) throw new IllegalArgumentException(s"empty input: no rows in $source")
    ColumnarData(cached, n, maxes.length - 1, maxes.map(_ + 1))
  }
}
