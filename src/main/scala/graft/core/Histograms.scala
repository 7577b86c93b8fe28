package graft.core

import org.apache.spark.rdd.RDD

/** Dense 2-D contingency table for one feature: counts(x*ys + y). */
final case class Hist2D(xs: Int, ys: Int, counts: Array[Long]) {
  @inline def apply(x: Int, y: Int): Long = counts(x * ys + y)
  def add(other: Hist2D): Hist2D = {
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
    this
  }
  def total: Long = { var s = 0L; var i = 0; while (i < counts.length) { s += counts(i); i += 1 }; s }
}

/** Dense 3-D contingency table for one feature: counts((z*xs + x)*ys + y). */
final case class Hist3D(xs: Int, ys: Int, zs: Int, counts: Array[Long]) {
  @inline def apply(x: Int, y: Int, z: Int): Long = counts((z * xs + x) * ys + y)
  def add(other: Hist3D): Hist3D = {
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
    this
  }
}

/**
 * Distributed contingency-table builders over the columnar working set.
 *
 * Re-expression of the reference's histogram dataflows
 * (reference: computeHistograms InfoTheory.scala:474-521,
 * computeConditionalHistograms InfoTheory.scala:535-586): each task
 * scans its cached [[Block]]s, pairs every feature column with the
 * block's own label column (and, per round, the block's own selected
 * column), and accumulates tight primitive-array matrices per feature
 * (the partial/combiner stage); the keyed merge then shuffles only
 * O(nFeatures x blocks) small matrices (<= xs*|Y|(*|Z|) longs each) —
 * independent of nInstances. Scan parallelism follows the blocks, so no
 * task ever scans a whole feature column, and no column ever crosses
 * the driver.
 *
 * Sparse blocks use implicit-zero patching (reference semantics:
 * InfoTheory.scala:274-310, :324-390): explicit entries count directly,
 * and the zero row of the table receives the label (or label x y)
 * frequency of the block minus that of the explicit rows.
 */
object Histograms {

  import Columnar.idx

  /** `(feature, table)` for every table a task allocated. */
  private def nonNull[T <: AnyRef](acc: Array[T]): Iterator[(Int, T)] =
    acc.iterator.zipWithIndex.collect { case (h, f) if h != null => (f, h) }

  /**
   * 2-D contingency tables of every feature vs. the block's class label
   * (the label is not a feature, as in the reference filter at
   * InfoTheory.scala:429-430).
   */
  def histogram2D(col: ColumnarData): RDD[(Int, Hist2D)] = {
    val ys = col.cardinality(col.labelIndex)
    val nf = col.nFeatures
    val cards = col.data.sparkContext.broadcast(col.cardinality)
    col.data.mapPartitions { it =>
      val acc = new Array[Hist2D](nf)
      it.foreach { blk =>
        var f = 0
        while (f < nf) {
          if (acc(f) == null) {
            val xs = cards.value(f)
            acc(f) = Hist2D(xs, ys, new Array[Long](xs * ys))
          }
          accumulate2D(blk.cols(f), blk.label, acc(f).counts, ys)
          f += 1
        }
      }
      nonNull(acc)
    }.reduceByKey(_.add(_))
  }

  /** Fold one column block against a dense y column into counts(x*ys+y). */
  private def accumulate2D(xb: ColBlock, ycol: Array[Byte],
      m: Array[Long], ys: Int): Unit = xb match {
    case DenseBlock(bytes) =>
      var i = 0
      while (i < bytes.length) {
        m(idx(bytes(i)) * ys + idx(ycol(i))) += 1L
        i += 1
      }
    case SparseBlock(n, rows, vals) =>
      val yfreq = new Array[Long](ys)
      var i = 0
      while (i < n) { yfreq(idx(ycol(i))) += 1L; i += 1 }
      i = 0
      while (i < rows.length) {
        val y = idx(ycol(rows(i)))
        m(idx(vals(i)) * ys + y) += 1L
        yfreq(y) -= 1L
        i += 1
      }
      // remaining mass = implicit zeros, at x = 0
      var y = 0
      while (y < ys) { m(y) += yfreq(y); y += 1 }
  }

  /**
   * 3-D contingency tables of every feature x vs. feature y (the newly
   * selected one) and the block's class label as z, excluding y itself
   * (reference: FilterWitH3 application, InfoTheory.scala:455-456).
   *
   * The y column is NEVER collected, broadcast or shuffled: each block
   * densifies its own y column once and folds every other column of the
   * same record against it. Per-round cost at any scale: one cached
   * scan + the O(nFeatures x blocks) matrix merge — no O(nInstances)
   * term on any single node.
   */
  def histogram3D(col: ColumnarData, yFeat: Int): RDD[(Int, Hist3D)] = {
    require(yFeat >= 0 && yFeat < col.nFeatures,
      s"y must be a feature in [0, ${col.nFeatures}), got $yFeat")
    val ys = col.cardinality(yFeat)
    val zs = col.cardinality(col.labelIndex)
    val nf = col.nFeatures
    val cards = col.data.sparkContext.broadcast(col.cardinality)
    col.data.mapPartitions { it =>
      val acc = new Array[Hist3D](nf)
      it.foreach { blk =>
        val ycol = Columnar.densify(blk.cols(yFeat))
        var f = 0
        while (f < nf) {
          if (f != yFeat) {
            if (acc(f) == null) {
              val xs = cards.value(f)
              acc(f) = Hist3D(xs, ys, zs, new Array[Long](xs * ys * zs))
            }
            accumulate3D(blk.cols(f), ycol, blk.label, acc(f).counts,
              acc(f).xs, ys, zs)
          }
          f += 1
        }
      }
      nonNull(acc)
    }.reduceByKey(_.add(_))
  }

  /** Fold one column block against dense y and z columns into
    * counts((z*xs + x)*ys + y). */
  private def accumulate3D(xb: ColBlock, ycol: Array[Byte], zcol: Array[Byte],
      m: Array[Long], xs: Int, ys: Int, zs: Int): Unit = xb match {
    case DenseBlock(bytes) =>
      var i = 0
      while (i < bytes.length) {
        m((idx(zcol(i)) * xs + idx(bytes(i))) * ys + idx(ycol(i))) += 1L
        i += 1
      }
    case SparseBlock(n, rows, vals) =>
      val yzfreq = new Array[Long](ys * zs)
      var i = 0
      while (i < n) { yzfreq(idx(zcol(i)) * ys + idx(ycol(i))) += 1L; i += 1 }
      i = 0
      while (i < rows.length) {
        val r = rows(i)
        val y = idx(ycol(r)); val z = idx(zcol(r))
        m((z * xs + idx(vals(i))) * ys + y) += 1L
        yzfreq(z * ys + y) -= 1L
        i += 1
      }
      var z = 0
      while (z < zs) {
        var y = 0
        while (y < ys) { m((z * xs) * ys + y) += yzfreq(z * ys + y); y += 1 }
        z += 1
      }
  }

  /**
   * Per-feature value frequencies (including the label column) in ONE
   * distributed job: each block folds its columns into <= 256-slot
   * arrays, the keyed merge ships O(nFeatures x blocks) tiny arrays,
   * and only the <= 256-row-per-feature result reaches the driver
   * (reference: computeFrequency, InfoTheory.scala:230-235 — but
   * distributed instead of per-column collects).
   */
  def frequenciesByFeature(col: ColumnarData): Map[Int, Array[Long]] = {
    val cards = col.data.sparkContext.broadcast(col.cardinality)
    col.data.flatMap { blk =>
      Iterator.tabulate(blk.cols.length + 1) { f =>
        val out = new Array[Long](cards.value(f))
        blk.column(f) match {
          case DenseBlock(bytes) =>
            var i = 0
            while (i < bytes.length) { out(idx(bytes(i))) += 1L; i += 1 }
          case SparseBlock(n, rows, vals) =>
            var i = 0
            while (i < vals.length) { out(idx(vals(i))) += 1L; i += 1 }
            out(0) += n - rows.length
        }
        (f, out)
      }
    }.reduceByKey { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }.collect().toMap
  }

}
