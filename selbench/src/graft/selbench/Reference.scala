package graft.selbench

import scala.collection.mutable

/**
 * Plain single-threaded brute force of the seven Brown et al. (JMLR 2012)
 * criteria, written independently of graft.core: contingency tables are
 * counted row by row and every information quantity comes from entropies,
 * I(X;Y) = H(X) + H(Y) - H(X,Y) and
 * I(X;Y|Z) = H(X,Z) + H(Y,Z) - H(X,Y,Z) - H(Z).
 * It is the oracle each timed fit is checked against.
 */
trait Cols {
  def n: Int
  def nf: Int
  /** Class value of each row. */
  def label: Array[Byte]
  def card(f: Int): Int
  /** Row-major values of feature f. */
  def column(f: Int): Array[Byte]
  /** counts((x * cy + y) * cz + z) of feature f against column ycol
    * (cardinality cy) and the class. */
  def counts3(f: Int, ycol: Array[Byte], cy: Int): Array[Long]
  def labelCard: Int = Reference.cardOf(label)
}

/** Dense columns: one byte per row per feature. */
final class DenseCols(val columns: Array[Array[Byte]], val label: Array[Byte])
    extends Cols {
  val n: Int = label.length
  val nf: Int = columns.length
  private val cards = columns.map(Reference.cardOf)
  def card(f: Int): Int = cards(f)
  def column(f: Int): Array[Byte] = columns(f)
  def counts3(f: Int, ycol: Array[Byte], cy: Int): Array[Long] = {
    val cz = labelCard
    val out = new Array[Long](card(f) * cy * cz)
    val x = columns(f)
    var i = 0
    while (i < n) {
      out(((x(i) & 0xFF) * cy + (ycol(i) & 0xFF)) * cz + (label(i) & 0xFF)) += 1
      i += 1
    }
    out
  }
}

/** Sparse columns: explicit (row, value) entries; every other row is 0.
  * Tables count the explicit entries and patch the zero cell with what is
  * left of the (y, z) frequencies. */
final class SparseCols(val n: Int, val rows: Array[Array[Int]],
    val values: Array[Array[Byte]], val label: Array[Byte]) extends Cols {
  val nf: Int = rows.length
  private val cards = values.map(Reference.cardOf)
  def card(f: Int): Int = cards(f)
  def column(f: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < rows(f).length) { out(rows(f)(i)) = values(f)(i); i += 1 }
    out
  }
  private val cz = labelCard
  private var yzOf: Array[Byte] = null
  private var yzFreq: Array[Long] = null

  def counts3(f: Int, ycol: Array[Byte], cy: Int): Array[Long] = {
    if (!(yzOf eq ycol)) {
      yzFreq = new Array[Long](cy * cz)
      var i = 0
      while (i < n) { yzFreq((ycol(i) & 0xFF) * cz + (label(i) & 0xFF)) += 1; i += 1 }
      yzOf = ycol
    }
    val out = new Array[Long](card(f) * cy * cz)
    val rest = yzFreq.clone()
    val r = rows(f); val v = values(f)
    var i = 0
    while (i < r.length) {
      val yz = (ycol(r(i)) & 0xFF) * cz + (label(r(i)) & 0xFF)
      out((v(i) & 0xFF) * cy * cz + yz) += 1
      rest(yz) -= 1
      i += 1
    }
    i = 0
    while (i < rest.length) { out(i) += rest(i); i += 1 }
    out
  }
}

object Reference {

  val Criteria: Seq[String] = Seq("mim", "mifs", "jmi", "mrmr", "icap", "cmim", "if")

  def cardOf(b: Array[Byte]): Int = {
    var m = 0; var i = 0
    while (i < b.length) { m = math.max(m, b(i) & 0xFF); i += 1 }
    m + 1
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** Entropy (bits) of the cell counts of a table over n rows. */
  def entropy(counts: Iterable[Long], n: Long): Double = {
    var s = 0.0
    counts.foreach(c => if (c > 0) s += c * log2(c.toDouble))
    log2(n.toDouble) - s / n
  }

  /** Marginalises a 3-D table counts((x * cy + y) * cz + z) onto the axes
    * kept by `key`. */
  private def marginal(t: Array[Long], cy: Int, cz: Int)(
      key: (Int, Int, Int) => Int, size: Int): Array[Long] = {
    val out = new Array[Long](size)
    var i = 0
    while (i < t.length) {
      if (t(i) > 0) {
        val z = i % cz; val y = (i / cz) % cy; val x = i / (cz * cy)
        out(key(x, y, z)) += t(i)
      }
      i += 1
    }
    out
  }

  /** (I(X;Y), I(X;Y|Z)) of a 3-D table. */
  def miCmi(t: Array[Long], cx: Int, cy: Int, cz: Int, n: Long): (Double, Double) = {
    val m = marginal(t, cy, cz) _
    val hx = entropy(m((x, _, _) => x, cx), n)
    val hy = entropy(m((_, y, _) => y, cy), n)
    val hz = entropy(m((_, _, z) => z, cz), n)
    val hxy = entropy(m((x, y, _) => x * cy + y, cx * cy), n)
    val hxz = entropy(m((x, _, z) => x * cz + z, cx * cz), n)
    val hyz = entropy(m((_, y, z) => y * cz + z, cy * cz), n)
    val hxyz = entropy(t, n)
    (hx + hy - hxy, hxz + hyz - hxyz - hz)
  }

  /** One greedy selection: (feature, score) in selection order, and the
    * smallest gap between the winner and the runner-up over all steps. */
  final case class Path(steps: Array[(Int, Double)], minGap: Double)

  /** Oracle for one data set. Relevance and the per-selected-feature
    * (mi, cmi) vectors are memoised, so paths of several criteria that
    * share a prefix count each table once. */
  final class Oracle(val cols: Cols) {
    private val cz = cols.labelCard
    private val zeroCol = new Array[Byte](cols.n)

    /** I(X;Z): with a constant y column the 3-D table is the (x, z) table. */
    lazy val relevance: Array[Double] = Array.tabulate(cols.nf) { f =>
      val t = cols.counts3(f, zeroCol, 1)
      val m = marginal(t, 1, cz) _
      entropy(m((x, _, _) => x, cols.card(f)), cols.n) +
        entropy(m((_, _, z) => z, cz), cols.n) - entropy(t, cols.n)
    }

    private val redundancy = mutable.HashMap.empty[Int, Array[(Double, Double)]]

    def redundancyVs(y: Int): Array[(Double, Double)] =
      redundancy.getOrElseUpdate(y, {
        val ycol = cols.column(y); val cy = cols.card(y)
        Array.tabulate(cols.nf) { f =>
          if (f == y) (0.0, 0.0)
          else miCmi(cols.counts3(f, ycol, cy), cols.card(f), cy, cz, cols.n)
        }
      })

    def path(criterion: String, k: Int): Path = {
      val rel = relevance
      val nSel = math.min(k, cols.nf)
      if (criterion == "mim") {
        val order = rel.indices.sortBy(f => (-rel(f), f))
        val gaps = (0 until nSel).map(i =>
          if (i + 1 < order.length) rel(order(i)) - rel(order(i + 1))
          else Double.PositiveInfinity)
        return Path(order.take(nSel).map(f => (f, rel(f))).toArray, gaps.min)
      }
      val sumMi = new Array[Double](cols.nf)
      val sumCmi = new Array[Double](cols.nf)
      val maxLoss = new Array[Double](cols.nf)
      val capped = new Array[Double](cols.nf)
      val valid = Array.fill(cols.nf)(true)
      var nPrev = 0
      def score(f: Int): Double = criterion match {
        case "mifs" => rel(f) - 0.0 * sumMi(f)
        case "jmi" => if (nPrev == 0) rel(f) else rel(f) - (sumMi(f) - sumCmi(f)) / nPrev
        case "mrmr" => if (nPrev == 0) rel(f) else rel(f) - sumMi(f) / nPrev
        case "cmim" | "if" => rel(f) - maxLoss(f)
        case "icap" => rel(f) - capped(f)
      }
      val steps = mutable.ArrayBuffer.empty[(Int, Double)]
      var minGap = Double.PositiveInfinity
      while (steps.length < nSel) {
        var best = -1; var bestS = 0.0; var second = Double.NegativeInfinity
        var f = 0
        while (f < cols.nf) {
          if (valid(f)) {
            val s = score(f)
            if (best < 0 || s > bestS) {
              if (best >= 0) second = bestS
              best = f; bestS = s
            } else if (s > second) second = s
          }
          f += 1
        }
        minGap = math.min(minGap, bestS - second)
        steps += ((best, bestS))
        valid(best) = false
        if (steps.length < nSel) {
          val red = redundancyVs(best)
          f = 0
          while (f < cols.nf) {
            if (valid(f)) {
              val (mi, cmi) = red(f)
              sumMi(f) += mi; sumCmi(f) += cmi
              maxLoss(f) = math.max(maxLoss(f), mi - cmi)
              capped(f) += math.max(0.0, mi - cmi)
            }
            f += 1
          }
          nPrev += 1
        }
      }
      Path(steps.toArray, minGap)
    }
  }

  /** Mismatch description, or None when `got` equals `want` in indices
    * and within `tol` in scores. */
  def compare(want: Array[(Int, Double)], got: Array[(Int, Double)],
      tol: Double): Option[String] = {
    if (want.map(_._1).toSeq != got.map(_._1).toSeq)
      Some(s"path ${got.map(_._1).mkString(",")} != expected ${want.map(_._1).mkString(",")}")
    else want.zip(got).collectFirst {
      case ((f, a), (_, b)) if !(math.abs(a - b) <= tol) =>
        s"score of feature $f: $b != expected $a"
    }
  }
}
