package graft.selbench

import java.util.SplittableRandom

/**
 * Seeded input generator with a planted structure, shared by every
 * workload. The class is a threshold of a latent score
 *
 *   s = sum_j 0.95^j (2 u_j - 1) + 2 (2 (a ^ b) - 1) + (2 a - 1) + 0.3 g
 *
 * over independent bits u_j, a, b and a Gaussian g (two classes: s > 0;
 * three: s below, inside or above [-1.5, 1.5]). The features are:
 *
 *  - `informative(j)`: u_j with 3 % of its values flipped. The bits are
 *    independent, so redundancy-aware criteria do not punish one for
 *    another, and relevance falls off with the weight;
 *  - `copies`: informative(0) with another 3 % flipped, which MIM ranks
 *    high and mRMR, CMIM, IF and ICAP pass over once informative(0) is in;
 *  - `xorA`, `xorB`: a and b. With two classes s is symmetric given b, so
 *    xorB alone carries no information; only JMI's conditional term
 *    I(xorB; xorA | Y) surfaces it once xorA is selected.
 *
 * Twelve informative features, two copies and the pair give every criterion
 * more candidates well above the noise than k = 10, so selection paths never
 * reach the noise features, where near-ties would make the tie-break
 * decide. Every planted index comes from a seeded permutation of the
 * feature space.
 */
final case class Planted(nf: Int, classes: Int, informative: Array[Int],
    copies: Array[Int], xorA: Int, xorB: Int) {
  val all: Set[Int] = (informative ++ copies :+ xorA :+ xorB).toSet
}

object Planted {
  val NInformative = 12
  val NCopies = 2

  def apply(nf: Int, classes: Int, seed: Long): Planted = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val perm = Array.range(0, nf)
    val need = NInformative + NCopies + 2
    var i = 0
    while (i < need) {
      val j = i + rng.nextInt(nf - i)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i += 1
    }
    Planted(nf, classes, perm.slice(0, NInformative),
      perm.slice(NInformative, NInformative + NCopies),
      perm(NInformative + NCopies), perm(NInformative + NCopies + 1))
  }
}

/** The latent draws of one row, from which each workload encodes values:
  * the class, the flipped bits of the informative features and copies. */
final class Latent(val y: Int, val noisy: Array[Int], val copyClass: Array[Int],
    val a: Int, val b: Int)

object Gen {

  /** Independent, reproducible stream per (seed, row): rows can be drawn in
    * any order or partitioning and still come out the same. */
  def rowRng(seed: Long, row: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + row * 0xBF58476D1CE4E5B9L)

  def latent(rng: SplittableRandom, classes: Int): Latent = {
    val a = rng.nextInt(2); val b = rng.nextInt(2)
    val u = Array.fill(Planted.NInformative)(rng.nextInt(2))
    var s = 2.0 * (2 * (a ^ b) - 1) + (2 * a - 1) + 0.3 * rng.nextGaussian()
    var j = 0
    while (j < u.length) { s += math.pow(0.95, j) * (2 * u(j) - 1); j += 1 }
    val y =
      if (classes == 2) (if (s > 0) 1 else 0)
      else if (s < -1.5) 0 else if (s > 1.5) 2 else 1
    val noisy = u.map(v => if (rng.nextDouble() < 0.03) 1 - v else v)
    val copyClass = Array.fill(Planted.NCopies) {
      if (rng.nextDouble() < 0.03) 1 - noisy(0) else noisy(0)
    }
    new Latent(y, noisy, copyClass, a, b)
  }

  /** dense-tall: continuous values (label, features). */
  def continuousRow(p: Planted, seed: Long, row: Long): (Int, Array[Double]) = {
    val rng = rowRng(seed, row)
    val l = latent(rng, p.classes)
    val v = Array.fill(p.nf)(rng.nextGaussian())
    var j = 0
    while (j < p.informative.length) {
      v(p.informative(j)) = l.noisy(j) + 0.35 * rng.nextGaussian(); j += 1
    }
    val inf0 = v(p.informative(0))
    p.copies.foreach(c => v(c) = inf0 + 0.05 * rng.nextGaussian())
    v(p.xorA) = l.a + 0.2 * rng.nextGaussian()
    v(p.xorB) = l.b + 0.2 * rng.nextGaussian()
    (l.y, v)
  }

  /** reference-fits: byte values; noise feature f has 2 + f % 15 levels. */
  def byteRow(p: Planted, seed: Long, row: Long): (Int, Array[Byte]) = {
    val rng = rowRng(seed, row)
    val l = latent(rng, p.classes)
    val v = Array.tabulate(p.nf)(f => rng.nextInt(2 + f % 15).toByte)
    var j = 0
    while (j < p.informative.length) {
      v(p.informative(j)) = (2 * l.noisy(j) + rng.nextInt(2)).toByte; j += 1
    }
    j = 0
    while (j < p.copies.length) {
      v(p.copies(j)) = (2 * l.copyClass(j) + rng.nextInt(2)).toByte; j += 1
    }
    v(p.xorA) = l.a.toByte
    v(p.xorB) = l.b.toByte
    (l.y, v)
  }

  /** sparse-libsvm: `noiseNnz` random noise entries plus the planted
    * features, each present when its class bit is 1. Returns (label,
    * sorted indices, values in 1..4). Requires 2 classes. */
  def sparseRow(p: Planted, seed: Long, row: Long,
      noiseNnz: Int): (Int, Array[Int], Array[Byte]) = {
    val rng = rowRng(seed, row)
    val l = latent(rng, p.classes)
    val entries = scala.collection.mutable.LongMap.empty[Byte]
    var j = 0
    while (j < p.informative.length) {
      if (l.noisy(j) == 1) entries(p.informative(j)) = (1 + rng.nextInt(3)).toByte
      j += 1
    }
    j = 0
    while (j < p.copies.length) {
      if (l.copyClass(j) == 1) entries(p.copies(j)) = (1 + rng.nextInt(3)).toByte
      j += 1
    }
    if (l.a == 1) entries(p.xorA) = 1
    if (l.b == 1) entries(p.xorB) = 1
    var added = 0
    while (added < noiseNnz) {
      val f = rng.nextInt(p.nf)
      if (!p.all.contains(f) && !entries.contains(f)) {
        entries(f) = (1 + rng.nextInt(4)).toByte; added += 1
      }
    }
    val idx = entries.keys.map(_.toInt).toArray.sorted
    (l.y, idx, idx.map(i => entries(i.toLong)))
  }
}
