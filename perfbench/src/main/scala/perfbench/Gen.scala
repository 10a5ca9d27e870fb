package perfbench

import scala.util.Random

/** Seeded input generators. The engine never sees a seed: it receives
  * only the rows made here, and the same seed always yields the same
  * rows. */
object Gen {

  /** Component means of a Gaussian mixture: each coordinate ~ N(0, spread²). */
  def centers(rnd: Random, comps: Int, dim: Int, spread: Double): Array[Array[Float]] =
    Array.fill(comps)(Array.fill(dim)((rnd.nextGaussian() * spread).toFloat))

  /** One point around `center` with per-coordinate noise N(0, sigma²). */
  def around(rnd: Random, center: Array[Float], sigma: Double): Array[Float] =
    center.map(c => (c + rnd.nextGaussian() * sigma).toFloat)

  /** `n` points from the mixture: a uniformly chosen component plus noise. */
  def sample(rnd: Random, cs: Array[Array[Float]], sigma: Double, n: Int): Array[Array[Float]] =
    Array.fill(n)(around(rnd, cs(rnd.nextInt(cs.length)), sigma))

  /** `size` distinct lowercase words of 3 to 8 letters. They are already
    * single tokens under the engine's tokenisation (lowercase, split on
    * runs of [^a-z0-9]). */
  def vocabulary(rnd: Random, size: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val len = 3 + rnd.nextInt(6)
      seen += Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  /** Zipf(exponent 1) sampler over word ranks 0 until n. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def document(rnd: Random, vocab: Array[String], zipf: Zipf, len: Int): Array[String] =
    Array.fill(len)(vocab(zipf.next(rnd)))

  /** An edited copy: each token is replaced by a random word with
    * probability `rate`. */
  def edit(rnd: Random, toks: Array[String], rate: Double, vocab: Array[String],
           zipf: Zipf): Array[String] =
    toks.map(t => if (rnd.nextDouble() < rate) vocab(zipf.next(rnd)) else t)

  /** Text the engine tokenises back into `toks`: words are split into
    * capitalised sentences ending in ". ", so tokenisation has to fold
    * case and drop punctuation. */
  def text(rnd: Random, toks: Array[String]): String = {
    val sb = new StringBuilder
    toks.indices.foreach { i =>
      val sentenceStart = i == 0 || rnd.nextInt(8) == 0
      if (i > 0) sb.append(if (sentenceStart) ". " else " ")
      sb.append(if (sentenceStart) toks(i).capitalize else toks(i))
    }
    sb.toString
  }
}
