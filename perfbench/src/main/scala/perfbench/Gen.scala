package perfbench

/** Stateless seeded randomness: every draw is a pure function of the
  * seed and a key path, so generated responses do not depend on the
  * order in which the program asks for them. */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, key: Long*): Long =
    key.foldLeft(mix(seed))((acc, k) => mix(acc ^ k))

  def unit(seed: Long, key: Long*): Double =
    (hash(seed, key: _*) >>> 11).toDouble / (1L << 53).toDouble

  def below(n: Int, seed: Long, key: Long*): Int =
    (unit(seed, key: _*) * n).toInt.min(n - 1)

  /** Seeded permutation of 0 until n. */
  def shuffle(n: Int, seed: Long, key: Long*): Vector[Int] =
    (0 until n).toVector.sortBy(i => hash(seed, key :+ i.toLong: _*))
}

/** Seeded text: a fixed synthetic vocabulary drawn Zipf-skewed. Words
  * are letters only and at least four long, so generated text never
  * contains an issue reference or an English stopword by accident. */
object Text {
  private val syllables = Vector("ka", "lo", "mi", "ne", "ru", "ta", "vi",
    "so", "pe", "du", "ga", "ri", "zo", "fe", "bu", "ho")

  val vocabSize = 3000

  val vocab: Vector[String] = Vector.tabulate(vocabSize) { i =>
    val a = syllables(i % 16)
    val b = syllables((i / 16) % 16)
    val c = if (i >= 256) syllables((i / 256) % 16) else ""
    val d = if (i >= 256 * 16) syllables(i / 4096) else ""
    a + b + c + d
  }

  private val cumulative: Array[Double] = {
    val w = Array.tabulate(vocabSize)(i => 1.0 / math.pow(i + 1, 1.05))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  /** Rank of a Zipf draw for uniform `u` in [0, 1). */
  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cumulative, u)
    (if (i >= 0) i else -i - 1).min(vocabSize - 1)
  }

  def word(seed: Long, key: Long*): String =
    vocab(zipfRank(Rng.unit(seed, key: _*)))

  /** A Zipf draw restricted to the `k` most frequent words. */
  def commonWord(k: Int, seed: Long, key: Long*): String =
    vocab(zipfRank(Rng.unit(seed, key: _*) * cumulative(k - 1)))

  def words(n: Int, seed: Long, key: Long*): String =
    (0 until n).map(i => word(seed, key :+ i.toLong: _*)).mkString(" ")
}
