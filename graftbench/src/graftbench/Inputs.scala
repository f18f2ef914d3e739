package graftbench

import java.sql.Timestamp

import scala.util.Random

/** One measurement of one key. `z` is a noisy local-trend level, `(x, y)` a linear
  * regression sample, `y2` its squared-model twin for the EKF and `u` a squared
  * level for the UKF. Times are strictly increasing per key, so (k, t) is tie-free. */
final case class Meas(k: Long, t: Timestamp, z: Double, x: Double, y: Double, y2: Double, u: Double)

/** A row of the keyed stream. */
final case class StreamRow(k: Long, t: Timestamp, z: Double, x: Double, y: Double)

final case class Doc(id: Long, text: String)

/** Seeded input generators. The program under test sees only what they produce. */
object Inputs {
  val BaseMs: Long = 1704067200000L // 2024-01-01T00:00:00Z

  /** Rows per key: one hot key takes `hotShare` of the rows, the rest follow a Zipf
    * law with exponent `s` over the remaining keys; every key gets at least two rows. */
  def zipfCounts(rows: Int, keys: Int, s: Double, hotShare: Double): Array[Int] = {
    val hot = (rows * hotShare).toInt
    val w = (1 until keys).map(i => 1.0 / math.pow(i.toDouble, s))
    val sum = w.sum
    val rest = (rows - hot - 2 * (keys - 1)).max(0)
    val counts = Array(hot) ++ w.map(x => 2 + (rest * x / sum).toInt)
    counts(1) += rows - counts.sum
    counts
  }

  /** The measurements of key `k` (deterministic in seed and key). */
  def keyRows(seed: Long, k: Long, n: Int): Array[Meas] = {
    val r = new Random(seed * 1000003L + k)
    var level = r.between(-10.0, 10.0)
    val slope = r.nextGaussian() * 0.05
    val (a, b) = (r.between(-2.0, 2.0), r.between(0.5, 1.5))
    val (c0, c1) = (r.between(1.0, 2.0), r.between(0.1, 0.3))
    var ms = BaseMs + r.nextInt(60000)
    Array.tabulate(n) { j =>
      ms += 60000L + r.nextInt(30000)
      level += slope + r.nextGaussian() * 0.3
      val x = r.between(0.0, 10.0)
      val s = 3.0 + 0.5 * math.sin(j / 10.0)
      Meas(k, new Timestamp(ms), level + r.nextGaussian() * 1.5, x,
        a + b * x + r.nextGaussian() * 0.5,
        math.pow(c0 + c1 * x, 2) + r.nextGaussian() * 0.5,
        s * s + r.nextGaussian())
    }
  }

  /** (key id, row count) pairs; key 0 is the hot key. Ids and counts do not depend on
    * the seed, so every seed hashes the same load onto the same shuffle partitions. */
  def keyPlan(rows: Int, keys: Int, s: Double, hotShare: Double): Array[(Long, Int)] =
    zipfCounts(rows, keys, s, hotShare).zipWithIndex.map { case (n, k) => (k.toLong, n) }

  /** Micro-batch `b` of the keyed stream: `size` rows over a fixed key population,
    * keys drawn uniformly, event times strictly increasing across the whole stream. */
  def streamBatch(seed: Long, b: Int, size: Int, keys: Int): Array[StreamRow] = {
    val r = new Random(seed * 7919L + b)
    Array.tabulate(size) { i =>
      val k = r.nextInt(keys).toLong
      val x = r.between(0.0, 10.0)
      val level = (k % 17).toDouble + 0.01 * b
      StreamRow(k, new Timestamp(BaseMs + (b.toLong * size + i) * 1000L),
        level + r.nextGaussian(), x, 0.5 + 0.1 * (k % 7) + 0.8 * x + r.nextGaussian() * 0.3)
    }
  }

  /** Pseudo-words: `vocab` distinct lowercase strings. */
  def vocabulary(vocab: Int): Array[String] = Array.tabulate(vocab) { i =>
    val sb = new StringBuilder
    var v = i + 26 * 26
    while (v > 0) { sb.append(('a' + v % 26).toChar); v /= 26 }
    sb.toString
  }

  /** A corpus with a Zipf vocabulary and planted near-duplicate clusters.
    * Each cluster is an original plus `1 + r.nextInt(3)` copies, each with one
    * word substituted; returns the docs and the planted clusters' doc ids. */
  def corpus(seed: Long, docs: Int, vocab: Int, dupRate: Double): (Array[Doc], Seq[Seq[Long]]) = {
    val r = new Random(seed)
    val words = vocabulary(vocab)
    val cdf = {
      val w = (1 to vocab).map(i => 1.0 / math.pow(i.toDouble, 1.1)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(if (i >= 0) i else -i - 1)
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    while (texts.size < docs) {
      val base = Array.fill(60 + r.nextInt(81))(word())
      texts += base.mkString(" ")
      if (r.nextDouble() < dupRate / 2 && texts.size < docs) {
        val members = scala.collection.mutable.ArrayBuffer(texts.size - 1L)
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          if (texts.size < docs) {
            val copy = base.clone()
            copy(r.nextInt(copy.length)) = word()
            members += texts.size.toLong
            texts += copy.mkString(" ")
          }
        }
        clusters += members.toSeq
      }
    }
    // shuffle ids so that cluster members are not adjacent
    val perm = r.shuffle(texts.indices.toVector).map(_.toLong)
    val docsOut = texts.indices.map(i => Doc(perm(i), texts(i))).toArray
    (docsOut, clusters.map(_.map(i => perm(i.toInt))).toSeq)
  }
}
