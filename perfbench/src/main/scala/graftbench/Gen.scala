package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every row is a pure function of
  * (seed, row index), so the same seed gives the same bytes at any
  * parallelism, and the program only ever sees the generated rows. */
object Gen {

  /** Per-row random stream: a SplitMix-style mix of seed and index. */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  /** A seeded affine permutation of 0 until n. */
  def permute(seed: Long, stream: Long, i: Long, n: Long): Long = {
    val r = rng(seed, stream, -1)
    var a = 1 + 2 * r.nextLong(n)
    while (BigInt(a).gcd(n) != 1) a += 2
    (BigInt(a) * i + r.nextLong(n)).mod(n).toLong
  }

  // ---- documents: the shape of the sf0.1 `documents` table ----

  /** The base vocabulary: the 30 words the sf0.1 texts draw from, each
    * about equally often. "dup" only ever marks a near-duplicate. */
  val DocWords: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  /** sf0.1 language mix: 40% en, 15% each of es, zh, de and fr. */
  private val Langs = Array.fill(8)("en") ++ Array("es", "zh", "de", "fr").flatMap(Array.fill(3)(_))

  final case class Doc(doc_id: Long, text: String, lang: String,
                       source: String, n_chars: Long)

  /** 10 to 99 words, uniformly, as in sf0.1. */
  private def baseText(seed: Long, id: Long): String = {
    val r = rng(seed, 1, id)
    val n = 10 + r.nextInt(90)
    val sb = new StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(DocWords(r.nextInt(DocWords.length)))
      k += 1
    }
    sb.toString
  }

  /** Document `id` of `n`. Exactly one in 20, picked by the seed, is a
    * near-duplicate: the base text of a random other document plus
    * " dup", as in sf0.1. Two near-duplicates of one source are exact
    * duplicates of each other. */
  def doc(seed: Long, id: Long, n: Long): Doc = {
    val r = rng(seed, 2, id)
    val text =
      if (permute(seed, 22, id, n) < n / 20) {
        val src = (id + 1 + r.nextLong(n - 1)) % n
        baseText(seed, src) + " dup"
      } else baseText(seed, id)
    Doc(id, text, Langs(r.nextInt(Langs.length)), s"src${id % 20}", text.length.toLong)
  }

  /** `n` documents; with `shuffled`, in a seed-chosen row order. */
  def documents(spark: SparkSession, seed: Long, n: Int, shuffled: Boolean = false): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .map(j => doc(seed, if (shuffled) permute(seed, 20, j, n) else j, n)).toDF()
  }

  // ---- the vector table ----

  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** `n` unit vectors of `dim` floats drawn uniformly from the sphere,
    * each with a label in 0-9 that has nothing to do with the vector,
    * as in sf0.1; in a seed-chosen row order. */
  def embeddings(spark: SparkSession, seed: Long, n: Int, dim: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].map { j =>
      val id = permute(seed, 21, j, n)
      val r = rng(seed, 13, id)
      val v = Array.fill(dim)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(id, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }.toDF()
  }
}
