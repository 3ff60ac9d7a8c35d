package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Value pins for the near-duplicate pair queries, run through the
  * registry on a tiny hand-built `documents` table: q07 (exact
  * shingle Jaccard), q18 (q07 with the hot-shingle df cap) and q12
  * (MinHash-LSH candidates verified with exact Jaccard). */
class NearDupSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // eleven copies of a 3-token text: their one shingle has df 11, above
  // q18's cap of 10, so only q07 and q12 pair them
  private val hotIds = 100L until 111L
  private val rows = Seq(
    1L -> "a b c d e", // abc bcd cde
    2L -> "b c d e f", // bcd cde def: 2 shared of 4 => Jaccard exactly 0.5
    3L -> "the quick brown fox jumps over",
    4L -> "the quick brown fox jumps over",
    5L -> "an unrelated short document here") ++ hotIds.map(_ -> "x y z")

  private lazy val sfDir: String = {
    val dir = Files.createTempDirectory("graft-neardup").toString
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** (doc1, doc2) -> (common, jaccard) of one registry query. */
  private def pairs(q: String): Map[(Long, Long), (Long, Double)] =
    try graft.SparkEntry.queries(q)(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    finally TempCaches.release(spark)

  private val hotPairs: Map[(Long, Long), (Long, Double)] =
    (for (a <- hotIds; b <- hotIds if a < b) yield (a, b) -> (1L, 1.0)).toMap

  test("q07 keeps the Jaccard-0.5 pair (>=) and every identical-text pair") {
    assert(pairs("q07_shingle_jaccard") ==
      Map((1L, 2L) -> (2L, 0.5), (3L, 4L) -> (4L, 1.0)) ++ hotPairs)
  }

  test("q18 equals q07 minus the pairs only a shingle in more than 10 docs joins") {
    val q18 = pairs("q18_shingle_jaccard_capped")
    assert(q18 == pairs("q07_shingle_jaccard") -- hotPairs.keys)
    assert(q18.get((1L, 2L)).contains((2L, 0.5)))
  }

  test("q12 is a subset of q07 with identical common and jaccard, and finds identical texts") {
    val q07 = pairs("q07_shingle_jaccard")
    val q12 = pairs("q12_minhash_lsh")
    assert(q12.forall { case (k, v) => q07.get(k).contains(v) }, q12)
    assert(q12.get((3L, 4L)).contains((4L, 1.0)), q12)
  }
}
