package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The LSH banding shared by q12 (MinHash bands over documents) and
  * q15/q19 (random-hyperplane bands over embeddings): one bucket row
  * per (item, band), then a self-join within buckets. Only ids and
  * band hashes go through the join shuffle, never the payloads. */
private[queries] object Lsh {

  /** (`id`, band, `hash`): one row per input row and band, band t
    * holding `bandHashes(t)`. Cached: the table feeds both sides of
    * the bucket self-join, which would otherwise rebuild the
    * signatures once per side. */
  def bandTable(df: DataFrame, id: String, hash: String, bandHashes: Seq[Column]): DataFrame = {
    val bands = bandHashes.zipWithIndex.map { case (h, t) =>
      struct(lit(t).as("band"), h.as(hash))
    }
    TempCaches.cached(
      df.select(col(id), explode(array(bands: _*)).as("bb"))
        .select(col(id), col("bb.band").as("band"), col(s"bb.$hash").as(hash)))
  }

  /** Every unordered pair (`lo` < `hi`) of ids sharing a bucket in at
    * least one band of the [[bandTable]] `t`, each pair once however
    * many bands it collides in. */
  def bucketPairs(t: DataFrame, id: String, hash: String, lo: String, hi: String): DataFrame =
    t.as("a").join(t.as("b"),
        col("a.band") === col("b.band") && col(s"a.$hash") === col(s"b.$hash") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as(lo), col(s"b.$id").as(hi))
      .distinct()
}
