package graft

import org.apache.spark.sql.functions._

/** The fused literal-centroid trainer (r11 verdict #3) must be a pure
  * plan-shape change: same centroids, same assignments, bit for bit.
  * [[operators.Similarity.assignLiteral]] is compared against the
  * broadcast-join `ivfAssignments` on the real embedding corpus, and
  * the trained model against the unrolled SQL oracle's contract is
  * already pinned by the sim_ivf_kmeans_ann driver gate — this spec
  * pins the Scala-side equivalence the refactor relies on. */
class KmeansLiteralSpec extends SparkSpec {

  test("assignLiteral == broadcast-join nearest-centroid assignment") {
    val emb = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val cents = operators.Similarity.kmeansCentroidsLocal(emb, 16, 2, 64)
    assert(cents.length == 16)
    val viaLiteral = operators.Similarity.assignLiteral(emb, cents)
      .select(col("vec_id"), col("centroid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    import spark.implicits._
    val centsDf = cents.toDF("centroid", "cemb")
      .select(col("centroid"), col("cemb").cast("array<float>").as("cemb"))
    val viaJoin = operators.Similarity.ivfAssignments(emb, 16, Some(centsDf))
      .select(col("vec_id"), col("centroid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaLiteral == viaJoin)
  }

  test("trained centroids are stable across the fused rewrite's repeat runs") {
    val emb = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val a = operators.Similarity.kmeansCentroidsLocal(emb, 8, 2, 64)
    val b = operators.Similarity.kmeansCentroidsLocal(emb, 8, 2, 64)
    assert(a == b)
  }

  test("count-based trainer partitions stay capped past Int range") {
    // unknown-stats corpora size the trainer from count(): ~2k rows per
    // task, floor 4, capped at the cores. (count / 2000).toInt used to
    // wrap negative here and pin the floor.
    val huge = 2000L * Int.MaxValue + 2000L * 1000L
    assert(operators.Similarity.trainPartsForCount(huge, 32) == 32)
    assert(operators.Similarity.trainPartsForCount(2000L * (1L << 31), 32) == 32)
    assert(operators.Similarity.trainPartsForCount(20000L, 32) == 10)
    assert(operators.Similarity.trainPartsForCount(100L, 32) == 4)
  }
}
