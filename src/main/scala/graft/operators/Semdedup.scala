package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
  * arXiv:2303.09540): k-means-cluster the embedding corpus, then look
  * for near-duplicate pairs ONLY within a cluster — the clustering
  * turns the quadratic all-pairs search into k independent
  * (n/k)²-sized problems, and k grows with the corpus so per-cluster
  * work stays bounded. A document is dropped when some smaller-id
  * cluster-mate sits above the cosine threshold (deterministic
  * keep-lowest-id, the same greedy convention the exact dedup family
  * uses).
  *
  * Spark shape: the trainer ([[Similarity.kmeansCentroids]]) collects
  * only the k·dim centroid table per iteration; assignment is one
  * broadcast cross join + map-side argmax; the within-cluster pair
  * enumeration is an equi-join on `centroid` (hash-partitioned, AQE
  * splittable) evaluated with the codegen `cosine_sim` expression; and
  * the verdict per document is one distinct + left join. Nothing
  * driver-side beyond the centroids.
  *
  * The oracle replays the identical Lloyd iterations via
  * [[Similarity.kmeansSqlCte]] and the identical pair predicate —
  * cluster sizes, drop counts, and rates all hash-match.
  */
object Semdedup {

  private val K = 16
  private val ITERS = 2
  // measured at sf0.01: max pairwise cosine in this corpus is 0.51 and
  // true-neighbor cosines sit at 0.45–0.6 barely above background (the
  // documented property that also blunts hyperplane LSH here) — 0.4
  // drops the close-neighbor tail; a web corpus with verbatim mirrors
  // would run 0.9+
  private val TAU = 0.4

  /** Each vector `(vec_id, embedding)` with `centroid`, its nearest of
    * the K trained centroids (checkpointed). */
  private def assigned(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    // literal trainer + shuffle-free assignment (r11 verdict #3)
    val cents = Similarity.kmeansCentroidsLocal(emb, K, ITERS, 64)
    Similarity.assignLiteral(emb, cents)
      .localCheckpoint()
  }

  /** SQL mirror of [[assigned]]: the trained `cents` and
    * `asg(vec_id, centroid)`. */
  private def sqlAssigned: String = s"""${Similarity.kmeansSqlCte(K, ITERS, 64)},
        asg AS (
          SELECT vec_id, centroid FROM (
            SELECT e.vec_id, c.centroid,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]) DESC,
                              c.centroid) AS rn
            FROM embeddings e, cents c)
          WHERE rn = 1)"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "pl_semdedup",
      Some(s"""
        WITH $sqlAssigned,
        pairs AS (
          SELECT b.vec_id AS j
          FROM asg a
          JOIN asg b ON a.centroid = b.centroid AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
          WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) >= $TAU),
        dropped AS (SELECT DISTINCT j FROM pairs)
        SELECT CAST(asg.centroid AS BIGINT) AS centroid,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(COUNT(d.j) AS BIGINT) AS n_dropped,
               CAST(COUNT(d.j) AS DOUBLE) / COUNT(*) AS drop_rate
        FROM asg LEFT JOIN dropped d ON d.j = asg.vec_id
        GROUP BY asg.centroid
        ORDER BY centroid
      """.trim),
      (s, d) => {
        val asg = assigned(s, d)
        val a = asg.select(col("centroid"), col("vec_id").as("i"), col("embedding").as("ei"))
        val b = asg.select(col("centroid"), col("vec_id").as("j"), col("embedding").as("ej"))
        val dropped = a.join(b, Seq("centroid"))
          .filter(col("i") < col("j") &&
            Similarity.cosineNative(col("ei"), col("ej")) >= TAU)
          .select(col("j")).distinct()
        asg.join(dropped.withColumn("hit", lit(1)), asg("vec_id") === dropped("j"), "left")
          .groupBy(col("centroid").cast("long").as("centroid"))
          .agg(count(lit(1)).as("cluster_size"),
            count(col("hit")).as("n_dropped"),
            (count(col("hit")).cast("double") / count(lit(1))).as("drop_rate"))
          .orderBy(col("centroid"))
      }),

    // The threshold dial for the same recipe: candidate-pair volume and
    // distinct-drop counts at τ ∈ {0.35, 0.40, 0.45} from ONE
    // within-cluster pair enumeration (τ ≥ 0.35 prefilter, then
    // conditional counts per threshold) — the semantic twin of
    // dd_lsh_tuning's S-curve readout: pick the τ whose drop volume
    // matches the dedup budget before committing a corpus-wide run.
    // The threshold table DRIVES the aggregation (left join to the
    // counts) so the readout always emits one row per τ, zeros
    // included — an empty readout must mean "not run", never "nothing
    // matched".
    QueryDef(
      "pl_semdedup_sweep",
      Some(s"""
        WITH $sqlAssigned,
        p AS (
          SELECT b.vec_id AS j,
                 list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS cos
          FROM asg a
          JOIN asg b ON a.centroid = b.centroid AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
          WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) >= 0.35),
        t(tau) AS (VALUES (CAST(0.35 AS DOUBLE)), (CAST(0.40 AS DOUBLE)), (CAST(0.45 AS DOUBLE))),
        g AS (
          SELECT tau,
                 CAST(COUNT(CASE WHEN cos >= tau THEN 1 END) AS BIGINT) AS n_pairs,
                 CAST(COUNT(DISTINCT CASE WHEN cos >= tau THEN j END) AS BIGINT) AS n_dropped
          FROM p CROSS JOIN t
          GROUP BY tau)
        SELECT t.tau,
               COALESCE(g.n_pairs, 0) AS n_pairs,
               COALESCE(g.n_dropped, 0) AS n_dropped
        FROM t LEFT JOIN g ON g.tau = t.tau
        ORDER BY t.tau
      """.trim),
      (s, d) => {
        import s.implicits._
        val asg = assigned(s, d)
        val a = asg.select(col("centroid"), col("vec_id").as("i"), col("embedding").as("ei"))
        val b = asg.select(col("centroid"), col("vec_id").as("j"), col("embedding").as("ej"))
        val p = a.join(b, Seq("centroid"))
          .filter(col("i") < col("j"))
          .select(col("j"), Similarity.cosineNative(col("ei"), col("ej")).as("cos"))
          .filter(col("cos") >= 0.35)
        val taus = Seq(0.35, 0.40, 0.45).toDF("tau")
        val g = p.crossJoin(broadcast(taus))
          .groupBy(col("tau"))
          .agg(count(when(col("cos") >= col("tau"), 1)).as("n_pairs"),
            countDistinct(when(col("cos") >= col("tau"), col("j"))).as("n_dropped"))
        taus.join(g, Seq("tau"), "left")
          .select(col("tau"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
          .orderBy(col("tau"))
      }))
}
