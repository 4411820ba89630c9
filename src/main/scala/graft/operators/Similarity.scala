package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Similarity search over the `embeddings` table (`ARRAY<FLOAT>`, dim 64).
  *
  * Two paths:
  *  - [[cosineTopK]] — brute-force baseline: query-set × corpus with a
  *    per-row fold for the dot product. The fold (`aggregate`) sums
  *    left-to-right in double, which is bit-identical to DuckDB's list
  *    functions — verified empirically — so the oracle needs no rounding.
  *    O(|Q|·n): right for small query sets; the corpus side stays
  *    partitioned and the query side broadcasts.
  *  - [[lshBuckets]] — scale path: deterministic random-hyperplane LSH.
  *    Each vector reduces to an 8-bit bucket; ANN search joins buckets
  *    only. Bucket sums go through DECIMAL — a groupBy sum of doubles is
  *    order-dependent and would break both oracle parity and run-to-run
  *    reproducibility at scale.
  */
object Similarity {

  /** Sequential-fold dot product in double — deterministic. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The native codegen'd formulation ([[graft.functions.CosineSimilarity]])
    * — bit-identical to [[cosine]], used in the query surface; callers
    * ensure [[graft.functions.GraftFunctions.register]] ran. */
  def cosineNative(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** IVF-flat index artifacts: coarse centroids and an assignment of
    * every vector to its nearest centroid. The assignment is ONE
    * broadcast join + an argmax aggregation; ANN search then probes
    * only the query's nProbe nearest centroid lists — cost
    * |Q|·(n/nCentroids)·nProbe instead of |Q|·n. At cluster scale the
    * corpus is repartitioned by `centroid` so each probe is a
    * partition-local scan. Centroids: first-nCentroids corpus vectors
    * by default (deterministic baseline), or pass a trained set from
    * [[kmeansCentroids]]. */
  def ivfAssignments(emb: DataFrame, nCentroids: Int,
      centroidsOpt: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val centroids = broadcast(centroidsOpt.getOrElse(
      emb.filter(col("vec_id") < nCentroids)
        .select(col("vec_id").as("centroid"), col("embedding").as("cemb"))))
    nearestCentroid(emb, centroids)
  }

  /** Argmax assignment: nearest centroid per vector, ties broken on the
    * smaller centroid id (same order as `ROW_NUMBER ... ccos DESC,
    * centroid ASC` = 1, which the oracles use). `max_by` over a
    * `(ccos, -centroid)` struct instead of a ranking window: the
    * broadcast cross join emits a vector's candidate rows consecutively
    * in its own partition, so partial aggregation collapses them
    * map-side and the shuffle carries one row per vector — a window
    * would shuffle and sort every candidate row. */
  private def nearestCentroid(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb.crossJoin(centroids)
      .select(col("vec_id"), col("embedding"), col("centroid"),
        cosineNative(col("embedding"), col("cemb")).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("centroid"), struct(col("ccos"), (-col("centroid")).as("nc"))).as("centroid"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("centroid"))

  /** Deterministic Lloyd k-means over the embedding corpus, mirrored
    * bit-for-bit by an unrolled SQL oracle ([[kmeansSqlCte]]):
    *  - init = first k corpus vectors (fixed seed-free start);
    *  - assignment = cosine, ties broken on centroid id;
    *  - means accumulate per-dimension in DECIMAL(28,12) (groupBy sums
    *    of doubles are order-dependent; decimal sums make the result
    *    independent of partitioning), divide in double, round to float
    *    (both engines round IEEE nearest) so the next iteration's
    *    cosine runs on identical bits;
    *  - empty clusters keep their previous centroid.
    * Each iteration aggregates distributed and collects only the k·dim
    * centroid table to the driver for re-broadcast — the standard
    * distributed k-means shape (bounded model state, like MLlib's). */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int, dim: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    broadcast(kmeansCentroidsLocal(emb, k, iters, dim)
      .toDF("centroid", "cemb")
      .select(col("centroid"), col("cemb").cast("array<float>").as("cemb")))
  }

  /** [[kmeansCentroids]] with the model returned driver-side — the k·dim
    * floats ARE driver state by contract (they re-broadcast every
    * iteration), so callers that can consume the literal form skip a
    * round-trip through a DataFrame and can use [[assignLiteral]] for
    * shuffle-free assignment. */
  def kmeansCentroidsLocal(emb: DataFrame, k: Int, iters: Int,
      dim: Int): Seq[(Long, Seq[Float])] = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    // The corpus is scanned iters+1 times during training (one fused
    // assignment+means pass per iteration, plus init) — cache it for
    // the duration, at a partition count derived from the corpus: one
    // ~2k-row / ~800 KB slice per task (the fused pass is k·dim flops
    // per row — CPU-dense over byte-small rows, so AQE's byte
    // heuristics under-parallelize it), floor 4 (a 2k-vector fixture
    // on 32 default partitions pays 32 task launches per scan for
    // zero gain), capped at the session's scheduling slots. Derivation
    // is stats-first — parquet-backed corpora answer from plan-time
    // file bytes with NO decision job — falling back to a count() only
    // when stats are the unknown-stats sentinel (checkpointed corpora,
    // whose blocks are already materialized, so the count is one cheap
    // cached pass). Model state (k·dim floats) is the only thing that
    // ever reaches the driver, same contract as MLlib's k-means.
    val cores = spark.sparkContext.defaultParallelism
    val statBytes = emb.queryExecution.optimizedPlan.stats.sizeInBytes
    val trainParts =
      if (statBytes < (1L << 50))
        (statBytes / (800L << 10) + 1).min(BigInt(cores)).max(BigInt(4)).toInt
      else trainPartsForCount(emb.count(), cores)
    val cached = emb.repartition(trainParts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents: Seq[(Long, Seq[Float])] = cached.filter(col("vec_id") < k)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .collect().sortBy(_._1).toSeq
      for (_ <- 1 to iters) {
        // Fused assignment+update (r11 verdict #3 — the trainer's
        // per-iteration job had TWO shuffles: a broadcast crossJoin +
        // groupBy(vec_id) argmax carrying every embedding, then the
        // per-(centroid, d) means). The centroids are driver state
        // already, so the argmax is a pure PROJECTION over literal
        // centroid arrays ([[argminLiteral]]) — bit-identical cosines
        // (same cosine_sim expression, same float inputs), same
        // (ccos desc, centroid asc) tiebreak — and the iteration
        // becomes scan → project → posexplode → ONE k·dim-row
        // aggregate. Means accumulate per-dimension in DECIMAL(28,12)
        // (groupBy sums of doubles are order-dependent), divide in
        // double, round to float — unchanged arithmetic.
        // withColumn barrier BEFORE the explode: a single
        // select(argmin, posexplode) puts the argmin in the Project
        // ABOVE the Generate (analyzer ExtractGenerator), so the k·dim
        // cosine scoring ran once per EXPLODED row — dim× too often
        // (micro-benched 839 → 226 ms per iteration at 2000×64).
        // The separate projection keeps it once per input row; Generate
        // then just carries the computed centroid through.
        val meanRows = cached
          .withColumn("centroid", argminLiteral(col("embedding"), cents))
          .select(col("centroid"),
            posexplode(col("embedding")).as(Seq("d", "v")))
          .groupBy(col("centroid"), col("d"))
          .agg((sum(col("v").cast(DecimalType(28, 12))).cast("double") /
            count(lit(1))).cast("float").as("vr"))
          .select(col("centroid"), col("d"), col("vr"))
          .as[(Long, Int, Float)].collect()
        val means = meanRows.groupBy(_._1).map { case (cid, rows) =>
          cid -> rows.sortBy(_._2).map(_._3).toSeq
        }
        cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
      }
      cents
    } finally cached.unpersist(blocking = false)
  }

  /** Nearest-centroid id over a LITERAL centroid set, as one codegen'd
    * projection: `least` over (−cos, centroid) structs reproduces the
    * (ccos desc, centroid asc) argmax tiebreak exactly — the same
    * lexicographic struct minimum as `array_min(array(...))`, but
    * `Least` generates inline comparison code while `ArrayMin` falls
    * back to an interpreted per-element ordering (micro-benched 359 →
    * 82 ms over 2000×64). No join, no shuffle — each row scores k
    * literal arrays in place. */
  private def argminLiteral(embCol: Column,
      cents: Seq[(Long, Seq[Float])]): Column = {
    val structs = cents.map { case (cid, v) =>
      struct((-cosineNative(embCol, typedLit(v))).as("nc"),
        lit(cid).as("centroid"))
    }
    val minStruct =
      if (structs.size == 1) structs.head else least(structs: _*)
    minStruct.getField("centroid")
  }

  /** Shuffle-free counterpart of [[ivfAssignments]] for a literal
    * centroid set: (vec_id, embedding, centroid) via [[argminLiteral]].
    * Same assignment as `nearestCentroid(emb, toDF(cents))` — the spec
    * pins the equivalence — at zero exchanges. */
  def assignLiteral(emb: DataFrame, cents: Seq[(Long, Seq[Float])]): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding"),
      argminLiteral(col("embedding"), cents).as("centroid"))
  }

  /** Unrolled SQL mirror of [[kmeansCentroids]]: CTEs c0..c{iters},
    * ending in a `${prefix}cents(centroid, cemb)` relation. Splice into
    * an oracle with `WITH ${kmeansSqlCte(k, iters, dim)}, ...`. `src`
    * names the (vec_id, embedding) relation to train on and `prefix`
    * namespaces the CTEs so several trainings (e.g. one per PQ
    * subspace) coexist in one WITH clause. */
  def kmeansSqlCte(k: Int, iters: Int, dim: Int,
      src: String = "embeddings", prefix: String = ""): String = {
    val init = s"${prefix}c0 AS (SELECT vec_id AS centroid, embedding AS cemb FROM $src WHERE vec_id < $k)"
    val steps = (1 to iters).map { i =>
      s"""${prefix}a$i AS (
        SELECT vec_id, centroid FROM (
          SELECT e.vec_id, c.centroid,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]) DESC,
                            c.centroid) AS rn
          FROM $src e, ${prefix}c${i - 1} c)
        WHERE rn = 1),
      ${prefix}m$i AS (
        SELECT centroid, list(vr ORDER BY d) AS cemb FROM (
          SELECT a.centroid, t.d,
                 CAST(CAST(SUM(CAST(e.embedding[t.d + 1] AS DECIMAL(28,12))) AS DOUBLE)
                      / COUNT(*) AS REAL) AS vr
          FROM ${prefix}a$i a JOIN $src e ON a.vec_id = e.vec_id, range(0, $dim) t(d)
          GROUP BY a.centroid, t.d)
        GROUP BY centroid),
      ${prefix}c$i AS (
        SELECT p.centroid, COALESCE(m.cemb, p.cemb) AS cemb
        FROM ${prefix}c${i - 1} p LEFT JOIN ${prefix}m$i m ON p.centroid = m.centroid)"""
    }
    (init +: steps).mkString(",\n") +
      s",\n      ${prefix}cents AS (SELECT centroid, cemb FROM ${prefix}c$iters)"
  }

  /** IVF ANN: probe the nProbe nearest centroids per query, rank only
    * vectors assigned to those centroids. */
  def ivfTopK(emb: DataFrame, queryPred: Column,
      nCentroids: Int, nProbe: Int, k: Int,
      centroidsOpt: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val assigned = ivfAssignments(emb, nCentroids, centroidsOpt)
    val centroids = broadcast(centroidsOpt.getOrElse(
      emb.filter(col("vec_id") < nCentroids)
        .select(col("vec_id").as("centroid"), col("embedding").as("cemb"))))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(desc("ccos"), asc("centroid"))
    val probes = emb.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      .crossJoin(centroids)
      .select(col("qid"), col("qemb"), col("centroid"),
        cosineNative(col("qemb"), col("cemb")).as("ccos"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qemb"), col("centroid"))
    val wRank = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("nid"))
    probes.join(assigned.select(col("vec_id").as("nid"),
        col("embedding").as("nemb"), col("centroid")), Seq("centroid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosineNative(col("qemb"), col("nemb")).as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"), col("cos"))
  }

  /** Exact all-pairs cosine ≥ minCos via a broadcast corpus table and a
    * tight per-partition loop. SMALL-CORPUS BASELINE ONLY (collects the
    * corpus to the driver) — used in specs to cross-check
    * [[allPairsCosineDistributed]], never in a query's dataflow. */
  def allPairsCosine(emb: DataFrame, minCos: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    def normOf(v: Array[Float]): Double = {
      var s = 0.0; var d = 0
      while (d < v.length) { s += v(d).toDouble * v(d).toDouble; d += 1 }
      math.sqrt(s)
    }
    val all = vecs.collect().sortBy(_._1).map { case (id, v) => (id, v, normOf(v)) }
    val allB = spark.sparkContext.broadcast(all)
    val parallelism = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(all.indices, parallelism).flatMap { x =>
      val table = allB.value
      val (i, vi, ni) = table(x)
      Iterator.range(x + 1, table.length).flatMap { y =>
        val (j, vj, nj) = table(y)
        var s = 0.0; var d = 0
        while (d < vi.length) { s += vi(d).toDouble * vj(d).toDouble; d += 1 }
        val cos = s / (ni * nj)
        if (cos >= minCos) Some((i, j, cos)) else None
      }
    }.toDF("i", "j", "cos")
  }

  /** Exact all-pairs cosine ≥ minCos, fully distributed: a triangular
    * self-join evaluated with the codegen'd `cosine_sim` expression.
    * No driver state — Spark plans the small side as a broadcast
    * nested-loop (each executor streams its partition against it);
    * past broadcast range AQE degrades to a partitioned cartesian, so
    * the n²/2 work spreads across the cluster instead of OOMing the
    * driver. Exact all-pairs is inherently quadratic in ANY engine —
    * at 100 TB the near-dup scale path is LSH bucketing
    * ([[lshBuckets]]) with a threshold tight enough for bucket recall;
    * this is the exact formulation, kept driver-safe. */
  def allPairsCosineDistributed(emb: DataFrame, minCos: Double): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        cosineNative(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding the query set). Deterministic tiebreak on
    * neighbor id. */
  def cosineTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val corpus = emb.filter(!queryPred)
      .select(col("vec_id").as("nid"), col("embedding").as("nemb"))
    val scored = corpus.crossJoin(broadcast(q))
      .select(col("qid"), col("nid"), cosineNative(col("qemb"), col("nemb")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane coefficient for (plane p,
    * dim d): integer in [-3, 3], identical in SQL. */
  private def coefExpr(p: Column, d: Column): Column =
    (lit(1103515245L) * (p * 64 + d) + 12345L).divide(lit(65536L)).cast("long") % 7 - 3

  /** 8-bit LSH bucket per vector. The per-plane projection is summed in
    * DECIMAL so the groupBy is order-independent. */
  def lshBuckets(emb: DataFrame): DataFrame = {
    // One dimension explode, all 8 plane terms per row, ONE groupBy with
    // 8 decimal sums (exact → order-independent → same buckets as any
    // other grouping shape, incl. the SQL oracle's).
    val exploded = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "v")))
    val planeSums = exploded.groupBy(col("vec_id"))
      .agg(
        sum(col("v").cast(DecimalType(18, 9)) * coefExpr(lit(0), col("d"))).as("s0"),
        (1 until 8).map(p =>
          sum(col("v").cast(DecimalType(18, 9)) * coefExpr(lit(p), col("d"))).as(s"s$p")): _*)
    planeSums.select(col("vec_id"),
      (0 until 8).map(p => when(col(s"s$p") >= 0, lit(1L << p)).otherwise(lit(0L)))
        .reduce(_ + _).cast("long").as("bucket"))
  }

  /** Multi-table LSH: `tables` independent `bits`-bit signatures per
    * vector (planes t·bits..t·bits+bits−1 of the same [[coefExpr]]
    * family), so a probe unions candidates across tables — recall
    * 1−(1−p^bits)^tables for per-plane agreement p, at tables× the
    * bucket-build cost and unchanged join shape ((tbl, bucket)
    * equi-join instead of (bucket)). Still ONE explode + ONE groupBy:
    * all bits·tables plane sums aggregate in the same pass, the
    * per-table bucket ids are projected after. Fewer bits ⇒ bigger
    * buckets ⇒ higher recall per table — the (tables, bits) pair IS
    * the speed/quality dial, and `sim_ann_recall` measures it. */
  def lshBucketsMulti(emb: DataFrame, tables: Int, bits: Int): DataFrame = {
    val nPlanes = bits * tables
    val exploded = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "v")))
    val planeSums = exploded.groupBy(col("vec_id"))
      .agg(
        sum(col("v").cast(DecimalType(18, 9)) * coefExpr(lit(0), col("d"))).as("s0"),
        (1 until nPlanes).map(p =>
          sum(col("v").cast(DecimalType(18, 9)) * coefExpr(lit(p), col("d"))).as(s"s$p")): _*)
    val tableBuckets = (0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        (0 until bits).map(b => when(col(s"s${t * bits + b}") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("bucket"))
    }
    planeSums
      .select(col("vec_id"), explode(array(tableBuckets: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** SQL mirror of [[lshBucketsMulti]]. */
  def sqlBucketsMulti(tables: Int, bits: Int): String = s"""
    SELECT vec_id, CAST(p // $bits AS INTEGER) AS tbl,
           CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << (p % $bits)) ELSE 0 END) AS BIGINT) AS bucket
    FROM (
      SELECT vec_id, p,
             SUM(CAST(embedding[d + 1] AS DECIMAL(18,9))
                 * (((1103515245 * (p * 64 + d) + 12345) // 65536) % 7 - 3)) AS s
      FROM embeddings, range(0, 64) t(d), range(0, ${bits * tables}) r(p)
      GROUP BY vec_id, p)
    GROUP BY vec_id, p // $bits"""

  private val sqlBuckets = """
    SELECT vec_id, CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
    FROM (
      SELECT vec_id, p,
             SUM(CAST(embedding[d + 1] AS DECIMAL(18,9))
                 * (((1103515245 * (p * 64 + d) + 12345) // 65536) % 7 - 3)) AS s
      FROM embeddings, range(0, 64) t(d), range(0, 8) r(p)
      GROUP BY vec_id, p)
    GROUP BY vec_id"""

  /** The top 5 `(qid, nid, rank, cos)` by cosine, ties to the smaller
    * id, of each query vec_id < 10 over the `q`/`c` pairs of `pairs`
    * (a FROM clause). */
  private def sqlCosineTop5(pairs: String): String = s"""SELECT qid, nid, rank, cos FROM (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rank
          FROM $pairs
          WHERE q.vec_id < 10)
        WHERE rank <= 5
        ORDER BY qid, rank"""

  /** The IVF search's partitions in SQL, for a `cents(centroid, cemb)`
    * CTE: each vector's nearest centroid (`assigned`) and the 4 nearest
    * centroids of each query vec_id < 10 (`probes`). */
  private def sqlIvfProbeCtes: String = """assigned AS (
          SELECT vec_id, embedding, centroid FROM (
            SELECT e.vec_id, e.embedding, c.centroid,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]) DESC,
                              c.centroid) AS rn
            FROM embeddings e, cents c)
          WHERE rn = 1),
        probes AS (
          SELECT qid, qemb, centroid FROM (
            SELECT q.vec_id AS qid, q.embedding AS qemb, c.centroid,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cemb::DOUBLE[]) DESC,
                              c.centroid) AS rn
            FROM embeddings q, cents c WHERE q.vec_id < 10)
          WHERE rn <= 4)"""

  /** SQL mirror of [[ivfTopK]] with nProbe 4 and k 5 over the given
    * `cents` CTE. */
  private def sqlIvfAnn(cents: String): String = s"""
        WITH $cents,
        $sqlIvfProbeCtes
        SELECT qid, nid, rank, cos FROM (
          SELECT p.qid, a.vec_id AS nid,
                 list_cosine_similarity(p.qemb::DOUBLE[], a.embedding::DOUBLE[]) AS cos,
                 ROW_NUMBER() OVER (
                   PARTITION BY p.qid
                   ORDER BY list_cosine_similarity(p.qemb::DOUBLE[], a.embedding::DOUBLE[]) DESC,
                            a.vec_id) AS rank
          FROM probes p JOIN assigned a ON p.centroid = a.centroid
          WHERE p.qid <> a.vec_id)
        WHERE rank <= 5
        ORDER BY qid, rank
      """.trim

  val defs: Seq[QueryDef] = Seq(

    // Brute-force ANN baseline: 10 query vectors, top-5 neighbors each.
    QueryDef(
      "sim_cosine_topk",
      Some(sqlCosineTop5("embeddings q JOIN embeddings c ON c.vec_id >= 10")),
      (s, d) => cosineTopK(embeddings(s, d), col("vec_id") < 10, 5)),

    // LSH bucket assignment (the scale path's partitioning artifact).
    QueryDef(
      "sim_lsh_buckets",
      Some(s"""
        WITH b AS ($sqlBuckets)
        SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS min_vec
        FROM b GROUP BY bucket
        ORDER BY bucket
      """.trim),
      (s, d) => lshBuckets(embeddings(s, d))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
        .orderBy(col("bucket"))),

    // Bucketed ANN: neighbors searched only within the query's bucket.
    QueryDef(
      "sim_lsh_ann",
      Some(s"""
        WITH b AS ($sqlBuckets),
        e AS (SELECT e.vec_id, e.embedding, b.bucket
              FROM embeddings e JOIN b ON e.vec_id = b.vec_id)
        ${sqlCosineTop5("e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id")}
      """.trim),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val withBuckets = embeddings(s, d)
          .join(lshBuckets(embeddings(s, d)), "vec_id")
        val q = withBuckets.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("bucket"))
        val c = withBuckets
          .select(col("vec_id").as("nid"), col("embedding").as("nemb"), col("bucket"))
        val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("nid"))
        q.join(c, Seq("bucket"))
          .filter(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"), cosineNative(col("qemb"), col("nemb")).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"), col("cos"))
          .orderBy(col("qid"), col("rank"))
      }),

    // IVF-flat ANN: fixed coarse centroids, nProbe-bounded search.
    QueryDef(
      "sim_ivf_ann",
      Some(sqlIvfAnn("""cents AS (
          SELECT vec_id AS centroid, embedding AS cemb FROM embeddings WHERE vec_id < 16)""")),
      (s, d) => ivfTopK(embeddings(s, d), col("vec_id") < 10,
        nCentroids = 16, nProbe = 4, k = 5)
        .orderBy(col("qid"), col("rank"))),

    // IVF with TRAINED coarse centroids: 3 deterministic Lloyd
    // iterations from the first-16 init, every arithmetic step mirrored
    // in the unrolled SQL oracle (assignment ties, decimal means, float
    // rounding) so the trained index itself is hash-checked end-to-end.
    QueryDef(
      "sim_ivf_kmeans_ann",
      Some(sqlIvfAnn(kmeansSqlCte(16, 3, 64))),
      (s, d) => {
        val emb = embeddings(s, d)
        val trained = kmeansCentroids(emb, k = 16, iters = 3, dim = 64)
        ivfTopK(emb, col("vec_id") < 10, nCentroids = 16, nProbe = 4, k = 5,
          centroidsOpt = Some(trained))
          .orderBy(col("qid"), col("rank"))
      }),

    // Embedding-space near-duplicate pairs (cosine threshold).
    QueryDef(
      "dd_embedding_neardup",
      Some("""
        SELECT a.vec_id AS i, b.vec_id AS j,
               list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        ORDER BY i, j
      """.trim),
      (s, d) => allPairsCosineDistributed(embeddings(s, d), 0.45)
        .orderBy(col("i"), col("j")))
  )

  /** Recall@5 of the LSH-bucketed ANN against brute-force ground
    * truth, per query — the quality harness every approximate index
    * needs next to it. Both sides rank the SAME corpus (vec_id ≥ 10)
    * so the hit count is a pure index-quality number; n_cands shows
    * how hard the bucket pruned (the speed side of the tradeoff).
    * Deterministic throughout → the driver hash-checks recall itself,
    * not just an invariant. Appended to [[defs]] via [[recallDefs]]
    * to keep this file's regions readable.
    */
  val recallDefs: Seq[QueryDef] = Seq(
    QueryDef(
      "sim_ann_recall",
      Some(s"""
        WITH b AS (${sqlBucketsMulti(8, 5)}),
        pairs AS (
          SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
          FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
          WHERE q.vec_id < 10 AND c.vec_id >= 10),
        cands AS (
          SELECT p.qid, p.nid,
                 list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
          FROM pairs p
          JOIN embeddings q ON q.vec_id = p.qid
          JOIN embeddings c ON c.vec_id = p.nid),
        $sqlRecallTail
      """.trim),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = embeddings(s, d)
        val truth = cosineTopK(emb, col("vec_id") < 10, 5).select(col("qid"), col("nid"))
        // consumed by both sides of the pairs self-join — materialize
        // the 40-sum aggregation once rather than once per consumer
        val buckets = lshBucketsMulti(emb, 8, 5).localCheckpoint()
        val pairs = buckets.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("tbl"), col("bucket"))
          .join(buckets.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("nid"), col("tbl"), col("bucket")),
            Seq("tbl", "bucket"))
          .select(col("qid"), col("nid")).distinct()
        val cands = pairs
          .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qemb")), "qid")
          .join(emb.select(col("vec_id").as("nid"), col("embedding").as("nemb")), "nid")
          .select(col("qid"), col("nid"), cosineNative(col("qemb"), col("nemb")).as("cos"))
        recallTail(truth, cands)
      }),
    QueryDef(
      "sim_ivf_recall",
      Some(s"""
        WITH ${kmeansSqlCte(16, 3, 64)},
        $sqlIvfProbeCtes,
        cands AS (
          SELECT p.qid, a.vec_id AS nid,
                 list_cosine_similarity(p.qemb::DOUBLE[], a.embedding::DOUBLE[]) AS cos
          FROM probes p JOIN assigned a ON p.centroid = a.centroid
          WHERE a.vec_id >= 10),
        $sqlRecallTail
      """.trim),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = embeddings(s, d)
        val truth = cosineTopK(emb, col("vec_id") < 10, 5).select(col("qid"), col("nid"))
        val trained = kmeansCentroids(emb, k = 16, iters = 3, dim = 64)
        val assigned = ivfAssignments(emb, 16, Some(trained))
          .filter(col("vec_id") >= 10)
          .select(col("vec_id").as("nid"), col("embedding").as("nemb"), col("centroid"))
        val pw = Window.partitionBy(col("qid")).orderBy(desc("pcos"), asc("centroid"))
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
          .crossJoin(trained)
          .select(col("qid"), col("qemb"), col("centroid"),
            cosineNative(col("qemb"), col("cemb")).as("pcos"))
          .withColumn("rn", row_number().over(pw))
          .filter(col("rn") <= 4)
          .select(col("qid"), col("qemb"), col("centroid"))
        val cands = probes.join(assigned, Seq("centroid"))
          .select(col("qid"), col("nid"), cosineNative(col("qemb"), col("nemb")).as("cos"))
        recallTail(truth, cands)
      }),
    QueryDef(
      // k-NN label prediction over the embedding space: majority vote
      // of the 5 nearest corpus neighbors' labels vs the query's own
      // label — the eval loop that tells you whether an embedding
      // column carries its labels at all. Votes tie-break on the
      // smaller label, so the prediction is deterministic and the
      // driver hash-checks per-query correctness, not an aggregate.
      "sim_label_knn",
      Some("""
        WITH nn AS (
          SELECT qid, nlabel FROM (
            SELECT q.vec_id AS qid, c.label AS nlabel,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                              c.vec_id) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
            WHERE q.vec_id < 10)
          WHERE rank <= 5),
        votes AS (
          SELECT qid, nlabel, COUNT(*) AS c FROM nn GROUP BY qid, nlabel),
        pred AS (
          SELECT qid, nlabel AS pred_label FROM (
            SELECT qid, nlabel,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nlabel) AS rn
            FROM votes)
          WHERE rn = 1)
        SELECT CAST(q.vec_id AS BIGINT) AS qid,
               CAST(q.label AS BIGINT) AS true_label,
               CAST(p.pred_label AS BIGINT) AS pred_label,
               q.label = p.pred_label AS correct
        FROM embeddings q JOIN pred p ON p.qid = q.vec_id
        WHERE q.vec_id < 10
        ORDER BY qid
      """.trim),
      (s, d) => {
        val emb = embeddings(s, d)
        val nn = cosineTopK(emb, col("vec_id") < 10, 5)
          .join(emb.select(col("vec_id").as("nid"), col("label").as("nlabel")), "nid")
        val votes = nn.groupBy(col("qid"), col("nlabel")).agg(count(lit(1)).as("c"))
        val vw = Window.partitionBy(col("qid")).orderBy(desc("c"), asc("nlabel"))
        val pred = votes.withColumn("rn", row_number().over(vw))
          .filter(col("rn") === 1)
          .select(col("qid"), col("nlabel").as("pred_label"))
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("label").as("true_label"))
          .join(pred, "qid")
          .select(col("qid"),
            col("true_label").cast("bigint").as("true_label"),
            col("pred_label").cast("bigint").as("pred_label"),
            (col("true_label") === col("pred_label")).as("correct"))
          .orderBy(col("qid"))
      }),

    // Product quantization with asymmetric-distance search — the third
    // leg of the ANN family (LSH prunes candidates, IVF prunes
    // partitions, PQ compresses the vectors themselves): dim 64 splits
    // into M=4 subspaces of 16; each subspace trains its own k=8
    // codebook ([[kmeansCentroids]] — model state only, k·dim floats,
    // oracle-mirrored per iteration per subspace); every vector
    // encodes to 4 codes (4 bytes vs 256 — the 64× memory win that
    // lets a 100 TB corpus's index live where the raw vectors can't).
    // Search is classic ADC: per query, ONE 4×8 lookup table of
    // subspace dot products + codeword norms, then each candidate
    // costs 4 broadcast-LUT lookups and fixed-order float-free adds —
    // no per-candidate vector math at all (sqrt is IEEE-exact, so the
    // reconstructed cosine is bit-portable). Recall vs the brute-force
    // top-5 truth prices the compression: every candidate is scored
    // (n_cands = |corpus|), so recall isolates pure quantization loss.
    QueryDef(
      "sim_pq_recall",
      Some(s"""
        WITH ${(0 until 4).map(m =>
          s"sub$m AS (SELECT vec_id, embedding[${m * 16 + 1}:${(m + 1) * 16}] AS embedding FROM embeddings)")
          .mkString(",\n        ")},
        ${(0 until 4).map(m => kmeansSqlCte(16, 2, 16, s"sub$m", s"s$m")).mkString(",\n        ")},
        ${(0 until 4).map(m => s"""enc$m AS (
          SELECT vec_id, centroid AS c$m FROM (
            SELECT e.vec_id, c.centroid,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]) DESC,
                              c.centroid) AS rn
            FROM sub$m e, s${m}cents c)
          WHERE rn = 1)""").mkString(",\n        ")},
        codes AS (
          SELECT enc0.vec_id, c0, c1, c2, c3
          FROM enc0 JOIN enc1 USING (vec_id) JOIN enc2 USING (vec_id)
               JOIN enc3 USING (vec_id)),
        ${(0 until 4).map(m => s"""lut$m AS (
          SELECT q.vec_id AS qid, c.centroid AS c$m,
                 list_dot_product(q.embedding::DOUBLE[], c.cemb::DOUBLE[]) AS d$m,
                 list_dot_product(c.cemb::DOUBLE[], c.cemb::DOUBLE[]) AS n$m
          FROM sub$m q, s${m}cents c WHERE q.vec_id < 10)""").mkString(",\n        ")},
        qn AS (
          SELECT vec_id AS qid,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
          FROM embeddings WHERE vec_id < 10),
        cands AS (
          SELECT q.qid, k.vec_id AS nid,
                 (l0.d0 + l1.d1 + l2.d2 + l3.d3)
                   / (q.qn * sqrt(l0.n0 + l1.n1 + l2.n2 + l3.n3)) AS cos
          FROM qn q
          CROSS JOIN codes k
          JOIN lut0 l0 ON l0.qid = q.qid AND l0.c0 = k.c0
          JOIN lut1 l1 ON l1.qid = q.qid AND l1.c1 = k.c1
          JOIN lut2 l2 ON l2.qid = q.qid AND l2.c2 = k.c2
          JOIN lut3 l3 ON l3.qid = q.qid AND l3.c3 = k.c3
          WHERE k.vec_id >= 10),
        $sqlRecallTail
      """.trim),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val M = 4; val SUB = 16; val K = 16; val IT = 2
        // every downstream consumer (training, encode, LUTs, truth)
        // re-reads the corpus — pin it once
        val emb = embeddings(s, d).localCheckpoint()
        val spark = s
        import spark.implicits._
        val centRows = pqCodebookRows(emb, M, SUB, K, IT)
        val byM = centRows.groupBy(_._1).view
          .mapValues(_.map(r => (r._2, r._3))).toMap
        // encode is fully row-local: per vector, M argmaxes against the
        // LITERAL codebook ([[nearestCentroidExpr]]) — no broadcast
        // fan-out, no re-group shuffle, no pivot. Bit-identical codes:
        // same cosine, same (ccos desc, centroid asc) ordering.
        val codes = emb.select(col("vec_id") +:
          (0 until M).map(m => nearestCentroidExpr(byM(m),
            slice(col("embedding"), m * SUB + 1, SUB)).as(s"c$m")): _*)
        // The ADC LUT — (qid, m, code) → subspace dot, plus (m, code) →
        // codeword norm² and qid → query norm — is |Q|·M·K + M·K + |Q|
        // values (~700 doubles): classic query-workload state. The dots
        // are still COMPUTED distributed (the same [[dot]] expression —
        // identical bits), then the table collects and rides back into
        // codegen as literal maps, so candidate scoring is a single
        // corpus scan with 4 map lookups + fixed-order adds per
        // (candidate, query) — zero joins, zero shuffles, vs the old
        // 4-way chained broadcast-hash-join plan over the cross
        // product.
        val centsAll = broadcast(centRows.toDF("m", "centroid", "cemb")
          .select(col("m"), col("centroid"),
            col("cemb").cast("array<float>").as("cemb")))
        val lutRows = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"),
            explode(array((0 until M).map(m =>
              struct(lit(m).as("m"),
                slice(col("embedding"), m * SUB + 1, SUB).as("semb"))): _*)).as("x"))
          .select(col("qid"), col("x.m").as("m"), col("x.semb").as("semb"))
          .join(centsAll, "m")
          .select(col("qid"), col("m"), col("centroid"),
            dot(col("semb"), col("cemb")).as("dm"),
            dot(col("cemb"), col("cemb")).as("nm"))
          .as[(Long, Int, Long, Double, Double)].collect()
        val qnRows = emb.filter(col("vec_id") < 10)
          .select(col("vec_id"),
            sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
          .as[(Long, Double)].collect().sortBy(_._1)
        val dMap: Map[(Long, Int), Map[Long, Double]] = lutRows
          .groupBy(r => (r._1, r._2)).view
          .mapValues(_.map(r => r._3 -> r._4).toMap).toMap
        val nMap: Map[Int, Map[Long, Double]] = lutRows
          .groupBy(_._2).view
          .mapValues(_.map(r => r._3 -> r._5).toMap).toMap
        // same expression tree per (candidate, query) as the join form:
        // (d0+d1+d2+d3) / (qn · sqrt(n0+n1+n2+n3)) — IEEE-identical.
        val cands = codes.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("nid"),
            explode(array(qnRows.map { case (qid, qnv) =>
              val ds = (0 until M).map(m =>
                element_at(typedLit(dMap((qid, m))), col(s"c$m")))
              val ns = (0 until M).map(m =>
                element_at(typedLit(nMap(m)), col(s"c$m")))
              struct(lit(qid).as("qid"),
                (ds.reduce(_ + _) / (lit(qnv) * sqrt(ns.reduce(_ + _))))
                  .as("cos"))
            }: _*)).as("x"))
          .select(col("x.qid").as("qid"), col("nid"), col("x.cos").as("cos"))
        val truth = cosineTopK(emb, col("vec_id") < 10, 5)
          .select(col("qid"), col("nid"))
        recallTail(truth, cands)
      }),

    // Scalar (int8) quantization recall — the cheap end of the vector
    // compression family next to PQ: the entire "codebook" is one
    // global (min, scale) pair per dimension (64 rows of model state,
    // no training), each dimension grids uniformly into 256 levels, so
    // a vector stores as 64 bytes (4× under float32). Unlike PQ there
    // is no per-candidate table lookup: dequantization is a fused
    // elementwise expression (mn + code·scale) in the scan projection
    // and search is plain cosine against the reconstructed array.
    // Every step (float min/max, /255, floor(x+0.5), mn + sc·code,
    // float round-trip) is an IEEE-exact-mirrorable primitive, so the
    // oracle rebuilds the reconstruction bit-for-bit. All candidates
    // are scored (n_cands = |corpus|): recall@5 vs brute-force truth
    // isolates pure 8-bit quantization loss, the number that decides
    // whether the 4× memory cut is free on a given corpus.
    QueryDef(
      "sim_sq8_recall",
      Some(s"""
        WITH grid AS (
          SELECT t.d,
                 CAST(MIN(e.embedding[t.d + 1]) AS DOUBLE) AS mn,
                 (CAST(MAX(e.embedding[t.d + 1]) AS DOUBLE)
                  - CAST(MIN(e.embedding[t.d + 1]) AS DOUBLE)) / 255.0 AS sc
          FROM embeddings e, range(0, 64) t(d)
          GROUP BY t.d),
        rec AS (
          SELECT e.vec_id,
                 list(CAST(CASE WHEN s.sc = 0 THEN s.mn
                        ELSE s.mn + s.sc * LEAST(255.0, GREATEST(0.0,
                          FLOOR((CAST(e.embedding[s.d + 1] AS DOUBLE) - s.mn) / s.sc + 0.5)))
                      END AS REAL) ORDER BY s.d) AS remb
          FROM embeddings e, grid s
          WHERE e.vec_id >= 10
          GROUP BY e.vec_id),
        cands AS (
          SELECT q.vec_id AS qid, r.vec_id AS nid,
                 list_cosine_similarity(q.embedding::DOUBLE[], r.remb::DOUBLE[]) AS cos
          FROM embeddings q CROSS JOIN rec r
          WHERE q.vec_id < 10),
        $sqlRecallTail
      """.trim),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = embeddings(s, d).localCheckpoint()
        // the whole model: 64 (mn, scale) pairs — one aggregate job,
        // then folded into the dequantize expression as literals (no
        // join in the scoring pass)
        val st = emb.select(posexplode(col("embedding")).as(Seq("d", "v")))
          .groupBy(col("d"))
          .agg(min(col("v")).cast("double").as("mn"),
            max(col("v")).cast("double").as("mx"))
          .orderBy(col("d"))
          .collect()
        val mnA = array(st.map(r => lit(r.getDouble(1))): _*)
        val scA = array(st.map(r => lit((r.getDouble(2) - r.getDouble(1)) / 255.0)): _*)
        // quantize-then-dequantize fused per element; the int8 code is
        // the floor(...) term — materializing it separately would just
        // add a pass, the reconstruction error is what recall measures
        def dequant(e: Column): Column = transform(e, (x, i) => {
          val m = element_at(mnA, i + 1)
          val sc = element_at(scA, i + 1)
          when(sc === 0.0, m).otherwise(
            m + sc * least(lit(255.0), greatest(lit(0.0),
              floor((x.cast("double") - m) / sc + 0.5))))
            .cast("float")
        })
        val rec = emb.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("nid"), dequant(col("embedding")).as("remb"))
        val q = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
        val cands = rec.crossJoin(broadcast(q))
          .select(col("qid"), col("nid"),
            cosineNative(col("qemb"), col("remb")).as("cos"))
        val truth = cosineTopK(emb, col("vec_id") < 10, 5)
          .select(col("qid"), col("nid"))
        recallTail(truth, cands)
      }),

    // Farthest-point sampling (greedy k-center) — diversity core-set
    // selection for training data: starting from vec 0, each of 7
    // picks takes the corpus vector LEAST similar to everything chosen
    // so far (argmin of max-cosine, ties → smallest id). Each pick is
    // one distributed scan: corpus × (≤ 8 broadcast selected vectors)
    // → per-vector max → TakeOrdered(1); driver state is only the
    // selected ids — the k-means "model state only" contract. The
    // statistic per candidate is a MAX over ≤ 8 pairwise cosines
    // (comparisons, no accumulation), so it is bit-portable and the
    // oracle unrolls the identical greedy steps.
    QueryDef(
      "sim_fps_diversity", {
        val steps = (1 to 7).map { i =>
          s"""p$i AS (
            SELECT e.vec_id,
                   MAX(list_cosine_similarity(e.embedding::DOUBLE[], se.embedding::DOUBLE[])) AS mx
            FROM embeddings e
            CROSS JOIN (SELECT s.vec_id, emb.embedding
                        FROM sel${i - 1} s JOIN embeddings emb ON emb.vec_id = s.vec_id) se
            WHERE e.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
            GROUP BY e.vec_id
            ORDER BY mx ASC, e.vec_id LIMIT 1),
          sel$i AS (SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM p$i)"""
        }
        Some(s"""
        WITH sel0 AS (SELECT CAST(0 AS BIGINT) AS vec_id),
        ${steps.mkString(",\n        ")}
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS pick, CAST(0 AS BIGINT) AS vec_id,
                 CAST(NULL AS DOUBLE) AS max_cos
          ${(1 to 7).map(i =>
            s"UNION ALL SELECT ${i + 1}, vec_id, mx FROM p$i").mkString("\n          ")})
        ORDER BY pick
      """.trim)
      },
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val spark0 = s
        import spark0.implicits._
        val emb = embeddings(s, d).localCheckpoint()
        // selected vectors ride into codegen as array<float> LITERALS
        // (≤ 8·dim floats — the same bounded model state the broadcast
        // formulation shipped), so each pick is ONE scan with a
        // row-local greatest() over ≤ 8 inlined cosines feeding
        // TakeOrderedAndProject — no crossJoin, no re-group shuffle,
        // no per-round broadcast build job. max over comparisons is
        // bit-portable, so the statistic is unchanged.
        var selected = Vector(0L)
        var selEmbs: Vector[Seq[Float]] = emb.filter(col("vec_id") === 0L)
          .select(col("embedding")).as[Seq[Float]].collect().toVector
        val picks = Vector.newBuilder[(Long, Long, Option[Double])]
        picks += ((1L, 0L, None))
        for (i <- 1 to 7) {
          val mxCol = selEmbs
            .map(e => cosineNative(col("embedding"), typedLit(e)))
            .reduce((a, b) => greatest(a, b))
          val Array(row) = emb.filter(!col("vec_id").isin(selected: _*))
            .select(col("vec_id"), mxCol.as("mx"), col("embedding"))
            .orderBy(col("mx").asc, col("vec_id")) // TakeOrderedAndProject
            .limit(1)
            .collect()
          selected :+= row.getLong(0)
          selEmbs :+= row.getSeq[Float](2)
          picks += (((i + 1).toLong, row.getLong(0), Some(row.getDouble(1))))
        }
        picks.result()
          .toDF("pick", "vec_id", "max_cos")
          .orderBy(col("pick"))
      }),

    // Maximal-marginal-relevance re-ranking — the retrieval-side
    // diversity op: from each query's top-10 cosine candidates,
    // greedily pick 3 maximizing 0.5·relevance − 0.5·max-sim-to-
    // already-picked (ties → smallest id). Unlike sim_fps_diversity
    // the greedy loop is FULLY declarative: 3 unrolled rounds, each
    // one qid-keyed join (sim-to-selected max) + one per-qid
    // row_number argmax — no driver state at all, every round a flat
    // shuffle on qid that scales with query volume. Candidate
    // pairwise sims are computed once on the 10-per-query set (cost
    // |Q|·100, independent of corpus size). Scores are 2-term
    // affine combos of cosines → bit-portable.
    QueryDef(
      "rag_mmr", {
        def round(i: Int): String = {
          val prev = s"sel${i - 1}"
          s"""mx$i AS (
            SELECT s.qid, s.i AS nid, MAX(s.sim) AS mx
            FROM sims s JOIN $prev p ON p.qid = s.qid AND p.nid = s.j
            GROUP BY s.qid, s.i),
          sc$i AS (
            SELECT c.qid, c.nid,
                   0.5 * c.rel - 0.5 * COALESCE(m.mx, CAST(0 AS DOUBLE)) AS score
            FROM cands c
            LEFT JOIN mx$i m ON m.qid = c.qid AND m.nid = c.nid
            WHERE NOT EXISTS (
              SELECT 1 FROM $prev p WHERE p.qid = c.qid AND p.nid = c.nid)),
          p$i AS (
            SELECT qid, nid, score FROM (
              SELECT qid, nid, score,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
              FROM sc$i)
            WHERE rn = 1),
          sel$i AS (SELECT qid, nid FROM sel${i - 1} UNION ALL SELECT qid, nid FROM p$i)"""
        }
        Some(s"""
        WITH ranked AS (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS rel,
                 c.embedding AS nemb,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rn
          FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
          WHERE q.vec_id < 10),
        cands AS (SELECT qid, nid, rel, nemb FROM ranked WHERE rn <= 10),
        sims AS (
          SELECT a.qid, a.nid AS i, b.nid AS j,
                 list_cosine_similarity(a.nemb::DOUBLE[], b.nemb::DOUBLE[]) AS sim
          FROM cands a JOIN cands b ON a.qid = b.qid AND a.nid <> b.nid),
        sel0 AS (SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS nid WHERE FALSE),
        ${(1 to 3).map(round).mkString(",\n        ")}
        SELECT * FROM (
          ${(1 to 3).map(i =>
            s"SELECT CAST(qid AS BIGINT) AS qid, CAST($i AS BIGINT) AS pick, CAST(nid AS BIGINT) AS nid, score FROM p$i")
            .mkString("\n          UNION ALL ")})
        ORDER BY qid, pick
      """.trim)
      },
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = embeddings(s, d).localCheckpoint()
        val q = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
        val w = Window.partitionBy(col("qid")).orderBy(desc("rel"), asc("nid"))
        val cands = emb.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("nid"), col("embedding").as("nemb"))
          .crossJoin(broadcast(q))
          .select(col("qid"), col("nid"),
            cosineNative(col("qemb"), col("nemb")).as("rel"), col("nemb"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10).drop("rn")
          .localCheckpoint()
        val sims = cands.select(col("qid"), col("nid").as("i"), col("nemb").as("ea"))
          .join(cands.select(col("qid"), col("nid").as("j"), col("nemb").as("eb")), "qid")
          .filter(col("i") =!= col("j"))
          .select(col("qid"), col("i"), col("j"),
            cosineNative(col("ea"), col("eb")).as("sim"))
          .localCheckpoint()
        var sel = cands.select(col("qid"), col("nid")).filter(lit(false))
        val picks = (1 to 3).map { i =>
          val simToSel = sims
            .join(sel.select(col("qid"), col("nid").as("j")), Seq("qid", "j"))
            .groupBy(col("qid"), col("i").as("nid")).agg(max(col("sim")).as("mx"))
          val remaining = cands
            .join(sel.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
          val wp = Window.partitionBy(col("qid")).orderBy(desc("score"), asc("nid"))
          val p = remaining
            .join(simToSel, Seq("qid", "nid"), "left")
            .select(col("qid"), col("nid"),
              (lit(0.5) * col("rel") - lit(0.5) * coalesce(col("mx"), lit(0.0)))
                .as("score"))
            .withColumn("rn", row_number().over(wp))
            .filter(col("rn") === 1)
            .select(col("qid"), col("nid"), col("score"))
            .localCheckpoint()
          sel = sel.union(p.select(col("qid"), col("nid")))
          p.select(col("qid"), lit(i.toLong).as("pick"), col("nid"), col("score"))
        }
        picks.reduce(_ union _).orderBy(col("qid"), col("pick"))
      })
  )

  /** Top-nAssign coarse-centroid assignments per vector (multi-assign
    * IVF): the linear n·k scoring pass of [[ivfAssignments]], keeping
    * the nAssign best centroids instead of the argmax so a near-dup
    * pair straddling a Voronoi boundary still shares a bucket. The
    * per-vector top-n is collected map-side — the broadcast cross join
    * emits each vector's k candidate rows consecutively, so the
    * collect_list partial-aggregates in place and the shuffle carries
    * one k-entry array per vector, not an n·k ranking window. Ordering
    * (cos desc, centroid asc) matches the oracles' ROW_NUMBER. */
  def ivfAssignTop(emb: DataFrame, nCentroids: Int, nAssign: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val centroids = broadcast(emb.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("centroid"), col("embedding").as("cemb")))
    assignTop(emb, centroids, nAssign)
  }

  /** Each vector of `emb` once per one of its `nAssign` nearest
    * `centroids(centroid, cemb)`, ties to the smaller centroid id. */
  private def assignTop(emb: DataFrame, centroids: DataFrame, nAssign: Int): DataFrame =
    emb.crossJoin(centroids)
      .select(col("vec_id"), col("embedding"),
        struct((-cosineNative(col("embedding"), col("cemb"))).as("nc"),
          col("centroid")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        slice(array_sort(collect_list(col("sc"))), 1, nAssign).as("top"))
      .select(col("vec_id"), col("embedding"),
        explode(col("top.centroid")).as("centroid"))

  /** IVF-bucketed near-duplicate pairs — the production-shaped variant
    * of [[allPairsCosineDistributed]]: candidates come from a
    * same-centroid equi-join over [[ivfAssignTop]] buckets, then exact
    * cosine verifies candidates only. NO O(n²) operator in the plan —
    * the scoring pass is n·k, the candidate join is bucketed, and at
    * scale nCentroids grows with n to hold expected bucket size fixed,
    * making candidate volume O(n·bucket·nAssign²/ k) instead of n²/2.
    * On THIS synthetic corpus the planted near-dup cosines (0.45–0.6)
    * sit barely above background, so pruning is weak (~48% of pairs at
    * k=16, nAssign=3, measured recall 0.82–0.86) — the documented
    * property of the corpus, not the plan; the recall query makes that
    * tradeoff a checked number rather than an assertion. */
  def ivfNearDupPairs(emb: DataFrame, nCentroids: Int, nAssign: Int,
      minCos: Double): DataFrame = {
    // self-joined, so cache the assignment instead of re-running the
    // n·k scoring pass per join side
    val assigned = ivfAssignTop(emb, nCentroids, nAssign).persist()
    assigned.select(col("centroid"), col("vec_id").as("i"), col("embedding").as("ea"))
      .join(assigned.select(col("centroid"), col("vec_id").as("j"), col("embedding").as("eb")),
        Seq("centroid"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), cosineNative(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= minCos)
      .dropDuplicates("i", "j")
  }

  /** Data-adaptive centroid count (r11 verdict #1): a FIXED nCentroids
    * makes every IVF bucket hold n/K vectors, so in-bucket pair work
    * grows (n/K)² — the one measured above-linear sf1 exponent
    * (`sim_margin_bitext`, 1.13) traced exactly here. Deriving
    * K = max(minK, n DIV divisor) from the corpus holds expected
    * bucket OCCUPANCY (≈ divisor) constant instead, making candidate
    * volume O(n·divisor·nAssign²) — linear in n. With divisor 128 the
    * driver fixtures (500/500/2000 vectors) all resolve to K = minK =
    * 16, so adaptive twins return bit-identical results to their fixed
    * siblings at every shipped scale; at sf1 (20k vectors) K grows to
    * 156. The scalar rides in on a 1-row broadcast cross join —
    * nothing driver-side (the `gx_triangles_adaptive` device). */
  def ivfAssignTopAdaptive(emb: DataFrame, minK: Int, divisor: Int,
      nAssign: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val nk = emb.agg(
      greatest(lit(minK.toLong), expr(s"COUNT(*) DIV $divisor")).as("nk"))
    val centroids = broadcast(
      emb.crossJoin(broadcast(nk)).filter(col("vec_id") < col("nk"))
        .select(col("vec_id").as("centroid"), col("embedding").as("cemb")))
    assignTop(emb, centroids, nAssign)
  }

  /** Each vector's `nAssign` nearest centroids of a `cents(centroid,
    * cemb)` CTE: the `assigned` CTE of [[sqlIvfAssignedCte]] and
    * [[sqlIvfAssignedCteAdaptive]]. */
  private def sqlIvfAssigned(nAssign: Int): String = s"""assigned AS (
      SELECT vec_id, embedding, centroid FROM (
        SELECT e.vec_id, e.embedding, c.centroid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]) DESC,
                          c.centroid) AS rn
        FROM embeddings e, cents c)
      WHERE rn <= $nAssign)"""

  /** SQL mirror of [[ivfAssignTopAdaptive]] — same `assigned` contract
    * as [[sqlIvfAssignedCte]], with the centroid count derived from
    * COUNT(*) inside the oracle so both engines compute the identical
    * data-adaptive relation. */
  private[operators] def sqlIvfAssignedCteAdaptive(minK: Int, divisor: Int,
      nAssign: Int): String = s"""
    nk AS (SELECT GREATEST($minK, COUNT(*) // $divisor) AS k FROM embeddings),
    cents AS (
      SELECT vec_id AS centroid, embedding AS cemb FROM embeddings
      WHERE vec_id < (SELECT k FROM nk)),
    ${sqlIvfAssigned(nAssign)}"""

  private[operators] def sqlIvfAssignedCte(nCentroids: Int, nAssign: Int): String = s"""
    cents AS (
      SELECT vec_id AS centroid, embedding AS cemb FROM embeddings WHERE vec_id < $nCentroids),
    ${sqlIvfAssigned(nAssign)}"""

  /** The scale-path near-dup pair: IVF-bucketed candidates + verify,
    * and the recall harness that prices the approximation against a
    * bounded exact-truth sample. [[defs]]' `dd_embedding_neardup`
    * stays the exact formulation (and the oracle of record). */
  val nearDupDefs: Seq[QueryDef] = Seq(
    QueryDef(
      "dd_embedding_neardup_ivf",
      Some(s"""
        WITH ${sqlIvfAssignedCte(16, 3)},
        scored AS (
          SELECT DISTINCT a.vec_id AS i, b.vec_id AS j,
                 list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
          FROM assigned a JOIN assigned b
            ON a.centroid = b.centroid AND a.vec_id < b.vec_id)
        SELECT i, j, cos FROM scored WHERE cos >= 0.45
        ORDER BY i, j
      """.trim),
      (s, d) => ivfNearDupPairs(embeddings(s, d), nCentroids = 16, nAssign = 3, minCos = 0.45)
        .orderBy(col("i"), col("j"))),
    QueryDef(
      // Recall accounting for the IVF near-dup: exact truth bounded to
      // the i < 200 sample (a 200-row broadcast against the corpus —
      // linear, never n²), candidate volume alongside so the
      // speed/quality tradeoff is one checked row.
      "dd_embedding_neardup_recall",
      Some(s"""
        WITH ${sqlIvfAssignedCte(16, 3)},
        cand AS (
          SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
          FROM assigned a JOIN assigned b
            ON a.centroid = b.centroid AND a.vec_id < b.vec_id),
        found AS (
          SELECT c.i, c.j
          FROM cand c
          JOIN embeddings x ON x.vec_id = c.i
          JOIN embeddings y ON y.vec_id = c.j
          WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.45),
        truth AS (
          SELECT a.vec_id AS i, b.vec_id AS j
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE a.vec_id < 200
            AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45),
        hit AS (
          SELECT COUNT(*) AS n_hit FROM truth t
          WHERE EXISTS (SELECT 1 FROM found f WHERE f.i = t.i AND f.j = t.j))
        SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cands,
               CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS n_found,
               CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
               CAST((SELECT n_hit FROM hit) AS BIGINT) AS n_hit,
               CAST((SELECT n_hit FROM hit) AS DOUBLE)
                 / (SELECT COUNT(*) FROM truth) AS recall
      """.trim),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = embeddings(s, d)
        val assigned = ivfAssignTop(emb, 16, 3).persist()
        // each intermediate feeds two consumers (a count + a join) —
        // checkpoint so the candidate join and verify run once
        val cand = assigned.select(col("centroid"), col("vec_id").as("i"))
          .join(assigned.select(col("centroid"), col("vec_id").as("j")), Seq("centroid"))
          .filter(col("i") < col("j"))
          .select(col("i"), col("j")).distinct().localCheckpoint()
        val found = cand
          .join(emb.select(col("vec_id").as("i"), col("embedding").as("ea")), "i")
          .join(emb.select(col("vec_id").as("j"), col("embedding").as("eb")), "j")
          .filter(cosineNative(col("ea"), col("eb")) >= 0.45)
          .select(col("i"), col("j")).localCheckpoint()
        val truth = broadcast(emb.filter(col("vec_id") < 200)
            .select(col("vec_id").as("i"), col("embedding").as("ea")))
          .join(emb.select(col("vec_id").as("j"), col("embedding").as("eb")),
            col("i") < col("j"))
          .filter(cosineNative(col("ea"), col("eb")) >= 0.45)
          .select(col("i"), col("j")).localCheckpoint()
        val nHit = truth.join(found, Seq("i", "j"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        cand.agg(count(lit(1)).as("n_cands"))
          .crossJoin(found.agg(count(lit(1)).as("n_found")))
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .crossJoin(nHit)
          .select(col("n_cands"), col("n_found"), col("n_truth"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_truth")).as("recall"))
      })
  )

  /** Shared recall@5 assembly: rank `cands` per query, count hits
    * against `truth`, attach candidate volume; left joins keep a row
    * per query even at zero recall or zero candidates. */
  /** Joint per-subspace k-means for PQ: bit-identical to running
    * [[kmeansCentroids]] once per subspace (assignment and DECIMAL
    * means are independent per `m`, and the oracle mirrors them as M
    * separate CTE chains), but ONE corpus pass per iteration trains
    * all M codebooks — the subspace id rides the exploded rows, so M
    * trainings cost the driver round-trips of one. Model traffic per
    * iteration is M·K·SUB floats. */
  /** Row-local nearest-centroid: the centroid table rides into codegen
    * as array<float> LITERALS (k·dim floats — the identical bounded
    * model state the broadcast-join formulation ships each round), so
    * assignment costs zero joins and zero shuffles: k inlined
    * [[cosineNative]] calls and an `array_max` over (ccos, −centroid)
    * structs — the same ordering as [[nearestCentroid]]'s `max_by`
    * (cosine desc, ties to the smaller centroid id), hence
    * bit-identical assignments. The join formulation fans every vector
    * out k× and shuffles it back together; this evaluates the same k
    * cosines without the row ever leaving its partition. */
  private def nearestCentroidExpr(cents: Seq[(Long, Seq[Float])],
      vec: Column): Column =
    array_max(array(cents.map { case (cid, ce) =>
      struct(
        cosineNative(vec, typedLit(ce)).as("ccos"),
        lit(-cid).as("nc"),
        lit(cid).as("centroid"))
    }: _*)).getField("centroid")

  private def pqCodebookRows(emb: DataFrame, nSub: Int, subDim: Int,
      k: Int, iters: Int): Seq[(Int, Long, Seq[Float])] = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    var cents: Seq[(Int, Long, Seq[Float])] = emb.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().sortBy(_._1).toSeq
      .flatMap { case (id, e) =>
        (0 until nSub).map(m => (m, id, e.slice(m * subDim, (m + 1) * subDim)))
      }
    // ONE job and ONE shuffle per Lloyd iteration: assignment is the
    // row-local [[nearestCentroidExpr]] (no broadcast fan-out, no
    // re-group shuffle), fused with the per-(m, centroid) decimal mean
    // VECTORS — subDim sums per group instead of a subDim× posexplode
    // (the element fan-out was 16× the rows through the hash agg for
    // the same arithmetic) — into a single scan → groupBy → k·nSub-row
    // collect. Decimal sums are exact ⇒ order-independent ⇒ identical
    // to any other grouping shape, incl. the SQL oracle's.
    for (_ <- 1 to iters) {
      val byM = cents.groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3))).toMap
      val fan = emb.select(
        explode(array((0 until nSub).map { m =>
          val semb = slice(col("embedding"), m * subDim + 1, subDim)
          struct(lit(m).as("m"),
            nearestCentroidExpr(byM(m), semb).as("centroid"),
            semb.as("semb"))
        }: _*)).as("x"))
      val meanRows = fan
        .groupBy(col("x.m").as("m"), col("x.centroid").as("centroid"))
        .agg(count(lit(1)).as("n"),
          (0 until subDim).map(dd =>
            sum(element_at(col("x.semb"), dd + 1).cast(DecimalType(28, 12)))
              .as(s"s$dd")): _*)
        .select(col("m"), col("centroid"),
          array((0 until subDim).map(dd =>
            (col(s"s$dd").cast("double") / col("n")).cast("float")): _*).as("vr"))
        .as[(Int, Long, Seq[Float])].collect()
      val means = meanRows.map(r => (r._1, r._2) -> r._3).toMap
      cents = cents.map { case (m, cid, old) =>
        (m, cid, means.getOrElse((m, cid), old))
      }
    }
    cents
  }

  /** SQL mirror of [[recallTail]], to follow a `cands(qid, nid, cos)`
    * CTE in a WITH list: brute-force `truth` (the top 5 of the corpus
    * vec_id >= 10 by cosine for each query vec_id < 10), the index's
    * top-5 `ann` out of `cands`, and per query the hits, recall@5 and
    * the candidate count. */
  private[operators] def sqlRecallTail: String = """truth AS (
          SELECT qid, nid FROM (
            SELECT q.vec_id AS qid, c.vec_id AS nid,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                              c.vec_id) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
            WHERE q.vec_id < 10)
          WHERE rank <= 5),
        ann AS (
          SELECT qid, nid FROM (
            SELECT qid, nid,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
            FROM cands)
          WHERE rank <= 5),
        stats AS (SELECT qid, COUNT(*) AS n_cands FROM cands GROUP BY qid),
        hits AS (
          SELECT t.qid, COUNT(a.nid) AS n_hit
          FROM truth t LEFT JOIN ann a ON a.qid = t.qid AND a.nid = t.nid
          GROUP BY t.qid)
        SELECT CAST(h.qid AS BIGINT) AS qid,
               CAST(h.n_hit AS BIGINT) AS n_hit,
               CAST(h.n_hit AS DOUBLE) / 5 AS recall,
               CAST(COALESCE(s.n_cands, 0) AS BIGINT) AS n_cands
        FROM hits h LEFT JOIN stats s ON s.qid = h.qid
        ORDER BY qid"""

  private[operators] def recallTail(truth0: DataFrame, cands0: DataFrame): DataFrame = {
    // both inputs feed two consumers each (rank+stats, semi+base) —
    // materialize the expensive upstream (candidate scoring / brute
    // truth) once instead of re-running it per consumer
    val truth = truth0.localCheckpoint()
    val cands = cands0.localCheckpoint()
    val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("nid"))
    val ann = cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5).select(col("qid"), col("nid"))
    val stats = cands.groupBy(col("qid")).agg(count(lit(1)).as("n_cands"))
    val hits = truth.join(ann, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    truth.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .join(stats, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / 5).as("recall"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"))
      .orderBy(col("qid"))
  }

  /** The trainer's count-based partition count (unknown-stats corpora):
    * one task per ~2k rows, floor 4, capped at `cores`. The min is taken
    * in Long space before narrowing — `(count / 2000).toInt` wraps
    * negative above ~4.3T rows and would pin the floor. */
  private[graft] def trainPartsForCount(count: Long, cores: Int): Int =
    (count / 2000L).min(cores.toLong).max(4L).toInt
}
