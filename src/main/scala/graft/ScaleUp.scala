package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up generator (r10 verdict #1): builds an
  * sf1-equivalent dataset from the sf0.1 driver fixtures so the
  * "would it survive 100×" claim can be a MEASURED curve instead of a
  * design argument. Only sf0.001/0.01/0.1 ship under /root/testdata;
  * this writes an untracked `data/sf1/` with factor× rows per table,
  * purely from `xxhash64` of row keys — same run, same bytes, no RNG
  * state, the same determinism discipline as
  * [[graft.functions.PortableHash]].
  *
  * Replica construction (k = 0 keeps the original rows verbatim;
  * k = 1..factor-1 are remapped + perturbed):
  *
  *  - '''Keys''' shift by `k * span(domain)` where span = max(key)+1
  *    computed from the source — FK webs (order↔lineitem,
  *    customer↔orders, part/supplier↔lineitem) stay consistent because
  *    both sides of every FK use the same span. `nation`/`region` are
  *    fixed 25/5-row domains (as in TPC-H at every SF) and are copied,
  *    not scaled.
  *  - '''Values''' perturb by ±1% via a hash of (original key, k) so
  *    replicas aren't byte-identical; dates shift 0–6 days keyed on the
  *    original ORDER key so `o_orderdate` and its lineitems'
  *    `l_shipdate` move together and date arithmetic stays sane.
  *  - '''documents.text''' gets a per-replica VOCABULARY renaming: each
  *    token t is replaced, with probability 1/3 decided by
  *    `xxhash64(t, k)`, by a pseudo-word unique to (t, k) — the full
  *    64-bit hash in hex, so distinct renamed tokens never collide
  *    within a replica (ADVICE r11; the old 99991 modulus could merge
  *    two renamed tokens and perturb shingle structure). Renaming is
  *    consistent across a replica, so within-replica duplicate/shingle
  *    structure is preserved EXACTLY (dedup workloads keep their
  *    character and their per-replica candidate counts), while
  *    cross-replica 8-gram survival is (2/3)^8 ≈ 4% — replica twins
  *    are NOT near-duplicates and gram frequencies grow ~linearly, so
  *    a superlinear flag at sf1 indicts the operator, not the
  *    generator's self-similarity.
  *  - '''embeddings.embedding''' adds hash-noise of ~0.75 L2 magnitude
  *    (per-component uniform from `xxhash64(vec_id, k, i)`) and
  *    re-normalizes: replica twins land at cosine ≈ 0.8 — inside the
  *    corpus distribution, below near-dup thresholds — while the
  *    10-label cluster structure survives (noise is comparable to the
  *    within-cluster spread, std 0.125/dim).
  *
  * Usage: runMain graft.ScaleUp [srcDir] [outDir] [factor]
  * Defaults: /root/testdata/sf0.1 → data/sf1, factor 10.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("data/sf1")
    val factor = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // its own builder, not EngineSession's: the sf1 fingerprints were
    // generated under exactly these settings
    val cpus = EngineSession.cpus()
    val spark = EngineSession.start(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def span(df: DataFrame, key: String): Long = {
      // ADVICE r11: fail with a message on an empty source (max = NULL
      // would NPE) and accept any integral key type, not just LONG
      val row = df.agg(max(col(key))).head
      require(!row.isNullAt(0), s"span($key): source table is empty")
      row.getAs[Number](0).longValue + 1L
    }
    /** ±1% multiplicative perturbation, deterministic in (keys…, k). */
    def pct1(k: Int, keys: Column*): Column =
      lit(1.0) + (pmod(xxhash64((keys :+ lit(k)): _*), lit(2001L))
        .cast("double") - lit(1000.0)) / lit(100000.0)
    /** 0–6 day shift keyed on the original order key so order and
      * lineitem dates move together. */
    def dayShift(k: Int, key: Column, ts: Column): Column =
      ts + make_interval(lit(0), lit(0), lit(0),
        pmod(xxhash64(key, lit(k)), lit(7L)).cast("int"))

    def union(parts: Seq[DataFrame]): DataFrame = parts.reduce(_ union _)
    def write(df: DataFrame, name: String, nFiles: Int): Unit = {
      df.repartition(nFiles)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] wrote $name x$factor -> $outDir/$name.parquet")
    }

    // fixed domains: copy, never scale (TPC-H keeps 25 nations at every SF)
    for (name <- Seq("nation", "region")) {
      src(name).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] copied $name")
    }

    val custSpan = span(src("customer"), "c_custkey")
    val suppSpan = span(src("supplier"), "s_suppkey")
    val partSpan = span(src("part"), "p_partkey")
    val orderSpan = span(src("orders"), "o_orderkey")

    // names follow the remapped key (source format: Entity#%09d of the
    // key): replicas are NEW entities, not 10 recurrences of each old
    // one. With names copied verbatim, every FastSS/blocking group in
    // the er_ family grows 10× and pairwise work inside groups grows
    // 100× — a generator artifact (measured: er_edit2_lookup ratio 16
    // vs ~6 expected), not the organic-growth mode where new data
    // brings new identities.
    write(union((0 until factor).map { k =>
      src("customer")
        .withColumn("c_acctbal",
          when(lit(k) === 0, col("c_acctbal"))
            .otherwise(round(col("c_acctbal") * pct1(k, col("c_custkey")), 2)))
        .withColumn("c_custkey", col("c_custkey") + lit(k * custSpan))
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
    }), "customer", 4)

    write(union((0 until factor).map { k =>
      src("supplier")
        .withColumn("s_acctbal",
          when(lit(k) === 0, col("s_acctbal"))
            .otherwise(round(col("s_acctbal") * pct1(k, col("s_suppkey")), 2)))
        .withColumn("s_suppkey", col("s_suppkey") + lit(k * suppSpan))
        .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
    }), "supplier", 1)

    write(union((0 until factor).map { k =>
      src("part")
        .withColumn("p_retailprice",
          when(lit(k) === 0, col("p_retailprice"))
            .otherwise(round(col("p_retailprice") * pct1(k, col("p_partkey")), 2)))
        .withColumn("p_partkey", col("p_partkey") + lit(k * partSpan))
    }), "part", 4)

    write(union((0 until factor).map { k =>
      val base = src("orders")
      val kd = if (k == 0) base else base
        .withColumn("o_totalprice",
          round(col("o_totalprice") * pct1(k, col("o_orderkey")), 2))
        .withColumn("o_orderdate",
          dayShift(k, col("o_orderkey"), col("o_orderdate")))
      kd.withColumn("o_orderkey", col("o_orderkey") + lit(k * orderSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(k * custSpan))
    }), "orders", 8)

    write(union((0 until factor).map { k =>
      val base = src("lineitem")
      val kd = if (k == 0) base else base
        .withColumn("l_extendedprice", round(col("l_extendedprice") *
          pct1(k, col("l_orderkey"), col("l_linenumber")), 2))
        // same (orderkey, k) hash basis as o_orderdate: the whole order
        // shifts as one, l_shipdate - o_orderdate is invariant
        .withColumn("l_shipdate",
          dayShift(k, col("l_orderkey"), col("l_shipdate")))
      kd.withColumn("l_orderkey", col("l_orderkey") + lit(k * orderSpan))
        .withColumn("l_partkey", col("l_partkey") + lit(k * partSpan))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * suppSpan))
    }), "lineitem", 16)

    // events: 10× users over the SAME one-month window = 10× the event
    // rate — the realistic growth mode; per-user event counts (and so
    // per-user sessionization cost) stay constant.
    val evRaw = sources.Tables.events(spark, srcDir) // ts normalized to µs
    val eventSpan = span(evRaw, "event_id")
    val userSpan = span(evRaw, "user_id")
    write(union((0 until factor).map { k =>
      val kd = if (k == 0) evRaw else evRaw
        .withColumn("value", col("value") * pct1(k, col("event_id")))
      kd.withColumn("event_id", col("event_id") + lit(k * eventSpan))
        .withColumn("user_id", col("user_id") + lit(k * userSpan))
    }), "events", 16)

    // documents: per-replica vocabulary renaming (see scaladoc).
    val docs = src("documents")
    val docSpan = span(docs, "doc_id")
    write(union((0 until factor).map { k =>
      val kd = if (k == 0) docs else docs
        .withColumn("text", expr(
          s"""array_join(
                transform(split(text, ' '), t ->
                  CASE WHEN t <> '' AND pmod(xxhash64(t, $k), 3) = 0
                       THEN concat('zq', hex(xxhash64(t, $k)))
                       ELSE t END),
                ' ')"""))
        .withColumn("n_chars", length(col("text")).cast("long"))
      kd.withColumn("doc_id", col("doc_id") + lit(k * docSpan))
    }), "documents", 8)

    // embeddings: hash-noise + renormalize (see scaladoc).
    val emb = src("embeddings")
    val vecSpan = span(emb, "vec_id")
    write(union((0 until factor).map { k =>
      val kd = if (k == 0) emb else emb
        .withColumn("_e2", expr(
          s"""transform(embedding, (x, i) ->
                CAST(x AS DOUBLE) + 0.16D *
                  (CAST(pmod(xxhash64(vec_id, $k, i), 2001L) AS DOUBLE)
                    - 1000.0D) / 1000.0D)"""))
        .withColumn("_n",
          expr("sqrt(aggregate(_e2, 0.0D, (acc, x) -> acc + x * x))"))
        .withColumn("embedding",
          expr("transform(_e2, x -> CAST(x / _n AS FLOAT))"))
        .drop("_e2", "_n")
      kd.withColumn("vec_id", col("vec_id") + lit(k * vecSpan))
    }), "embeddings", 8)

    println(s"[scaleup] done: $srcDir x$factor -> $outDir")
    spark.stop()
  }
}
