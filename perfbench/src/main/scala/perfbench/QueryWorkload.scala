package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** Closed loop, one client: sequential passes over a fixed query list,
  * each pass in a seed-driven order. Set-up runs one untimed pass that
  * checks every query's result digest; it is also the warm pass. */
object QueryWorkload {

  /** LLM-data-pipeline operators, one per family: data-bound scan,
    * shuffle and codegen, plus a bulk commit-log read through DSv2. */
  val corpusPipeline: Seq[String] = Seq(
    "rag_bm25_topk", "rag_tfidf_topk", "ag_tail_records", "ag_per_entity_counts",
    "dd_exact_documents", "dd_minhash_lsh", "dd_simhash_pairs", "sim_cosine_topk",
    "sim_lsh_ann", "ta_token_stats", "ta_ngram_lang_id", "pl_corpus_curation",
    "cl_commit_log", "dd_incremental", "q01_pricing_summary")

  type QueryFn = (SparkSession, String) => DataFrame

  /** Order-insensitive digest of a full result: row count and the exact
    * sum of per-row 64-bit hashes over all columns. */
  def digest(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(renamed.columns.map(col): _*)
    val row = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    val total = Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${row.getLong(0)}:$total"
  }

  /** Frees what earlier queries left cached, so that passes stay alike:
    * cached tables and persisted (e.g. locally checkpointed) RDDs. */
  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(rdd => try rdd.unpersist(blocking = true) catch { case _: Throwable => () })
    System.gc()
  }

  def run(spark: SparkSession, opts: Options, queries: Seq[String],
      fns: Map[String, QueryFn] = SparkEntry.queries): Outcome = {
    val sc = spark.sparkContext
    val tracer = new Tracer(opts.trace)
    val expected = Digests.expected(opts, queries)
    var attempted = 0
    var failed = 0
    val problems = mutable.ListBuffer[String]()
    def fail(msg: String): Unit = { failed += 1; problems += msg }

    // set-up: one untimed pass in list order that checks each result
    val healthy = queries.filter { q =>
      attempted += 1
      try {
        val d = digest(fns(q)(spark, opts.data))
        expected.get(q) match {
          case Some(e) if e == d => true
          case Some(e) => fail(s"$q: result digest $d, expected $e"); false
          case None => fail(s"$q: result digest $d, no expected digest"); false
        }
      } catch { case e: Throwable => fail(s"$q threw $e"); false }
    }
    isolate(spark)

    val layers = new SparkLayers
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val opTimes = mutable.ArrayBuffer[Double]()
    val construct = mutable.ArrayBuffer[Double]()
    val execute = mutable.ArrayBuffer[Double]()
    val passes = mutable.ArrayBuffer[(Double, Boolean)]() // (wall s, traced)
    val rng = new scala.util.Random(opts.seed)
    var tracedOps = 0
    var gcTracedMs = 0L
    val firstOp = System.currentTimeMillis()
    val tStart = System.nanoTime()
    // every run times at least two passes, so that a slow first pass does
    // not leave a run with fewer samples than the others (and a traced run
    // has an untraced pass to measure its overhead against)
    val minPasses = 2
    var pass = 0
    // start a pass only while it is expected to end inside the window
    def more = pass < minPasses || {
      val typical = if (passes.isEmpty) 0.0 else Stats.median(passes.map(_._1).toSeq)
      Stats.secs(System.nanoTime() - tStart) + typical <= opts.seconds
    }
    while (healthy.nonEmpty && more) {
      // a traced run alternates traced and untraced passes, so that it
      // measures its own tracing overhead
      val traced = opts.trace && pass % 2 == 0
      tracer.active = traced
      if (traced) layers.attach(spark)
      val gcPass0 = Jvm.gcMs
      val order = rng.shuffle(healthy)
      var complete = true
      val p0 = System.nanoTime()
      tracer.span("pass", s"p$pass") {
        order.foreach { q =>
          val req = s"p$pass/$q"
          sc.setLocalProperty(SparkLayers.ReqKey, req)
          attempted += 1
          val q0 = System.nanoTime()
          try {
            var q1 = 0L
            tracer.span("query", req) {
              val df = tracer.span("operators.construct", req)(fns(q)(spark, opts.data))
              q1 = System.nanoTime()
              tracer.span("operators.execute", req) {
                df.write.format("noop").mode("overwrite").save()
              }
            }
            val q2 = System.nanoTime()
            // only successful executions are timed
            perQuery.getOrElseUpdate(q, mutable.ArrayBuffer()) += Stats.secs(q2 - q0)
            opTimes += Stats.secs(q2 - q0)
            if (traced) {
              construct += Stats.secs(q1 - q0)
              execute += Stats.secs(q2 - q1)
              tracedOps += 1
            }
          } catch {
            case e: Throwable => complete = false; fail(s"$q threw $e")
          }
        }
      }
      sc.setLocalProperty(SparkLayers.ReqKey, null)
      val wall = Stats.secs(System.nanoTime() - p0)
      println(f"${opts.workload}%s pass $pass%d${if (traced) " (traced)" else ""}%s: $wall%.3f s")
      if (complete) passes += ((wall, traced))
      if (traced) {
        layers.detach(spark)
        gcTracedMs += Jvm.gcMs - gcPass0
      }
      tracer.active = false
      isolate(spark)
      pass += 1
    }
    val measured = Stats.secs(System.nanoTime() - tStart)

    val plain = passes.filterNot(_._2).map(_._1).toSeq match {
      case Seq() => passes.map(_._1).toSeq
      case untraced => untraced
    }
    val e2e =
      if (opTimes.isEmpty || passes.isEmpty) Nil
      else Seq(
        Metric("setup_s", (firstOp - opts.t0Ms) / 1e3, "s"),
        Metric("query_geomean_s", Stats.geomean(perQuery.values.map(v => Stats.median(v.toSeq)).toSeq), "s"))

    val extra = mutable.ArrayBuffer[Metric]()
    extra += Metric("failed_frac", failed.toDouble / attempted, "ratio")
    if (plain.nonEmpty) extra += Metric("pass_s", Stats.median(plain), "s")
    if (opTimes.nonEmpty) extra += Metric("op_p50_s", Stats.median(opTimes.toSeq), "s")
    extra += Metric("ops_per_s", opTimes.size / measured, "1/s")
    Stats.tail(opTimes.toSeq).foreach { case (p, v) => extra += Metric(s"op_p${p}_s", v, "s") }
    extra += Metric("passes", passes.size, "count")
    extra += Metric("ops", opTimes.size, "count")
    perQuery.toSeq.sortBy(_._1).foreach { case (q, ts) =>
      extra += Metric(s"query.$q", Stats.median(ts.toSeq), "s") }
    val layerMetrics =
      if (!opts.trace) Nil
      else {
        layers.adopt(tracer)
        val traced = passes.filter(_._2).map(_._1).toSeq
        val untraced = passes.filterNot(_._2).map(_._1).toSeq
        val overhead =
          if (traced.isEmpty || untraced.isEmpty) Double.NaN
          else (Stats.median(traced) - Stats.median(untraced)) / healthy.size
        val spans = tracer.resolved
        val eager = spans.filter(_.name == "spark.job")
        val constructIds = spans.filter(_.name == "operators.construct").map(_.id).toSet
        val n = math.max(tracedOps, 1).toDouble
        extra += Metric("operators.construct_s", construct.sum / n, "s")
        extra += Metric("operators.eager_jobs", eager.count(j => constructIds(j.parent)) / n, "count")
        extra += Metric("operators.execute_s", execute.sum / n, "s")
        layers.perOp(tracedOps) ++ Seq(
          Metric("jvm.gc_s", gcTracedMs / 1e3 / n, "s"),
          Metric("jvm.heap_live_mb", Jvm.liveHeapMb, "MB"),
          Metric("trace.overhead_s", overhead, "s"))
      }
    if (opts.trace) tracer.write(opts.spanFile, layerMetrics ++ extra)
    Outcome(failed == 0 && e2e.nonEmpty, attempted, failed, e2e, layerMetrics,
      extra.toSeq, problems.toSeq)
  }
}
