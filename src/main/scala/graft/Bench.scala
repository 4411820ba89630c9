package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** The superlinearity verdict as a pure function so a spec can feed
    * it a planted quadratic: flag when t(big)/t(small) far exceeds the
    * 10× data ratio AND the big-scale time is ≥ 1 s (below that,
    * fixed per-job overhead dominates both scales and the ratio is
    * noise). Ratios < 0 are the error sentinel (the small-scale run
    * failed — recorded, never silently flagged or dropped). Threshold
    * 15 on a 10× step ≈ flags anything growing ~1.5× faster than
    * linear; r6's 25 let a 24.4 in-suite ratio sail under. */
  private[graft] def flagSuperlinear(
      ratios: Map[String, Double],
      bigTime: Map[String, Double],
      threshold: Double = 15.0): Seq[String] =
    ratios.collect {
      case (name, r) if r > threshold && bigTime.getOrElse(name, 0.0) >= 1.0 =>
        name
    }.toSeq.sorted

  /** The adaptive re-measure trigger as a pure function so a spec can
    * pin it (r9 verdict #1): the warm run includes Catalyst planning +
    * Janino compile, so steady-state should come in BELOW its wall —
    * a measured run 3× ABOVE it is the signature of a transient host
    * load burst, not the query (two driver rounds in a row carried a
    * fictitious multi-row tail this rule would have caught). `floor`
    * keeps sub-threshold rows out: below it, scheduler jitter
    * dominates and a re-run buys nothing. */
  private[graft] def needsRemeasure(
      measured: Double, warmWall: Double, floor: Double): Boolean =
    measured > 3.0 * warmWall && measured >= floor

  /** Committed-artifact floor (r10 verdict #2), pure so a spec can pin
    * it: under SUSTAINED host load warm and measured walls inflate
    * together and [[needsRemeasure]] never fires. The committed bench
    * record is an independent quiet-box reference — fire the same
    * single re-run when this row's composition-stable optimized fp
    * matches the committed one (plan provably unchanged) and measured
    * exceeds 3× the committed time. An fp mismatch must NOT fire: a
    * real plan change may legitimately cost more and has to stay
    * visible in the artifact. */
  private[graft] def committedFloorFires(
      measured: Double, fpo: String,
      committed: Option[(Double, String)]): Boolean =
    committed.exists { case (t, fp) =>
      fpo != "err" && fp == fpo && measured >= 1.0 && measured > 3.0 * t
    }

  /** One query's full-scale result: its steady-state seconds, or the
    * first line of the error that stopped it (an errored query gets no
    * time and no share of `total`), the optimized-plan fp ("err" when
    * construction failed), whether the single re-measure fired, and —
    * for a timed query — the first build's wall and the
    * [[LayerCollector]] tag of the run whose time is reported. */
  private[graft] final case class Measured(
      name: String, outcome: Either[String, Double], fpo: String,
      remeasured: Boolean, constructS: Double = 0.0, runTag: String = "")

  private[graft] def total(ms: Seq[Measured]): Double =
    ms.flatMap(_.outcome.toOption).sum

  /** Every Bench execution: a noop-sink write, not count() — count()
    * lets Catalyst prune every projected column, so expression-heavy
    * queries would measure a bare row count instead of their real work. */
  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private[graft] def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The measured runs both scales share. The warm run (`warmWall`,
    * construction included) already paid Catalyst planning + Janino
    * compile, so one freshly constructed run (`once(0)`) is the
    * steady-state time. Adaptive re-measure (r9 verdict #1): with ONE
    * measured run, a single host preemption burst fabricates a 10x row
    * (r8 gx_ktruss 20.6 s, r9 gx_lpa 25.0 s — both ≤3.9 s isolated at
    * the identical fp), so when [[needsRemeasure]] at `floor` or
    * `alsoFire` says so, run `once(1)` too; the reported time is the
    * min. Returns every run's seconds; throws whatever the query
    * throws. */
  private def steady(once: Int => Double, warmWall: Double, floor: Double,
      alsoFire: Double => Boolean = _ => false): Seq[Double] = {
    val first = once(0)
    if (needsRemeasure(first, warmWall, floor) || alsoFire(first)) Seq(first, once(1))
    else Seq(first)
  }

  /** The per-query measurement: isolate → construct → optimized-plan
    * fingerprint → warm write → [[steady]] (floor 1 s, plus the
    * [[committedFloorFires]] trigger against `committed`), each measured
    * run — construction and write — tagged for `layers`, all inside
    * [[EngineSession.attempt]]: any Throwable along the way becomes the
    * recorded error, never a time, and keeps the fp when the query was
    * built.
    *
    * Isolation runs BEFORE the warm run: without it, persisted frames
    * from every earlier query stay resident for the whole suite (+35-45%
    * GC drag on later queries, round 5) and the fp turns
    * cache-composition-sensitive. The warm wall brackets construction
    * too, since eager localCheckpoint()s run their jobs inside fn() and
    * timing only the write would spuriously re-measure
    * checkpoint-heavy queries. The fp is taken between construction
    * and the warm write: once the warm run materializes a cached frame
    * its InMemoryRelation embeds the AQE-finalized physical subtree
    * (QueryStage wrappers, runtime build side), which flapped the
    * composition-stable optimized fp on ~11 queries when taken
    * post-warm. */
  private[graft] def measure(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String,
      committed: Option[(Double, String)], layers: LayerCollector): Measured = {
    EngineSession.isolate(spark)
    var fpo = "err"
    val t0 = System.nanoTime()
    EngineSession.attempt(spark, fn, dir) { df =>
      val constructWall = (System.nanoTime() - t0) / 1e9
      fpo = PlanFp.fingerprintOpt(df)
      val warmWall = constructWall + timed(run(df))._2
      val runs = steady(i => layers.tagged(s"$name#$i")(timed(run(fn(spark, dir)))._2),
        warmWall, floor = 1.0, committedFloorFires(_, fpo, committed))
      Measured(name, Right(runs.min), fpo, runs.length > 1,
        constructWall, s"$name#${runs.indexOf(runs.min)}")
    }.left.map(e => Measured(name, Left(e), fpo, false)).merge
  }

  /** The `layers` record of every timed query (an errored one has
    * none: `errors` records it), read after one [[LayerCollector.drain]]. */
  private[graft] def layerRecords(ms: Seq[Measured],
      layers: LayerCollector): Seq[(String, Layer)] = {
    layers.drain()
    ms.collect { case m if m.outcome.isRight => m.name -> layers.record(m.runTag, m.constructS) }
  }

  /** t(big)/t(small) for the superlinearity gate: light isolation (a
    * small-scale query leaves a tenth of the state), a warm run, then
    * [[steady]] with its own 0.2 s floor — an inflated small-side
    * denominator DEFLATES the ratio and masks a real superlinearity. A
    * query that fails at the small scale is exactly the failure this
    * gate hunts: it yields the -1.0 sentinel (`ratio_errors`), never a
    * silently dropped row. */
  private[graft] def ratio(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame, smallDir: String,
      big: Double): Double = {
    EngineSession.isolate(spark, full = false)
    val t0 = System.nanoTime()
    EngineSession.attempt(spark, fn, smallDir) { df =>
      run(df)
      val warm = (System.nanoTime() - t0) / 1e9
      val small = steady(_ => timed(run(fn(spark, smallDir)))._2, warm, floor = 0.2).min
      if (small > 0) big / small else 0.0
    }.getOrElse(-1.0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional subset for local iteration ([[EngineSession.only]]),
    // validated before any session work: full-surface runs remain the
    // default for round artifacts.
    val only = EngineSession.only()
    // Default to DRIVER PARITY: the driver harness runs local[32] on a
    // 32-cpu host, and both plan fingerprints and times are
    // shuffle-partition-dependent (r8 verdict: every committed number
    // was measured at cpus=8 while the driver ran 32 — gx_modularity
    // 2.67s@8 vs 6.46s@32, different fps on 4 queries). Never compare
    // fps or times across cpu configs.
    val cpus = EngineSession.cpus()
    // Config A/B hook (guide §1: measure before adopting any config):
    // SPARK_GRAFT_CONF="key=value;key=value" overlays the builder, so a
    // candidate setting can be benched against the same code without a
    // recompile. Round artifacts are produced with it UNSET — adopted
    // settings graduate into the builder below with a rationale.
    val extraConf: Seq[(String, String)] =
      sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(";").toSeq
        .map(_.trim).filter(_.contains("="))
        .map { kv =>
          val i = kv.indexOf('=')
          (kv.take(i).trim, kv.drop(i + 1).trim)
        }
    // Shared engine config plus the fingerprint-stability settings
    // ([[EngineSession.fingerprintBuilder]]), then the A/B overlay.
    val spark = EngineSession.start(
      extraConf.foldLeft(EngineSession.fingerprintBuilder(cpus)) {
        case (b, (k, v)) => b.config(k, v)
      })
    // Warm up JIT/codegen/parquet readers so the first measured query
    // doesn't absorb one-time session init (~3 s of classloading).
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("ta_fingerprint").foreach(fn => fn(spark, sfDir).count())
    // Committed-artifact floor (r10 verdict #2): the warm-wall trigger
    // is blind to SUSTAINED host load — warm and measured inflate
    // together and nothing fires (driver r10: sim_margin_bitext 4.16s
    // vs 2.13s judge-isolated with remeasured=[]). The committed bench
    // record is an independent reference measured deliberately on a
    // quiet box: when a row's composition-stable optimized fp MATCHES
    // the committed artifact's (the plan is provably unchanged — safe
    // to compare as of the 360880f normalization) and its measured
    // time exceeds 3× the committed time, grant the same single
    // re-run. fp-mismatched rows never fire — a real plan change may
    // legitimately cost more and must stay visible. Only comparable at
    // the same cpu config (r8: never compare times/fps across cpus).
    // Resolve the committed artifact against the repo root, not the
    // CWD (ADVICE r11: a bench launched from elsewhere silently
    // disabled the floor). Heuristic: walk up from CWD to the first
    // dir containing build.sbt; SPARK_GRAFT_COMMITTED_REF overrides.
    val committedRefPath: java.nio.file.Path =
      sys.env.get("SPARK_GRAFT_COMMITTED_REF")
        .map(java.nio.file.Paths.get(_))
        .getOrElse {
          var d = java.nio.file.Paths.get("").toAbsolutePath
          while (d != null && !java.nio.file.Files.isRegularFile(d.resolve("build.sbt")))
            d = d.getParent
          (if (d == null) java.nio.file.Paths.get("") else d)
            .resolve("docs/bench_full.json")
        }
    val committedRef: Map[String, (Double, String)] = try {
      val p = committedRefPath
      if (!java.nio.file.Files.isRegularFile(p)) {
        println(s"[bench] note: committed reference not found at $p — committed-floor re-measure disabled")
        Map.empty
      }
      else {
        import graft.functions.AgentText.{JObj, JNum, JStr, JVal}
        graft.functions.AgentText.parseJson5ish(
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8")) match {
          case Some(JObj(root)) =>
            // same cpus and same scale only: an sf1 run must not
            // re-measure against sf0.1 committed times (fps differ too —
            // scan paths are in the canonical text — but don't rely on
            // that alone)
            val sameRun = root.get("cpus").exists {
              case JNum(c) => c.toInt.toString == cpus
              case JStr(c) => c == cpus
              case _ => false
            } && root.get("sf").contains(JStr(sfDir))
            def entries(k: String) = root.get(k).collect { case JObj(qs) => qs }.getOrElse(Map.empty[String, JVal])
            val fps = entries("plans_opt").collect { case (k, JStr(v)) => k -> v }
            if (!sameRun) Map.empty
            else entries("queries").collect {
              case (k, JNum(t)) if fps.contains(k) => (k, (t, fps(k))) }.toMap
          case _ =>
            println(s"[bench] note: committed reference at $committedRefPath did not parse — committed-floor re-measure disabled")
            Map.empty
        }
      }
    } catch { case _: Throwable =>
      println(s"[bench] note: committed reference at $committedRefPath unreadable — committed-floor re-measure disabled")
      Map.empty
    }
    // sorted order: deterministic across rounds, comparable per-query.
    val collector = new LayerCollector(spark)
    val results = EngineSession.selected(only).map { case (name, fn) =>
      measure(spark, name, fn, sfDir, committedRef.get(name), collector)
    }
    val times = results.collect { case Measured(k, Right(t), _, _, _, _) => k -> t }
    val errors = results.collect { case Measured(k, Left(e), _, _, _, _) => k -> e }
    val layers = layerRecords(results, collector)
    val fallbacks = layers.collect { case (k, l) if l.codegenFallback => k }
    val remeasured = results.filter(_.remeasured).map(_.name)
    val totalSec = total(results)
    EngineSession.isolate(spark)
    // Superlinearity gate: re-time every query at a 10×-smaller scale
    // ([[ratio]]) and flag t(big)/t(small) ratios far above the 10× data
    // ratio. This is the mechanical tripwire for accidentally-quadratic
    // plans: ts_linear_interp's r4 quadratic frames (ratio ~100) and any
    // day-grid nested-loop join regression would both surface here
    // without a human reading plan dumps. Ratios only flag when the
    // big-scale time is ≥ 1 s — below that, fixed per-job overhead
    // dominates both scales and the ratio is noise. Opt out (or point
    // elsewhere) with SPARK_GRAFT_RATIO_DIR=""; defaults on only for
    // the standard sf0.1 artifact run.
    val ratioDir = sys.env.getOrElse("SPARK_GRAFT_RATIO_DIR",
      if (sfDir.contains("sf0.1")) sfDir.replace("sf0.1", "sf0.01") else "")
    // Only queries that could possibly flag get a small-scale run: the
    // gate requires big-time >= 1.0 s, so anything under 0.5 s (margin
    // for round-over-round growth) can never flag — skipping it saves
    // ~30% of the ratio pass's driver wall-clock at a 400-query
    // surface (the r7 driver bench died on exactly this budget).
    val ratioBigMin = 0.5
    val bigTimes = times.toMap
    val ratios: Map[String, Double] =
      if (ratioDir.isEmpty || !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(ratioDir))) Map.empty
      else EngineSession.selected(only).collect {
        case (name, fn) if bigTimes.getOrElse(name, 0.0) >= ratioBigMin =>
          name -> ratio(spark, fn, ratioDir, bigTimes(name))
      }.toMap
    val superlinear = flagSuperlinear(ratios, bigTimes)
    val ratioErrors = ratios.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // One aggregate of the optimized-plan fps for the (size-capped)
    // stdout line; the per-query map lives in docs/bench_full.json.
    val plansFp = PlanFp.md5_12(results.map(m => s"${m.name}=${m.fpo}").mkString(";"))
    def names(ns: Seq[String]): String = ns.map(n => s"\"$n\"").mkString("[", ",", "]")
    // Full per-query medians → a file (the driver keeps only the last
    // ~2000 chars of stdout, so a 100+-entry JSON line gets truncated
    // and never parses — BENCH_r01/r02 both recorded parsed:null).
    val fullJson = {
      val qs = times.map { case (k, v) => s"\"$k\":" + v }.mkString(",")
      val fpos = results.map(m => s"\"${m.name}\":\"${m.fpo}\"").mkString(",")
      val ls = layers.map { case (k, l) => s"\"$k\":${l.json}" }.mkString(",")
      val errs = errors.map { case (k, e) =>
        s"\"$k\":\"${graft.functions.AgentText.escapeJson(e)}\"" }.mkString(",")
      val rs = ratios.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":" + r3(v) }.mkString(",")
      // Attribution fields (r10 verdict #3): the committed record was
      // clobbered four rounds running by *something* passing an explicit
      // SPARK_GRAFT_BENCH_OUT. Echo the override value and the write
      // timestamp INTO the artifact so the next clobber names itself.
      val benchOutAttr = sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .map(graft.functions.AgentText.escapeJson).getOrElse("")
      val writtenAt = java.time.Instant.now().toString
      s"""{"metric":"total","value":$totalSec,"unit":"sec","n_queries":${times.length},"cpus":$cpus,""" +
        s""""queries":{$qs},"plans_opt":{$fpos},"plans_fp":"$plansFp","layers":{$ls},""" +
        s""""codegen_fallback":${names(fallbacks)},""" +
        s""""ratios":{$rs},"ratio_dir":"$ratioDir","superlinear":${names(superlinear)},"ratio_errors":${names(ratioErrors)},""" +
        s""""remeasured":${names(remeasured)},"errors":{$errs},"n_errors":${errors.length},""" +
        s""""bench_out":"$benchOutAttr","written_at":"$writtenAt","sf":"$sfDir"}"""
    }
    // SPARK_GRAFT_BENCH_OUT overrides the artifact path. WITHOUT the
    // explicit override the artifact goes to an untracked timestamped
    // file under docs/bench_runs/ (gitignored): the driver's per-round
    // bench overwrote the committed docs/bench_full.json in place in
    // r8 AND r9, ending both rounds with the repo's primary perf
    // record dirty. The committed record is now only ever written
    // deliberately (SPARK_GRAFT_BENCH_OUT=docs/bench_full.json), and a
    // driver-initiated run leaves git status clean. A failed write
    // fails the run: the stdout line must never name a missing file.
    val outOverride = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val defaultPath = {
      val ts = new java.text.SimpleDateFormat("yyyyMMdd-HHmmss")
        .format(new java.util.Date())
      s"docs/bench_runs/bench_full_cpus${cpus}_$ts.json"
    }
    val fullPath = java.nio.file.Paths.get(outOverride.getOrElse(defaultPath))
    if (only.isEmpty || outOverride.isDefined) {
      Option(fullPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(fullPath, fullJson.getBytes("UTF-8"))
    }
    // Stdout gets ONE compact line: total + a fixed headline subset at
    // 3 decimals, sized to survive the tail buffer. Headliners cover
    // each operator family's most expensive representative.
    val headline = Seq(
      "q01_pricing_summary", "q03_top_orders_by_revenue", "q07_topk_per_customer",
      "q08_running_window_events", "q18_cube_lineitem", "q30_subqueries",
      "dd_exact_documents", "dd_minhash_lsh", "dd_ngram_jaccard",
      "dd_simhash_pairs", "dd_embedding_neardup", "dd_dup_clusters",
      "sim_cosine_topk", "sim_lsh_ann", "sim_ivf_kmeans_ann", "sim_ann_recall",
      "ta_token_stats", "ta_ngram_lang_id", "ta_quality_score",
      "rag_tfidf_topk", "ts_resample_ffill", "ts_user_similarity",
      "ev_session_window", "pl_corpus_curation", "gx_pagerank",
      "gx_triangles", "sk_countmin", "cl_commit_log",
      "ta_bpe_merges", "pl_curation_v2", "q32_recursive_cte",
      "dd_incremental", "ta_bpe_apply",
      // r7: price last round's weak rows mechanically every round.
      "er_edit1_pairs", "er_blocking_quality", "er_entity_clusters",
      "er_fellegi_sunter", "sim_dbscan")
    val resMap = times.toMap
    val qs = headline.flatMap(k => resMap.get(k).map(v => s"\"$k\":" + r3(v)))
      .mkString("{", ",", "}")
    // Per-query fps for the regression-watch set go in the stdout line
    // itself (the full 180-entry map is in docs/bench_full.json — the
    // ~2000-char stdout tail can't hold it): these are the rows whose
    // round-over-round swings need a mechanical plan-changed-vs-noise
    // verdict.
    val watch = Seq(
      "pl_corpus_curation", "dd_exact_documents", "q32_recursive_cte",
      "sim_cosine_topk", "ts_linear_interp", "gx_common_neighbors",
      "gx_resource_alloc", "dd_lsh_tuning", "gx_hits", "gx_modularity",
      "pl_curation_v3", "gx_ktruss",
      // r6: the fixed day-grid rollups — fp must stay on the
      // explode+equi-join shape (no BroadcastNestedLoopJoin).
      "ev_rolling_distinct", "ev_rolling_distinct_hll", "ev_stickiness",
      "sim_pq_recall",
      // r7: the reworked er family (position-tagged FastSS — fp must
      // stay on the no-levenshtein shape) + the DBSCAN ε-relation.
      "er_edit1_pairs", "er_blocking_quality", "sim_dbscan")
    // the stdout watch map carries the composition-stable OPTIMIZED fp
    // (executed fps proved composition-unstable in r6 — three values
    // for one unchanged query).
    val fpMap = results.map(m => m.name -> m.fpo).toMap
    val wfps = watch.flatMap(k => fpMap.get(k).map(fp => s"\"$k\":\"$fp\""))
      .mkString("{", ",", "}")
    // stdout is tail-truncated at ~2000 chars by the driver, so the
    // remeasured and errors lists are capped at 10 names here (full
    // record in the file artifact) with the true counts alongside.
    println(s"""{"metric":"total","value":${r3(totalSec)},"unit":"sec","n_queries":${times.length},"cpus":$cpus,"queries":$qs,"plans_fp":"$plansFp","plans_watch":$wfps,"jobs":${layers.map(_._2.jobs).sum},"tasks":${layers.map(_._2.tasks).sum},"n_codegen_fallback":${fallbacks.length},"superlinear":${names(superlinear)},"remeasured":${names(remeasured.take(10))},"n_remeasured":${remeasured.length},"errors":${names(errors.map(_._1).take(10))},"n_errors":${errors.length},"full":"${fullPath.toString}","sf":"$sfDir"}""")
    spark.stop()
  }
}
