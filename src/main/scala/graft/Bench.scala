package graft
import org.apache.spark.sql.SparkSession
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
    val spark = extraConf.foldLeft(EngineSession.fingerprintBuilder(cpus)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    logs.quietWindowWarnings()
    // Warm up JIT/codegen/parquet readers so the first measured query
    // doesn't absorb one-time session init (~3 s of classloading).
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("ta_fingerprint").foreach(fn => fn(spark, sfDir).count())
    // sorted order: deterministic across rounds, comparable per-query.
    // noop sink, not count(): count() lets Catalyst prune every
    // projected column, so expression-heavy queries would measure a
    // bare row count instead of their real work. Each query runs once
    // unmeasured (Catalyst planning + Janino codegen compile are
    // per-plan one-time costs) and the second, steady-state run is
    // reported — standard warm-measurement methodology.
    def runOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    // Measured runs after the unmeasured warm run. Default is ONE: the
    // r7 per-query isolation (clearCache + unpersist-all + double GC)
    // makes single warm runs trustworthy, and at ~400 queries the old
    // warm+median-of-3 default (4 executions/query) plus the sf0.01
    // ratio pass busted the driver's wall-clock budget — BENCH_r07 died
    // at rc=124 with no artifact at all. Median-of-N stays opt-in via
    // SPARK_GRAFT_BENCH_RUNS for local regression hunts.
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(v => v.trim.toIntOption).getOrElse(1).max(1)
    // Per-query JVM/session telemetry (SPARK_GRAFT_INSTR=<path>): one
    // JSON line per query appended after its measured runs + isolation,
    // hunting the r8 in-suite inflation (driver full-surface run blew
    // checkpoint-heavy rows up to 6.6x over their isolated truth at the
    // SAME cpus and SAME fp — gx_ktruss 20.6s in-suite vs 3.1s
    // isolated). Candidate accumulators this distinguishes: code-cache
    // exhaustion (JIT disabled -> interpreted codegen), metaspace /
    // classloader leak from per-query Janino classes, BlockManager
    // residue the isolate() pass misses, shuffle-file disk growth,
    // thread leaks, and cumulative GC drag.
    val instrPath = sys.env.get("SPARK_GRAFT_INSTR")
    val instrStart = System.nanoTime()
    def instrument(name: String, sec: Double): Unit = instrPath.foreach { p =>
      try {
        import scala.jdk.CollectionConverters._
        import java.lang.management.{ManagementFactory => mf}
        def poolMb(sub: String) = mf.getMemoryPoolMXBeans.asScala
          .filter(_.getName.toLowerCase.contains(sub))
          .map(_.getUsage.getUsed).sum / (1 << 20)
        val heapMb = {
          val rt = Runtime.getRuntime
          (rt.totalMemory - rt.freeMemory) / (1 << 20)
        }
        val gcMs = mf.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
        val classes = mf.getClassLoadingMXBean.getLoadedClassCount
        val nRdd = spark.sparkContext.getPersistentRDDs.size
        val threads = Thread.activeCount()
        // on-disk residue across the suite: blockmgr-* under every
        // spark local dir (shuffle files + localCheckpoint disk blocks)
        val diskMb = try {
          val tmp = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
          Option(tmp.listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.startsWith("blockmgr-") && f.isDirectory)
            .map { d =>
              var bytes = 0L
              val stack = scala.collection.mutable.Stack[java.io.File](d)
              while (stack.nonEmpty) {
                val f = stack.pop()
                if (f.isDirectory) Option(f.listFiles()).foreach(stack.pushAll(_))
                else bytes += f.length()
              }
              bytes
            }.sum / (1 << 20)
        } catch { case _: Throwable => -1L }
        val wallS = (System.nanoTime() - instrStart) / 1e9
        val line = s"""{"q":"$name","sec":${r3i(sec)},"wall_s":${r3i(wallS)},""" +
          s""""heap_mb":$heapMb,"codecache_mb":${poolMb("codeheap") + poolMb("code cache")},""" +
          s""""metaspace_mb":${poolMb("metaspace")},"classes":$classes,""" +
          s""""gc_ms":$gcMs,"persistent_rdds":$nRdd,"threads":$threads,"blockmgr_mb":$diskMb}""" + "\n"
        java.nio.file.Files.write(java.nio.file.Paths.get(p), line.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      } catch { case _: Throwable => () }
    }
    def r3i(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Adaptive re-measure (r9 verdict #1): two driver runs in a row
    // carried a fictitious multi-row tail (r8 gx_ktruss 20.6s, r9
    // gx_lpa 25.0s + a false superlinear flag — all <=3.9s isolated at
    // the identical plan fingerprint). With ONE measured run per query,
    // a single host preemption burst fabricates a 10x row. The warm run
    // is already executed and its wall is free to time, so: when the
    // measured time exceeds 3x the warm wall (and is >= 1s — below
    // that the ratio is noise), run once more and report the min,
    // recording the event in the artifact's "remeasured" list. Bounded
    // cost (only outlier rows re-run) and honest — steady-state is what
    // the warm-measurement methodology already claims to report.
    val remeasured = scala.collection.mutable.ArrayBuffer.empty[String]
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
        import graft.functions.AgentText.{JObj, JNum, JStr}
        graft.functions.AgentText.parseJson5ish(
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8")) match {
          case Some(JObj(root)) =>
            val sameCpus = root.get("cpus") match {
              case Some(JNum(c)) => c.toInt.toString == cpus
              case Some(JStr(c)) => c == cpus
              case _ => false
            }
            // same-scale only: an sf1 run must not re-measure against
            // sf0.1 committed times (fps differ too — scan paths are in
            // the canonical text — but don't rely on that alone)
            val sameSf = root.get("sf") match {
              case Some(JStr(s)) => s == sfDir
              case _ => false
            }
            if (!sameCpus || !sameSf) Map.empty
            else {
              val times = root.get("queries") match {
                case Some(JObj(qs)) => qs.collect { case (k, JNum(v)) => k -> v }
                case _ => Map.empty[String, Double]
              }
              val fps = root.get("plans_opt") match {
                case Some(JObj(qs)) => qs.collect { case (k, JStr(v)) => k -> v }
                case _ => Map.empty[String, String]
              }
              times.flatMap { case (k, t) =>
                fps.get(k).map(fp => k -> (t, fp)) }.toMap
            }
          case _ =>
            println(s"[bench] note: committed reference at $committedRefPath did not parse — committed-floor re-measure disabled")
            Map.empty
        }
      }
    } catch { case _: Throwable =>
      println(s"[bench] note: committed reference at $committedRefPath unreadable — committed-floor re-measure disabled")
      Map.empty
    }
    val results = EngineSession.selected(only).map { case (name, fn) =>
      // Per-query cache isolation: without it, persisted frames from
      // every earlier query stay resident for the whole suite — at 200+
      // queries that's an across-the-board +35-45% GC drag on LATER
      // queries (measured round 5), and it makes the plan fingerprint
      // cache-composition-sensitive (a new query that persists a shared
      // frame flips sibling queries' fps without any code change). The
      // clear runs BEFORE the warm run, so within a query the warm
      // methodology is unchanged: warm run fills this query's caches,
      // measured runs reuse them.
      EngineSession.isolate(spark)
      // the fingerprint's DataFrame doubles as the unmeasured warm run.
      // The warm wall must bracket CONSTRUCTION too, not just the noop
      // write: eager localCheckpoint()s run their jobs inside fn(), so
      // timing only the write undercounts checkpoint-heavy queries and
      // their honest measured runs would spuriously re-measure. The
      // wall is summed from two segments so the fingerprints can be
      // taken BETWEEN them, i.e. BEFORE the warm write executes:
      // builder-internal persist()s share CacheManager state, and once
      // the warm run materializes a cached frame its InMemoryRelation
      // embeds the AQE-FINALIZED physical subtree (QueryStage wrappers,
      // runtime Build side) — runtime-dependent text that flapped the
      // "composition-stable" optimized fp on ~11 queries between two
      // identical-code runs when the fps were taken post-warm.
      val t0c = System.nanoTime()
      val df0 = try Some(fn(spark, sfDir)) catch { case _: Throwable => None }
      val constructWall = (System.nanoTime() - t0c) / 1e9
      // Canonicalized-plan fingerprints ([[PlanFp]]): identical fp +
      // different time = noise, different fp = a plan change to audit.
      val fp = df0.map(PlanFp.fingerprint).getOrElse("err")
      val fpo = df0.map(PlanFp.fingerprintOpt).getOrElse("err")
      val t0w = System.nanoTime()
      df0.foreach(df => try df.write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () })
      val warmWall = constructWall + (System.nanoTime() - t0w) / 1e9
      val times = Seq.fill(nRuns) {
        val t0 = System.nanoTime()
        runOnce(fn)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val measured = times(times.length / 2)
      val committedFloor =
        committedFloorFires(measured, fpo, committedRef.get(name))
      val finalT = if (needsRemeasure(measured, warmWall, floor = 1.0)
          || committedFloor) {
        remeasured += name
        val t0 = System.nanoTime()
        runOnce(fn)
        math.min(measured, (System.nanoTime() - t0) / 1e9)
      } else measured
      instrument(name, finalT)
      (name, finalT, fp, fpo)
    }
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    EngineSession.isolate(spark)
    // Superlinearity gate: re-time every query at a 10×-smaller scale
    // (one warm + one measured run — same methodology, cheaper) and
    // flag t(big)/t(small) ratios far above the 10× data ratio. This
    // is the mechanical tripwire for accidentally-quadratic plans:
    // ts_linear_interp's r4 quadratic frames (ratio ~100) and any
    // day-grid nested-loop join regression would both surface here
    // without a human reading plan dumps. Ratios only flag when the
    // big-scale time is ≥ 1 s — below that, fixed per-job overhead
    // dominates both scales and the ratio is noise. Opt out (or point
    // elsewhere) with SPARK_GRAFT_RATIO_DIR=""; defaults on only for
    // the standard sf0.1 artifact run.
    val ratioDir = sys.env.getOrElse("SPARK_GRAFT_RATIO_DIR",
      if (sfDir.contains("sf0.1")) sfDir.replace("sf0.1", "sf0.01") else "")
    // A query that errors or hangs at the small scale is EXACTLY the
    // failure mode this gate hunts — record it as the -1.0 sentinel
    // (visible in the artifact) instead of silently dropping it from
    // the ratio map.
    // Only queries that could possibly flag get a small-scale run: the
    // gate requires big-time >= 1.0 s, so anything under 0.5 s (margin
    // for round-over-round growth) can never flag — skipping it saves
    // ~30% of the ratio pass's driver wall-clock at a 400-query
    // surface (the r7 driver bench died on exactly this budget).
    val ratioBigMin = 0.5
    val bigTimes = results.map { case (k, v, _, _) => k -> v }.toMap
    val ratios: Map[String, Double] =
      if (ratioDir.isEmpty || !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(ratioDir))) Map.empty
      else EngineSession.selected(only)
        .filter { case (name, _) => bigTimes.getOrElse(name, 0.0) >= ratioBigMin }
        .map { case (name, fn) =>
          // light isolation: sf0.01 queries leave a tenth of the state,
          // and the pass is only a superlinearity tripwire
          EngineSession.isolate(spark, full = false)
          try {
            val w0 = System.nanoTime()
            fn(spark, ratioDir).write.format("noop").mode("overwrite").save()
            val warmSmall = (System.nanoTime() - w0) / 1e9
            val t0 = System.nanoTime()
            fn(spark, ratioDir).write.format("noop").mode("overwrite").save()
            val small0 = (System.nanoTime() - t0) / 1e9
            // same load-burst defense as the big scale: an inflated
            // small-side denominator DEFLATES the ratio and masks a
            // real superlinearity, so re-measure it too
            val small = if (needsRemeasure(small0, warmSmall, floor = 0.2)) {
              val t1 = System.nanoTime()
              fn(spark, ratioDir).write.format("noop").mode("overwrite").save()
              math.min(small0, (System.nanoTime() - t1) / 1e9)
            } else small0
            name -> results.find(_._1 == name)
              .map { case (_, big, _, _) => if (small > 0) big / small else 0.0 }
              .getOrElse(-1.0)
          } catch { case _: Throwable => name -> -1.0 }
        }.toMap
    val superlinear = flagSuperlinear(ratios, bigTimes)
    val ratioErrors = ratios.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // One aggregate fingerprint for the (size-capped) stdout line; the
    // per-query map lives in docs/bench_full.json.
    val plansFp = {
      val all = results.map { case (k, _, fp, _) => s"$k=$fp" }.mkString(";")
      java.security.MessageDigest.getInstance("MD5")
        .digest(all.getBytes("UTF-8")).take(6).map(b => f"${b & 0xff}%02x").mkString
    }
    // Full per-query medians → a file (the driver keeps only the last
    // ~2000 chars of stdout, so a 100+-entry JSON line gets truncated
    // and never parses — BENCH_r01/r02 both recorded parsed:null).
    val fullJson = {
      val qs = results.map { case (k, v, _, _) => s"\"$k\":" + v }.mkString(",")
      val fps = results.map { case (k, _, fp, _) => s"\"$k\":\"$fp\"" }.mkString(",")
      val fpos = results.map { case (k, _, _, fpo) => s"\"$k\":\"$fpo\"" }.mkString(",")
      val rs = ratios.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":" + r3(v) }.mkString(",")
      val sl = superlinear.map(n => s"\"$n\"").mkString(",")
      val re = ratioErrors.map(n => s"\"$n\"").mkString(",")
      val rm = remeasured.sorted.map(n => s"\"$n\"").mkString(",")
      // Attribution fields (r10 verdict #3): the committed record was
      // clobbered four rounds running by *something* passing an explicit
      // SPARK_GRAFT_BENCH_OUT. Echo the override value and the write
      // timestamp INTO the artifact so the next clobber names itself.
      val benchOutAttr = sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .map(v => v.replace("\\", "\\\\").replace("\"", "\\\"")).getOrElse("")
      val writtenAt = java.time.Instant.now().toString
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.length},"cpus":$cpus,""" +
        s""""queries":{$qs},"plans":{$fps},"plans_opt":{$fpos},"plans_fp":"$plansFp",""" +
        s""""ratios":{$rs},"ratio_dir":"$ratioDir","superlinear":[$sl],"ratio_errors":[$re],""" +
        s""""remeasured":[$rm],"bench_out":"$benchOutAttr","written_at":"$writtenAt","sf":"$sfDir"}"""
    }
    // SPARK_GRAFT_BENCH_OUT overrides the artifact path. WITHOUT the
    // explicit override the artifact goes to an untracked timestamped
    // file under docs/bench_runs/ (gitignored): the driver's per-round
    // bench overwrote the committed docs/bench_full.json in place in
    // r8 AND r9, ending both rounds with the repo's primary perf
    // record dirty. The committed record is now only ever written
    // deliberately (SPARK_GRAFT_BENCH_OUT=docs/bench_full.json), and a
    // driver-initiated run leaves git status clean.
    val outOverride = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val defaultPath = {
      val ts = new java.text.SimpleDateFormat("yyyyMMdd-HHmmss")
        .format(new java.util.Date())
      s"docs/bench_runs/bench_full_cpus${cpus}_$ts.json"
    }
    val fullPath = java.nio.file.Paths.get(outOverride.getOrElse(defaultPath))
    if (only.isEmpty || outOverride.isDefined) try {
      Option(fullPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(fullPath, fullJson.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
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
    val resMap = results.map { case (k, v, _, _) => k -> v }.toMap
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
    // for one unchanged query); executed fps stay in bench_full.json.
    val fpMap = results.map { case (k, _, _, fpo) => k -> fpo }.toMap
    val wfps = watch.flatMap(k => fpMap.get(k).map(fp => s"\"$k\":\"$fp\""))
      .mkString("{", ",", "}")
    val sl = superlinear.map(n => s"\"$n\"").mkString("[", ",", "]")
    // stdout is tail-truncated at ~2000 chars by the driver, so the
    // remeasured list is capped at 10 names here (full list in the
    // file artifact) with the true count alongside.
    val rmOut = remeasured.sorted.take(10).map(n => s"\"$n\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.length},"cpus":$cpus,"queries":$qs,"plans_fp":"$plansFp","plans_watch":$wfps,"superlinear":$sl,"remeasured":$rmOut,"n_remeasured":${remeasured.length},"full":"${fullPath.toString}","sf":"$sfDir"}""")
    spark.stop()
  }
}
