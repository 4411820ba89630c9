package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One engine query: a Spark DataFrame program plus (when SQL-expressible)
  * a DuckDB oracle over the same parquet tables. The driver hash-compares
  * the two at sf0.01, so every query must end in a total order and emit
  * only deterministic column types (STRING / BIGINT / DOUBLE-from-decimal).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

object sources {
  /** Parquet table loaders for the driver test data (TESTDATA.md). Plain
    * `spark.read.parquet` so Catalyst gets pushdown/pruning for free; at
    * cluster scale these would be partitioned directories — the API is
    * path-based so that swap is transparent.
    */
  object Tables {
    def t(spark: SparkSession, dir: String, name: String): DataFrame =
      spark.read.parquet(s"$dir/$name.parquet")
    def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
    def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
    def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
    def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
    def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
    def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
    def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")

    /** events.parquet has shipped `ts` as either TIMESTAMP(NANOS) (which
      * Spark can only read as epoch-nanos LONG under
      * `spark.sql.legacy.parquet.nanosAsLong=true`) or TIMESTAMP_NTZ(µs),
      * depending on the generator version. Both normalize to the same
      * microsecond TimestampType: integer division for the nanos long (no
      * double precision loss), and a cast for NTZ — exact under the UTC
      * session timezone every entry point pins, and matching DuckDB's
      * naive-timestamp reading of the same file.
      */
    def events(s: SparkSession, d: String): DataFrame = {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(t(s, d, "events"))
    }

    /** Normalize the `ts` column of an events-shaped frame (batch or
      * stream) to microsecond TimestampType regardless of how the file
      * shipped it. The NTZ→TIMESTAMP cast is only exact when the session
      * timezone is UTC, and any OTHER ts type means a generator change
      * this normalization was never audited against — both are hard
      * errors here rather than silently shifted/reinterpreted data.
      */
    def normalizeEventTs(raw: DataFrame): DataFrame =
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case org.apache.spark.sql.types.TimestampType => raw
        case org.apache.spark.sql.types.TimestampNTZType =>
          val tz = raw.sparkSession.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC",
            s"events.ts is TIMESTAMP_NTZ; the cast to TIMESTAMP is only " +
              s"wall-clock-exact under a UTC session timezone, got '$tz'")
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case other =>
          throw new IllegalStateException(
            s"events.ts has unexpected type $other — refusing to guess an " +
              "epoch interpretation; audit the generator encoding first")
      }
    /** Compute-heavy per-row tables (tokenization, shingling, vector
      * math) are rebalanced to the session's parallelism when the scan
      * yields fewer splits — a sub-megabyte shuffle here buys 32×
      * parallel downstream compute. At production scale the file
      * listing already yields ≥ parallelism splits and this is a no-op.
      */
    def balanced(df: DataFrame): DataFrame = {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
    def documents(s: SparkSession, d: String): DataFrame = balanced(t(s, d, "documents"))
    def embeddings(s: SparkSession, d: String): DataFrame = balanced(t(s, d, "embeddings"))
  }
}

/** Deterministic aggregation helpers.
  *
  * Double sums are order-dependent, and Spark's partial aggregation order
  * differs from DuckDB's — so any DOUBLE that crosses an aggregation is
  * routed through DECIMAL (exact, associative) and only cast back to
  * DOUBLE at the end. Per-row double arithmetic (a*b, 1.0-x) is IEEE-754
  * deterministic and needs no such treatment.
  */
object det {
  /** Exact sum of a double column via decimal; emitted as double. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Deterministic average: exact decimal sum divided by count, in double. */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(lit(1))

  /** SQL fragment mirroring [[dsum]] for the DuckDB oracle. */
  def sqlSum(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  def sqlAvg(expr: String, scale: Int = 2): String =
    s"(${sqlSum(expr, scale)} / COUNT(*))"

  /** Snap a double to the 1e-9 grid before a DECIMAL cast: a snapped
    * value sits within an ulp of a scale-9-exact decimal, so Spark's
    * and DuckDB's double→DECIMAL conversions land on identical digits.
    * Full-precision doubles can disagree by one unit in the last
    * decimal place (the conversion's double-rounding zone — measured
    * in sim_pca_power and, at sf0.1 volume, in the PageRank-family
    * contribution sums). Use on any PER-ROW double that feeds a
    * cross-engine-compared DECIMAL sum. */
  def snap9(c: Column): Column = round(c * lit(1e9)) / lit(1e9)

  /** SQL mirror of [[snap9]]. */
  def sqlSnap9(e: String): String = s"round(($e) * 1e9) / 1e9"

  /** Magnitude-safe snap for large values: [[snap9]] silently diverges
    * between engines once |x|·1e9 exceeds 2^53 (|x| ≳ 9e6 — cent-scaled
    * daily sums hit this at sf0.1, the r7 `ts_forecast_reconcile` red
    * row). The 1e-6 grid keeps x·1e6 exact up to |x| ≈ 9e9. Use for any
    * snapped operand that can reach millions at the largest fixture. */
  def snap6(c: Column): Column = round(c * lit(1e6)) / lit(1e6)

  /** SQL mirror of [[snap6]]. */
  def sqlSnap6(e: String): String = s"round(($e) * 1e6) / 1e6"
}

/** Log hygiene for the driver-run entry points (Bench/Verify): the
  * driver keeps only the last ~2000 chars of stdout+stderr, and at a
  * ~400-query surface the WindowExec "No Partition Defined" warning —
  * emitted once per bounded-frame window (top-k already limited,
  * ≤31-day calendars, decile tables; all audited bounded) — floods
  * that tail with 20 copies of itself and zero signal (r7 verdict). */
object logs {
  def quietWindowWarnings(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
}

/** The engine's recommended session configuration and the harness
  * plumbing every local entry point shares — Bench, Profile, Verify,
  * FpScan, CodegenTriage, Explain and the agent demos build their
  * session here (r12 verdict #10: the measured config must be the
  * shipped config, in ONE place) and layer only their own extras on
  * top (fingerprint truncation settings, SPARK_GRAFT_CONF A/B
  * overlays, CodegenTriage's `codegen.fallback=false`).
  *
  * The AQE coalesce floor (adopted r12; interleaved A/B at
  * sf0.1/cpus=32: the 8 hottest dd_/mm_ rows 24.2 → 21.2 s):
  * AQE's `coalescePartitions.minPartitionSize` is BYTE-based (default
  * 1m) but this engine's hot stages are CPU-dense over byte-small rows
  * (shingle-set intersections, per-pair verification) — at the default
  * whole verification stages collapsed onto ONE task. 64k keeps
  * CPU-dense small stages parallel while still merging true slivers;
  * workload-dependent (cpu-per-byte stays as data grows), not
  * scale-dependent. */
object EngineSession {
  def builder(cpus: String): org.apache.spark.sql.SparkSession.Builder =
    org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as long,
      // normalized to TimestampType in sources.Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")

  /** [[builder]] plus the settings that keep plan text fingerprintable
    * (Bench, FpScan): treeStrings truncate long node strings (file-scan
    * metadata at 100 chars, >25 fields elided), and ExprIds have
    * varying digit widths across suite compositions, so a FIXED-LENGTH
    * cut lands on different characters and two identical plans print
    * differently — so never truncate, and let [[PlanFp]] strip the ids. */
  def fingerprintBuilder(cpus: String): org.apache.spark.sql.SparkSession.Builder =
    builder(cpus)
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.sql.debug.maxToStringFields", "10000")

  /** `SPARK_GRAFT_CPUS`, else `default` (the host's cpu count unless a
    * main pins its own). Never compare fingerprints or times across
    * cpu configs: both are shuffle-partition-dependent. */
  def cpus(default: String =
      Runtime.getRuntime.availableProcessors.toString): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** The `SPARK_GRAFT_ONLY` subset (comma-separated query names), sorted
    * and de-duplicated; None when unset (the full surface). A name not
    * in [[SparkEntry.queries]] — or a value naming no query at all — is
    * an error, never a silent zero-query run. */
  def only(raw: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Option[Seq[String]] =
    raw.map { v =>
      val names = v.split(',').map(_.trim).filter(_.nonEmpty).distinct.sorted.toSeq
      require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but names no query")
      val known = SparkEntry.queries.keySet
      val unknown = names.filterNot(known)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
      names
    }

  /** The queries a harness main runs, in sorted name order: the
    * [[only]] subset, or every query. */
  def selected(only: Option[Seq[String]])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    only.getOrElse(all.keys.toSeq.sorted).map(n => n -> all(n))
  }

  /** Per-query isolation between harness queries. clearCache() alone is
    * not enough: localCheckpoint()ed RDDs are persisted OUTSIDE the
    * catalog cache, and across a 300-query suite their blocks pin
    * BlockManager memory and inflate later rows (r6: dd_minhash_lsh
    * 12.1 s in-suite vs 1.8 s isolated). Unpersist every persisted RDD,
    * then GC so ContextCleaner reaps the finished query's broadcast and
    * shuffle state. `full` adds a second pass with short drain pauses:
    * the first GC enqueues the weak refs, the cleaner thread processes
    * them asynchronously, and the second collects what the cleanup
    * released (~100 ms per query). The light variant suits sweeps whose
    * timings don't matter or whose queries leave little state. */
  def isolate(spark: SparkSession, full: Boolean = true): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(rdd => try rdd.unpersist(blocking = true)
        catch { case _: Throwable => () })
    System.gc()
    if (full) {
      Thread.sleep(50)
      System.gc()
      Thread.sleep(50)
    }
  }
}
