package perfbench

import java.nio.file.{Files, Paths}

import graft.EngineSession

final case class Metric(name: String, value: Double, unit: String) {
  def json: String = Json.obj(Seq("value" -> Json.num(value), "unit" -> Json.str(unit)))
}

/** What one run produced. `endToEnd` is measured with tracing off and
  * `layers` by a traced run; `extra` holds workload-specific figures that
  * are printed for people but are not part of the result line. */
final case class Outcome(
    correct: Boolean, attempted: Int, failed: Int,
    endToEnd: Seq[Metric], layers: Seq[Metric], extra: Seq[Metric],
    problems: Seq[String])

final case class Options(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    t0Ms: Long, data: String, work: String, cpus: Int,
    expectedDigests: String) {
  def spanFile: String = s"$work/trace/$workload-seed$seed.spans.json"
}

/** Expected result digests, by workload and query. The file holds one
  * map under `default`; a cpu count whose results differ would get its
  * own map under its number, which takes precedence. */
object Digests {
  def expected(opts: Options, queries: Seq[String]): Map[String, String] = {
    val p = Paths.get(opts.expectedDigests)
    if (!Files.exists(p)) return Map.empty
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    val byCpus = root.path(opts.cpus.toString)
    val node = (if (byCpus.isMissingNode) root.path("default") else byCpus).path(opts.workload)
    queries.flatMap(q => Option(node.get(q)).map(n => q -> n.asText())).toMap
  }
}

/** Entry point of one benchmark run; `run.py` builds and launches it.
  *
  * Prints each metric as `name = value unit`, then, as its last line,
  * the result object. Exits 1 when any output check failed. */
object Main {
  val workloads: Map[String, Options => org.apache.spark.sql.SparkSession => Outcome] = Map(
    "corpus_pipeline" -> (o => s => QueryWorkload.run(s, o, QueryWorkload.corpusPipeline)),
    "chat_session" -> (o => s => ChatWorkload.run(s, o)))

  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Options(
      workload = need("workload"), seed = need("seed").toLong,
      seconds = need("seconds").toDouble, trace = need("trace") == "1",
      t0Ms = m.get("t0-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      data = need("data"), work = need("work"), cpus = need("cpus").toInt,
      expectedDigests = need("expected-digests"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val body = workloads.getOrElse(opts.workload, sys.error(s"unknown workload ${opts.workload}"))
    val spark = EngineSession.builder(opts.cpus.toString)
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.logs.quietWindowWarnings()
    val sessionS = (System.currentTimeMillis() - opts.t0Ms) / 1e3
    val out =
      try body(opts)(spark)
      finally spark.stop()
    val totalS = (System.currentTimeMillis() - opts.t0Ms) / 1e3
    report(opts, out.copy(extra = Seq(Metric("setup.session_s", sessionS, "s"),
      Metric("run.total_s", totalS, "s")) ++ out.extra))
    System.exit(if (out.correct) 0 else 1)
  }

  def report(opts: Options, out: Outcome): Unit = {
    out.problems.foreach(p => System.err.println(s"[perfbench] FAILED $p"))
    val shown = out.endToEnd ++ out.layers ++ out.extra
    shown.foreach(m => println(f"${opts.workload}%s ${m.name}%-26s = ${m.value}%.6f ${m.unit}%s"))
    val metrics = if (opts.trace) out.layers else out.endToEnd
    println(Json.obj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map(m => m.name -> m.json)))))
    System.out.flush()
  }
}
