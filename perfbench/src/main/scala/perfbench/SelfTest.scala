package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.EngineSession

/** The harness's own test: planted failures must count as failures and
  * never as times. `python3 perfbench/run.py --selftest` runs it; it
  * exits 0 only when every check holds. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = m("work") + "/selftest"
    val cpus = m("cpus").toInt
    val spark = EngineSession.builder(cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val checks = Seq.newBuilder[(String, Boolean)]
    try {
      val good: QueryWorkload.QueryFn = (s, _) => s.range(1000).selectExpr("id", "id % 7 AS k")
      val throws: QueryWorkload.QueryFn = (_, _) => throw new IllegalStateException("planted")
      val laterCalls = new AtomicInteger
      // passes the digest check, then throws in every timed pass
      val throwsLater: QueryWorkload.QueryFn = (s, d) =>
        if (laterCalls.incrementAndGet() > 1) throw new IllegalStateException("planted")
        else good(s, d)
      val wrong: QueryWorkload.QueryFn = (s, _) => s.range(10).toDF("id")
      val fns = Map("good" -> good, "throws" -> throws, "throws_later" -> throwsLater,
        "wrong" -> wrong)
      val d = QueryWorkload.digest(good(spark, ""))
      Files.createDirectories(Paths.get(work))
      val expected = s"$work/expected.json"
      Files.write(Paths.get(expected), (s"""{"default": {"selftest": {"good": "$d", """ +
        s""""throws": "$d", "throws_later": "$d", "wrong": "$d"}}}""").getBytes(UTF_8))
      def opts(seconds: Double) = Options("selftest", 1L, seconds, trace = false,
        System.currentTimeMillis(), "", work, cpus, expected)
      def extra(o: Outcome, name: String) = o.extra.find(_.name == name).map(_.value).getOrElse(-1.0)

      // a query that throws during set-up, and one whose result is wrong
      val a = QueryWorkload.run(spark, opts(1.0), Seq("good", "throws", "wrong"), fns)
      checks += "set-up failures make the run incorrect" -> !a.correct
      checks += "each set-up failure is counted once" -> (a.failed == 2)
      checks += "failed queries are not timed" -> (extra(a, "ops") == extra(a, "passes"))
      checks += "the healthy query still is" -> (extra(a, "ops") >= 1)

      // a query that throws in every timed pass: no pass completes
      val b = QueryWorkload.run(spark, opts(1.0), Seq("good", "throws_later"), fns)
      checks += "a timed failure makes the run incorrect" -> !b.correct
      checks += "every timed failure is counted" -> (b.failed >= 1 && b.failed == laterCalls.get - 1)
      checks += "an incomplete pass yields no pass time" -> b.endToEnd.isEmpty
      checks += "failed_frac counts them" ->
        (extra(b, "failed_frac") == b.failed.toDouble / b.attempted)
    } finally spark.stop()
    val results = checks.result()
    results.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} $name") }
    System.exit(if (results.forall(_._2)) 0 else 1)
  }
}
