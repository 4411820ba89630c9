package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins Bench's failure accounting: a query that throws — while it is
  * built, or only when a later build of it runs — is a recorded error
  * with no time and no share of the total, never a fast success. And
  * pins the `layers` record: it covers the reported run, construction
  * included, flags a codegen fallback, and skips errored queries. */
class BenchMeasureSpec extends SparkSpec {

  private lazy val layers = new LayerCollector(spark)

  private def layerOf(name: String,
      fn: (SparkSession, String) => DataFrame): Option[Layer] =
    Bench.layerRecords(Seq(Bench.measure(spark, name, fn, sf, None, layers)), layers)
      .toMap.get(name)

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(0, 200000).selectExpr("sum(id * 2) AS s")

  private val throwsAtConstruction: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("planted construction failure")

  // the first build (fingerprints + warm write) runs fine; the second
  // build, the measured run, fails when it executes
  private def failsOnSecondRun(): (SparkSession, String) => DataFrame = {
    var builds = 0
    (s, _) => {
      builds += 1
      if (builds == 1) s.range(100).toDF("id")
      else s.range(100).selectExpr("raise_error('planted measured-run failure') AS id")
    }
  }

  test("failed queries are recorded errors with no time and no share of total") {
    val a = Bench.measure(spark, "a", throwsAtConstruction, sf, None, layers)
    val b = Bench.measure(spark, "b", failsOnSecondRun(), sf, None, layers)
    val c = Bench.measure(spark, "c", good, sf, None, layers)

    assert(a.outcome == Left("planted construction failure"))
    assert(a.fpo == "err")
    assert(b.outcome.isLeft)
    assert(b.outcome.left.exists(_.contains("planted measured-run failure")))
    assert(b.fpo != "err", "b was built, so it has a fingerprint")
    assert(c.outcome.exists(_ > 0.0))
    assert(!a.remeasured && !b.remeasured)

    assert(Bench.total(Seq(a, b, c)) == c.outcome.toOption.get)
  }

  test("a timed query's layer record counts its reported run's jobs and tasks") {
    val l = layerOf("layer_good", good).get
    assert(l.jobs >= 1 && l.tasks >= 1 && !l.codegenFallback, l)
  }

  test("the layer record includes the reported run's construction") {
    val checkpointed: (SparkSession, String) => DataFrame =
      (s, d) => good(s, d).localCheckpoint()
    assert(layerOf("layer_ckpt", checkpointed).get.jobs >
      layerOf("layer_plain", good).get.jobs)
  }

  test("a whole-stage codegen fallback is flagged") {
    val key = "spark.sql.codegen.hugeMethodLimit"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try assert(layerOf("layer_huge", good).get.codegenFallback)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an errored query has no layer record") {
    assert(layerOf("layer_err_built", throwsAtConstruction).isEmpty)
    assert(layerOf("layer_err_measured", failsOnSecondRun()).isEmpty)
  }

  test("a query that fails at the small scale yields the -1.0 ratio sentinel") {
    val failsSmall: (SparkSession, String) => DataFrame =
      (s, dir) => if (dir == "small") throw new RuntimeException("planted") else good(s, dir)
    assert(Bench.ratio(spark, failsSmall, "small", big = 2.0) == -1.0)
    assert(Bench.ratio(spark, good, "big", big = 2.0) > 0.0)
  }
}
