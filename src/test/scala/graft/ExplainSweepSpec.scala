package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Explain.sweep]], the plan-dump main's body: a built query gets
  * both dumps and the fp of its `.opt.txt`, a query that throws gets
  * `name err` and is returned as failed, and a failed file write fails
  * the sweep instead of leaving a dump out. */
class ExplainSweepSpec extends SparkSpec {

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(0, 100).selectExpr("id % 7 AS k").groupBy("k").count()
  private val bad: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("planted build failure\nsecond line")
  private val queries = Seq("bad" -> bad, "good" -> good)

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("a built query gets both dumps and its fp; a throwing one gets err") {
    val out = Files.createTempDirectory("graft_explain")
    val failed = Explain.sweep(spark, queries, sf, out)

    assert(failed == Seq("bad" -> "planted build failure"))
    val opt = read(out.resolve("good.opt.txt"))
    assert(read(out.resolve("good.txt")).contains("== Physical Plan =="))
    assert(read(out.resolve("fps.txt")) ==
      s"bad err\ngood ${PlanFp.md5_12(opt)}\n")
    assert(PlanFp.md5_12(opt) == PlanFp.fingerprintOpt(good(spark, sf)))
    assert(!Files.exists(out.resolve("bad.opt.txt")) && !Files.exists(out.resolve("bad.txt")))
  }

  test("a failed file write fails the sweep") {
    val file = Files.createTempFile("graft_explain", ".txt")
    intercept[java.io.IOException](Explain.sweep(spark, queries, sf, file))
    // the out dir exists, but one query's dump cannot be written there
    val out = Files.createTempDirectory("graft_explain")
    Files.createDirectory(out.resolve("good.txt"))
    intercept[java.io.IOException](Explain.sweep(spark, queries, sf, out))
  }
}
