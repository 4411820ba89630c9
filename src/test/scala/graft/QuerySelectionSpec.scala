package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The one `SPARK_GRAFT_ONLY` selector every harness main shares
  * ([[EngineSession.only]] / [[EngineSession.selected]]): a typo must
  * fail loudly and name the culprit — before, Bench printed `total 0`
  * and the fingerprint sweep wrote empty output — and a valid subset
  * must come back as exactly that subset, in the sorted order every
  * harness iterates in.
  */
class QuerySelectionSpec extends AnyFunSuite {

  test("an unknown name fails and names the culprit") {
    val e = intercept[IllegalArgumentException](
      EngineSession.only(Some("q01_pricing_summary, q01_pricng_summary")))
    assert(e.getMessage.endsWith("unknown queries: q01_pricng_summary"), e.getMessage)
  }

  test("a value naming no query fails instead of selecting nothing") {
    intercept[IllegalArgumentException](EngineSession.only(Some(" , ")))
  }

  test("a known subset comes back as exactly that subset, sorted") {
    val only = EngineSession.only(Some("sim_cosine_topk,dd_minhash_lsh , q01_pricing_summary,dd_minhash_lsh"))
    val want = Seq("dd_minhash_lsh", "q01_pricing_summary", "sim_cosine_topk")
    assert(only === Some(want))
    assert(EngineSession.selected(only).map(_._1) === want)
  }

  test("unset selects every query, sorted") {
    assert(EngineSession.only(None) === None)
    assert(EngineSession.selected(None).map(_._1) ===
      SparkEntry.queries.keys.toSeq.sorted)
  }

  test("every oracle is non-blank SQL with no Scala reference left in it") {
    // A shared oracle fragment read while its object is still
    // initializing comes out null; one spliced into a literal that lacks
    // the `s` interpolator stays as `$name` text.
    val oracles = SparkEntry.allDefs.flatMap(q => q.oracle.map(q.name -> _))
    val blank = oracles.collect { case (n, o) if o == null || o.trim.isEmpty => n }
    assert(blank.isEmpty, s"null or blank oracles: $blank")
    val raw = oracles.collect { case (n, o) if "\\$[A-Za-z_{]".r.findFirstIn(o).isDefined => n }
    assert(raw.isEmpty, s"oracles with an uninterpolated reference: $raw")
    assert(SparkEntry.oracleSql.size == 431)
  }

  test("the sf1 gate's query list resolves") {
    val gate = new String(Files.readAllBytes(Paths.get("tools/sf1_gate.sh")), "UTF-8")
    val queries = gate.linesIterator.collectFirst {
      case l if l.startsWith("QUERIES=") => l.stripPrefix("QUERIES=")
    }
    assert(queries.isDefined, "tools/sf1_gate.sh lost its QUERIES= line")
    assert(EngineSession.only(queries).exists(_.length > 30))
  }
}
