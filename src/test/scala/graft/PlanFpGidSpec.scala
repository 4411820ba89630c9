package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pin for the distinct-aggregate gid normalization (r12 verdict #7):
  * RewriteDistinctAggregates assigns gids by HashMap iteration order
  * over expression sets — exprId-hash order — so two identical-code
  * sessions can swap which distinct column becomes gid 1 vs 2. The
  * flapped ts_corpus_profile texts differed ONLY in that swap; the
  * normalizer must hash both to the same fp while still distinguishing
  * genuinely different plans. Pure-text tests, no Spark session. */
class PlanFpGidSpec extends AnyFunSuite {

  // the exact shape the r13 flap diff showed (abridged): gid literals
  // in aggregate FILTERs plus the matching Expand rows, swapped 1<->2
  private val variantA =
    """Aggregate [count(none#*) FILTER (WHERE (2 = none#*)) AS #*L, count(none#*) FILTER (WHERE (1 = none#*)) AS #*L]
      |+- Expand [[null, null, 0, length(none#*)], [md5(cast(none#* as binary)), null, 1, null], [null, none#*, 2, null]], [none#*, none#*, none#*, none#*]""".stripMargin

  private val variantB =
    """Aggregate [count(none#*) FILTER (WHERE (1 = none#*)) AS #*L, count(none#*) FILTER (WHERE (2 = none#*)) AS #*L]
      |+- Expand [[null, null, 0, length(none#*)], [none#*, null, 1, null], [null, md5(cast(none#* as binary)), 2, null]], [none#*, none#*, none#*, none#*]""".stripMargin

  test("gid-swapped variants of the same two-countDistinct plan normalize equal") {
    assert(PlanFp.normalizeDistinctGids(variantA) ==
      PlanFp.normalizeDistinctGids(variantB))
  }

  test("a genuinely different distinct column still changes the text") {
    val variantC = variantA.replace("md5(cast(none#* as binary))",
      "upper(none#*)")
    assert(PlanFp.normalizeDistinctGids(variantA) !=
      PlanFp.normalizeDistinctGids(variantC))
  }

  test("Expand output attribute list and surrounding text are untouched") {
    val n = PlanFp.normalizeDistinctGids(variantA)
    assert(n.contains("]], [none#*, none#*, none#*, none#*]")
      || n.endsWith("[none#*, none#*, none#*, none#*]"))
    assert(n.contains("Aggregate ["))
  }

  test("a literal aggregate FILTER with no Expand is the user's, not a gid") {
    val userFilter = "Aggregate [sum(none#*) FILTER (WHERE (3 = none#*)) AS #*L]\n+- Relation"
    assert(PlanFp.normalizeDistinctGids(userFilter) == userFilter)
    assert(PlanFp.normalizeDistinctGids(userFilter) !=
      PlanFp.normalizeDistinctGids(userFilter.replace("(3 = ", "(4 = ")))
  }

  test("text without Expand or FILTER gids passes through unchanged") {
    val plain = "Project [a#*, b#*]\n+- Filter (2 = none#*)\n   +- Relation"
    assert(PlanFp.normalizeDistinctGids(plain) == plain)
  }
}
