package graft

/** Plan-shape pins for the q52–q56 warehouse shapes and the three new
  * analytics operators (ev_srm, ts_ar2, pl_ppl_filter): each assertion
  * is a scale property the operator's Scaladoc claims. If a refactor
  * turns a broadcast dimension into a shuffled join, or a keyed window
  * into a single-partition one, these fail before the bench does.
  */
class WarehouseShapesSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q52/q53 broadcast every dimension — no shuffled joins at all") {
    for (q <- Seq("q52_product_profit", "q53_important_parts")) {
      val plan = executedPlan(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcast dims:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"$q grew a shuffled join:\n$plan")
    }
  }

  test("q54 ranks per part, never globally") {
    val plan = executedPlan("q54_min_cost_supplier")
    // the rank is keyed by p_partkey: the stock Window operator, never
    // single-partition
    assert(plan.contains("Window"), s"q54 lost its per-part rank:\n$plan")
    assert(!plan.contains("SinglePartition"), s"global window crept in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"q54 lost its top-k head:\n$plan")
  }

  test("q55 excludes flagged suppliers by broadcast anti join") {
    val plan = executedPlan("q55_supplier_variety")
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"flagged-supplier NOT IN is not a broadcast anti join:\n$plan")
  }

  test("q56 scans lineitem once — the half-of-total side reuses the aggregate") {
    val plan = executedPlan("q56_part_promotion")
    // the (part, supplier) aggregate is materialized once (checkpoint);
    // both the per-supplier side and the per-part total read it back —
    // the final plan must contain NO lineitem rescan
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 0, s"expected 0 lineitem rescans, got $scans:\n$plan")
    assert(plan.contains("Scan ExistingRDD"), s"q56 lost its materialized aggregate:\n$plan")
  }

  test("ev_srm joins nothing — one distinct plus one aggregate") {
    val plan = executedPlan("ev_srm")
    assert(!plan.contains("Join"), s"unexpected join in a pure aggregation plan:\n$plan")
  }

  test("ts_ar2 windows per event type and derives all three lags from one sort") {
    val plan = executedPlan("ts_ar2")
    // lead(1) and lead(2) must share one Window operator (one sort),
    // and that window must be keyed by event_type, never global
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.size == 1, s"expected 1 shared Window, got ${windows.size}:\n$plan")
    assert(windows.head.contains("event_type#"),
      s"lag window lost its event_type key:\n${windows.head}")
  }

  test("ppl filter buckets by range-sharded ranks, not a global window") {
    val plan = executedPlan("pl_ppl_filter")
    // 1-row scalar aggregates (corpus size, vocab) legitimately collapse
    // to a single partition; the WINDOW must never — globalRank keys its
    // rank window by the range-shard id
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, plan)
    assert(windows.forall(_.contains("pid#")),
      s"tertile split fell back to a single-partition window:\n${windows.mkString("\n")}")
  }

  test("srm z-statistic flags nothing on the balanced synthetic assignment") {
    val rows = SparkEntry.queries("ev_srm")(spark, sf).collect()
    assert(rows.nonEmpty)
    // user_id % 2 over the generator's uniform ids is balanced by
    // construction: the gate must NOT fire (that is the point of the
    // 3.29 threshold — |z| stays inside it for honest assignment)
    assert(rows.forall(!_.getAs[Boolean]("srm")))
  }

  test("ar2 coefficients are finite and stationary on every event type") {
    val rows = SparkEntry.queries("ts_ar2")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (phi1, phi2) = (r.getAs[Double]("phi1"), r.getAs[Double]("phi2"))
      assert(!phi1.isNaN && !phi2.isNaN)
      // AR(2) stationarity triangle: |φ₂|<1, φ₂±φ₁<1 — a sample ACF
      // plugged into Yule–Walker always lands inside it
      assert(math.abs(phi2) < 1.0 && phi2 + phi1 < 1.0 && phi2 - phi1 < 1.0,
        s"non-stationary fit: phi1=$phi1 phi2=$phi2")
    }
  }
}
