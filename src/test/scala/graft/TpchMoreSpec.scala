package graft

import org.apache.spark.sql.functions._
import graft.operators.{Tables, TpchMore}

class TpchMoreSpec extends SparkSpec {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q6_forecast pushes all three predicates to the lineitem scan") {
    val df = TpchMore.q6Forecast(spark, sf)
    val plan = formatted(df)
    assert(plan.contains("PushedFilters"))
    // shipdate, discount and quantity must all reach the scan
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(plan.replaceAll("\\s+", " ").matches(s".*PushedFilters: \\[[^\\]]*$c.*"),
        s"$c not pushed:\n$plan")
    val rev = df.head.getAs[Double]("revenue")
    assert(rev > 0)
  }

  test("q4_priority counts each qualifying order once per priority") {
    val rows = TpchMore.q4PriorityExists(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("order_count")).sum
    // semi-join semantics: never more than the orders in the quarter
    val quarter = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
        col("o_orderdate") < expr("timestamp'1996-04-01 00:00:00'")).count()
    assert(total <= quarter, s"$total > $quarter — EXISTS multiplied rows")
  }

  test("q8_market_share is a valid share in [0, 1] per year") {
    val rows = TpchMore.q8MarketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("mkt_share")
      assert(s >= 0.0 && s <= 1.0, r.toString)
    }
  }

  test("q15_top_supplier returns the max-revenue supplier(s) only") {
    val rows = TpchMore.q15TopSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("total_revenue")).toSet
    assert(revs.size == 1, s"mixed revenues in result: $revs")
  }

  test("q16_supplier_cnt never counts blacklisted suppliers") {
    val bad = Tables.supplier(spark, sf).filter(col("s_acctbal") < 0)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    // recompute without the blacklist: totals differ exactly when the data
    // has blacklisted suppliers (sf0.001's 10 suppliers may have none)
    val withBad = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
          .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(TpchMore.Q16Sizes: _*))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    val strict = TpchMore.q16SupplierCnt(spark, sf)
      .agg(sum(col("supplier_cnt"))).head.getLong(0)
    val loose = withBad.agg(sum(col("supplier_cnt"))).head.getLong(0)
    if (bad.nonEmpty) assert(strict < loose, "blacklist anti-join did not bind")
    else assert(strict == loose, "no blacklisted suppliers, yet counts differ")
  }

  test("q2_min_cost_supplier picks a supplier achieving its part's min cost") {
    val res = TpchMore.q2MinCostSupplier(spark, sf)
    val pc = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(graft.operators.Exact.davg(col("l_extendedprice") / col("l_quantity"))
        .as("unit_cost"))
    // joining the result back on (part, best supplier) must land on min_cost
    val joined = res.join(pc,
      res("p_partkey") === pc("l_partkey") && res("best_suppkey") === pc("l_suppkey"))
    assert(joined.count() == res.count())
    joined.collect().foreach { r =>
      assert(r.getAs[Double]("unit_cost") == r.getAs[Double]("min_cost"), r.toString)
    }
  }

  test("q20_dominant_supplier rows genuinely exceed 2x the average share") {
    val rows = TpchMore.q20DominantSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    // spot check: recompute a dominated part-supplier share for one supplier
    val ps = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(graft.operators.Exact.dsum(col("l_quantity")).as("q"))
    val pt = ps.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("q")).as("tot"), count(lit(1)).as("ns"))
    val n = ps.join(pt, col("l_partkey") === col("t_partkey"))
      .filter(col("ns") >= 3 && col("q") * col("ns") > lit(2.0) * col("tot"))
      .count()
    assert(n == rows.map(_.getAs[Long]("n_parts_dominant")).sum)
  }

  test("basket_pairs orients pairs canonically and lift recomputes") {
    val rows = TpchMore.basketPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("pa") < r.getAs[Long]("pb"))
      assert(r.getAs[Long]("support") >= TpchMore.BasketMinSupport)
    }
    // recompute lift for the highest-support pair from first principles
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val top = rows.maxBy(r => (r.getAs[Long]("support"), r.getAs[Long]("pa")))
    val ca = li.filter(col("l_partkey") === top.getAs[Long]("pa")).count()
    val cb = li.filter(col("l_partkey") === top.getAs[Long]("pb")).count()
    val nb = li.select("l_orderkey").distinct().count()
    val lift = BigDecimal(top.getAs[Long]("support") * nb.toDouble / (ca * cb))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(lift - top.getAs[Double]("lift")) < 1e-9,
      s"lift ${top.getAs[Double]("lift")} vs recomputed $lift")
  }

  test("graph_pagerank conserves mass and rewards degree") {
    val rows = graft.operators.Graph.pageRank(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.length
    val prs = rows.map(_.getAs[Double]("pr"))
    // every rank carries at least the teleport mass
    prs.foreach(pr => assert(pr >= 0.15 - 1e-9, pr.toString))
    // mass-N normalization: total rank stays within rounding drift of N
    val total = prs.sum
    assert(math.abs(total - n) < 0.01 * n, s"mass $total vs $n nodes")
    // determinism across runs (exact aggregate + per-round rounding)
    val again = graft.operators.Graph.pageRank(spark, sf).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Double]("pr"))).toMap
    rows.foreach(r =>
      assert(again(r.getAs[Long]("node")) == r.getAs[Double]("pr")))
  }

  test("pagerank: the driver-local fixed point is bit-identical to the distributed loop") {
    // the r17 small-graph path replays dsum's unit arithmetic in memory;
    // force the distributed loop via the conf and compare row-for-row —
    // every per-round rounding and unit conversion must agree exactly
    val local = graft.operators.Graph.pageRank(spark, sf).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Double]("pr"))).toMap
    spark.conf.set("graft.graph.localMaxEdges", "0")
    try {
      val dist = graft.operators.Graph.pageRank(spark, sf).collect()
        .map(r => (r.getAs[Long]("node"), r.getAs[Double]("pr"))).toMap
      assert(dist.keySet == local.keySet, "node sets diverge")
      val bad = dist.collect { case (n, p) if local(n) != p => (n, p, local(n)) }
      assert(bad.isEmpty, s"ranks diverge (dist, local): ${bad.take(5)}")
      // a cap the Int-sized edge take cannot honor fails loudly instead of
      // ranking a truncated edge list
      spark.conf.set("graft.graph.localMaxEdges", Int.MaxValue.toString)
      intercept[IllegalArgumentException](graft.operators.Graph.pageRank(spark, sf))
    } finally spark.conf.unset("graft.graph.localMaxEdges")
  }

  test("graph_triangles equals a local brute force; orientation caps outdegree at sqrt(2m)") {
    val got = graft.operators.Graph.graphTriangles(spark, sf).collect()
      .map(r => r.getAs[Long]("partkey") -> r.getAs[Long]("n_triangles")).toMap
    // local brute force over the same edge definition
    val edges = TpchMore.coPurchasePairs(spark, sf, graft.operators.Graph.PrMinSupport)
      .select(col("pa"), col("pb")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val eset = edges.toSet
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val want = scala.collection.mutable.HashMap.empty[Long, Long]
    var total = 0L
    for ((x, y) <- edges; z <- adj(x) if z > y && eset.contains((y, z))) {
      total += 1
      Seq(x, y, z).foreach(v => want(v) = want.getOrElse(v, 0L) + 1)
    }
    assert(total > 0, "no triangles on this corpus — vacuous")
    assert(got == want.toMap, s"${got.size} vertices vs brute ${want.size}")
    assert(got.values.sum == 3 * total, "corner counts do not conserve 3 per triangle")
    // the scale claim, measured: degree orientation bounds outdegree by
    // sqrt(2m) (a vertex with outdeg k needs k out-neighbors of degree >= k)
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val ord = Ordering.Tuple2[Long, Long]
    val outdeg = edges.groupBy { case (a, b) =>
      if (ord.lt((deg(a), a), (deg(b), b))) a else b
    }.view.mapValues(_.length).toMap
    val m = edges.length
    assert(outdeg.values.max <= math.ceil(math.sqrt(2.0 * m)).toLong + 1,
      s"orientation failed to cap outdegree: ${outdeg.values.max} vs sqrt(2*$m)")
  }

  test("q21_late_supplier uses semi+anti joins, not a nested loop") {
    val df = TpchMore.q21LateSupplier(spark, sf)
    val plan = formatted(df)
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"theta join planned as nested loop:\n$plan")
    assert(df.count() > 0)
  }

  test("mega-basket cap: a planted 10k-item order degrades to a bounded prefix") {
    // the ≤7-lines basket is a TPC-H schema property, not an invariant —
    // a pathological feed must degrade gracefully (deterministic prefix +
    // audit flag), never enumerate Θ(m²) pairs or abort on the array_pairs
    // hard limit
    import SparkSpecBase.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-megabasket").toString
    val mega = (1L to 10000L).map(p => (1L, p))        // one 10k-part order
    val normal = // a support-2 pair on part keys disjoint from the mega basket
      Seq((2L, 20001L), (2L, 20002L), (3L, 20001L), (3L, 20002L))
    (mega ++ normal).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    spark.conf.set("graft.basket.maxItems", "64")
    try {
      val pairs = TpchMore.coPurchasePairs(spark, dir, 1).collect()
      // capped basket contributes exactly C(64,2) pairs over its 64 SMALLEST
      // part keys; the small baskets contribute their one pair at support 2
      assert(pairs.length == 64 * 63 / 2 + 1, s"got ${pairs.length} pairs")
      val megaPairs = pairs.filter(r => r.getLong(2) == 1L)
      assert(megaPairs.forall(r => r.getLong(0) <= 64 && r.getLong(1) <= 64))
      assert(pairs.exists(r =>
        r.getLong(0) == 20001L && r.getLong(1) == 20002L && r.getLong(2) == 2L))
      val audit = TpchMore.basketCapAudit(spark, dir).head
      assert(audit.getLong(0) == 1L, s"capped=${audit.getLong(0)}")   // one capped basket
      assert(audit.getInt(2) == 64, s"max kept=${audit.getInt(2)}")
    } finally spark.conf.unset("graft.basket.maxItems")
  }
}
