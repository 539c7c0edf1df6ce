package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Exact._
import graft.plans.ScaledLong

/** Graph analytics over DERIVED graphs (SURVEY §2 B57): iterative PageRank
  * on the co-purchase part graph. The pattern this block exists to prove:
  * fixed-iteration distributed graph algorithms as edge-partitioned join/agg
  * rounds — per round one shuffle keyed on the edge source (contribution
  * join) and one on the destination (contribution sum), driver state bounded
  * by the loop counter. The same shape runs PageRank at web scale.
  */
object Graph {

  val PrIters = 5
  val PrDamping = 0.85

  /** Both-direction edge list of the co-purchase graph (basket pairs with
    * support ≥ [[PrMinSupport]]): undirected edges realized as two directed
    * rows, the standard distributed representation.
    */
  val PrMinSupport = 2

  /** The edge table is a STORED ARTIFACT (the E7/F3/F5 pattern): derived
    * once per (JVM, dataset), written to parquet, and scanned by every
    * subsequent run — at 100 TB the co-purchase graph is built by the
    * ingest pipeline and queried many times, so query-time work should be
    * the scan, not the basket derivation. Location: `graft.graph.dir` conf,
    * else tmpdir.
    */
  private val edgesBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  private def edges(s: SparkSession, d: String): DataFrame = {
    // the per-dataset component goes on BOTH the conf path and the tmpdir
    // fallback: a fixed suffix under a shared conf dir would let a second
    // dataset's build silently clobber the first's cached artifact. Keyed on
    // (dataset, resolved base dir, lineitem fingerprint) so regenerating the
    // fact table in place — or repointing graft.graph.dir — rebuilds the
    // edge artifact instead of serving the stale graph ([[graft.Artifacts]]).
    val base = s.conf.getOption("graft.graph.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-graph")
    val fp = graft.Artifacts.fingerprint(s, s"$d/lineitem.parquet")
    // the basket cap changes the derived edges, so it is part of the cache
    // identity too — flipping graft.basket.maxItems mid-session must not
    // serve edges derived under the old cap
    val cap = TpchMore.basketMaxItems(s)
    val path = graft.Artifacts.cachedLocation(
        edgesBuilt, s"$d@$base@$cap", fp) { fpv =>
      val slug = java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@$cap@$fpv"))
      val dir = base + s"/copurchase_edges-$slug"
      val pairs = TpchMore.coPurchasePairs(s, d, PrMinSupport)
      pairs.select(col("pa").as("src"), col("pb").as("dst"))
        .unionByName(pairs.select(col("pb").as("src"), col("pa").as("dst")))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    s.read.parquet(path)
  }

  /** B57 — PageRank, [[PrIters]] fixed iterations, damping 0.85, ranks in
    * the mass-N normalization (init 1.0 per node, teleport 0.15). Exactness:
    * the per-node contribution sum — the ONLY order-dependent reduction —
    * runs through the scaled-int128 exact aggregate ([[Exact.dsum]]), and
    * each iteration's rank is rounded once to 6 dp, so five rounds of
    * float arithmetic replay bit-identically in DuckDB's unrolled CTE twin.
    * The edge list is scope-persisted ([[graft.CacheScope]]): the five
    * rounds plus the degree/node derivations all read one cached edge
    * table during the consuming action, and the cache releases itself
    * afterwards — the returned plan stays lazy and the session leaks no
    * storage (plan-audit-asserted).
    */
  /** Node-count ceiling for broadcasting the rank vector
    * (`graft.graph.broadcastMaxNodes`, default 1M ≈ 16 MB of (node, pr)).
    * Below it, every round's contribution join BROADCASTS ranks into the
    * persisted degree-annotated edge table — the edge side (the big side)
    * is never re-shuffled, and the only per-round exchange is the map-side-
    * combined contribution aggregate. Above it (web scale), rounds fall
    * back to shuffle joins on the pre-partitioned edge table — the same
    * adaptive small-state/large-state split as E8's CC and E5's kernel
    * switch.
    */
  private[graft] def broadcastMaxNodes(s: SparkSession): Long =
    s.conf.getOption("graft.graph.broadcastMaxNodes")
      .map(_.toLong).getOrElse(1000000L)

  /** Edge-count ceiling for running the PageRank fixed point entirely on
    * the driver (`graft.graph.localMaxEdges`, default 1M ≈ 16 MB of edge
    * longs — the ccLocalMaxEdges discipline applied to the rank loop).
    * Below it, five rounds of [broadcast-build job + contribution
    * aggregate + rank join] collapse into one edge collect plus in-memory
    * arithmetic that replays the distributed plan's numerics EXACTLY:
    * per-edge contributions through [[graft.plans.ScaledLong.scale]]
    * (dsum's unit conversion), integer unit sums (order-free, and far
    * below int128 territory at driver-local sizes), the same
    * double-division read-out, and the same HALF_UP 6 dp rounding Spark's
    * `round` applies — GraphSpec pins local ≡ distributed row-for-row.
    * Above the ceiling (web scale) the distributed loop runs unchanged.
    */
  private[graft] def localMaxEdges(s: SparkSession): Long = {
    val cap = s.conf.getOption("graft.graph.localMaxEdges")
      .map(_.toLong).getOrElse(1000000L)
    // pageRank collects at most cap+1 edges through an Int limit: at
    // Int.MaxValue or above the take would truncate the edge list and still
    // pass the fits-under-cap test, ranking a partial graph
    require(cap < Int.MaxValue,
      s"graft.graph.localMaxEdges must be below ${Int.MaxValue}, got $cap")
    cap
  }

  /** Driver-local replica of the distributed rank loop's arithmetic —
    * shared by [[pageRank]]'s small-graph path. */
  private[graft] def pageRankLocal(
      edges: Array[(Long, Long)]): Array[(Long, Double)] = {
    val deg = new java.util.HashMap[Long, Long]()
    edges.foreach { case (a, _) =>
      deg.merge(a, 1L, (x, y) => x + y); ()
    }
    var pr = new java.util.HashMap[Long, Double]()
    deg.keySet().forEach(n => pr.put(n, 1.0))
    var it = 0
    while (it < PrIters) {
      val units = new java.util.HashMap[Long, Long]()
      edges.foreach { case (a, b) =>
        units.merge(b,
          graft.plans.ScaledLong.scale(pr.get(a) / deg.get(a), 10000.0),
          // addExact (round-17 ADVICE): the distributed loop sums units in
          // int128 — if a user raises graft.graph.localMaxEdges far enough
          // for a long sum to wrap, fail loudly instead of silently
          // diverging from the distributed/oracle result
          (x, y) => Math.addExact(x, y)); ()
      }
      val next = new java.util.HashMap[Long, Double]()
      deg.keySet().forEach { n =>
        val inSum = units.getOrDefault(n, 0L).toDouble / 10000.0
        next.put(n, BigDecimal((1 - PrDamping) + PrDamping * inSum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      pr = next
      it += 1
    }
    val out = new Array[(Long, Double)](pr.size())
    var i = 0
    pr.forEach { (n, p) => out(i) = (n, p); i += 1 }
    out
  }

  def pageRank(s: SparkSession, d: String): DataFrame = {
    val raw = edges(s, d)
    import s.implicits._
    // ONE job instead of count + collect (r17 verdict item 4): pull at most
    // cap+1 edges — when the graph fits under the ceiling this IS the edge
    // collect; an overflowing take (web scale) is discarded and the
    // distributed loop runs unchanged
    val cap = localMaxEdges(s)
    val e = raw.select(col("src"), col("dst")).as[(Long, Long)]
      .limit((cap + 1).toInt).collect()
    if (e.length <= cap) return pageRankLocal(e).toSeq.toDF("node", "pr")
    pageRankDistributed(s, raw)
  }

  private[graft] def pageRankDistributed(s: SparkSession, raw: DataFrame): DataFrame = {
    val deg = raw.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // degree-annotated edges persisted ONCE: the five rounds re-read this,
    // not the scan ⋈ deg derivation
    val withDeg = graft.CacheScope.scopedPersist(raw.join(deg, "src"))
    // the node SET is loop-invariant: persist it once and rebuild each
    // round's rank vector as nodes ⟕ sums — referencing the previous
    // round's plan exactly ONCE per round keeps the five-round lineage
    // linear (the round-8 form joined ranks back onto a projection of
    // itself, doubling the subplan every round and leaning on exchange
    // reuse to stay sane)
    val nodes = graft.CacheScope.scopedPersist(
      withDeg.select(col("src").as("node")).distinct())
    var ranks = nodes.withColumn("pr", lit(1.0))
    val nNodes = nodes.count() // node-sized state; decides join strategy
    val bcast = nNodes <= broadcastMaxNodes(s)
    for (_ <- 1 to PrIters) {
      val contrib = withDeg
        .join(if (bcast) broadcast(ranks) else ranks,
          col("src") === col("node"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
      val sums = contrib.groupBy(col("dst")).agg(dsum(col("c")).as("in_sum"))
      ranks = nodes
        .join(if (bcast) broadcast(sums) else sums,
          col("node") === col("dst"), "left")
        .select(col("node"),
          round(lit(1 - PrDamping) +
            lit(PrDamping) * coalesce(col("in_sum"), lit(0.0)), 6).as("pr"))
    }
    graft.CacheScope.releaseAfterUse(ranks, withDeg, nodes)
  }

  /** DuckDB twin: the identical five rounds unrolled as CTEs, contribution
    * sums replayed through the same 1e-4-unit HALF_UP rounding + integer
    * sum ([[ScaledLong.sql]]), ranks rounded 6 dp per round.
    */
  val pageRankSql: String = {
    val units = ScaledLong.sql("r.pr / deg.deg", "10000.0")
    val rounds = (1 to PrIters).map { i =>
      s"""c$i AS (
        SELECT e.dst AS node, CAST(SUM($units) AS DOUBLE) / 10000.0 AS in_sum
        FROM e JOIN deg ON e.src = deg.src JOIN r${i - 1} r ON r.node = e.src
        GROUP BY 1),
      r$i AS (
        SELECT n.node,
          ROUND(${1 - PrDamping} + $PrDamping * COALESCE(c$i.in_sum, 0.0), 6) AS pr
        FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)"""
    }.mkString(",\n      ")
    s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= $PrMinSupport),
    e AS (SELECT pa AS src, pb AS dst FROM p
          UNION ALL SELECT pb, pa FROM p),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    r0 AS (SELECT node, 1.0 AS pr FROM nodes),
    $rounds
    SELECT node, pr FROM r$PrIters ORDER BY node"""
  }

  /** B71 — TRIANGLE counting on the co-purchase graph (round-13): the
    * standard degree-ordered orientation (Cohen / "compact-forward"):
    * every undirected edge is oriented from its lower-(deg, id) endpoint
    * to the higher, wedges are enumerated ONLY from each vertex's
    * out-neighborhood (Σ outdeg², bounded by m^1.5 because orientation
    * caps outdegree at ~√m — THE device that makes triangles feasible at
    * scale, vs Σ deg² which a hub explodes), and a wedge closes iff the
    * oriented edge between its endpoints exists. Each triangle is
    * enumerated exactly once; per-vertex counts come from exploding the
    * triangle's three corners. Reads the stored edge artifact. The oracle
    * is the id-ordered triple join (x<y<z) — a different enumeration of
    * the same set, so a hash match proves the orientation logic.
    */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val und = edges(s, d).filter(col("src") < col("dst"))
      .select(col("src").as("pa"), col("dst").as("pb"))
    val e = graft.CacheScope.scopedPersist(und)
    val deg = e.select(explode(array(col("pa"), col("pb"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val ranked = e
      .join(deg.select(col("v").as("pa"), col("deg").as("da")), "pa")
      .join(deg.select(col("v").as("pb"), col("deg").as("db")), "pb")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    val oriented = graft.CacheScope.scopedPersist(ranked.select(
      when(aFirst, col("pa")).otherwise(col("pb")).as("src"),
      when(aFirst, col("pb")).otherwise(col("pa")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg")))
    val wedges = oriented.as("o1").join(oriented.as("o2"),
        col("o1.src") === col("o2.src") &&
          (col("o1.ddeg") < col("o2.ddeg") ||
            (col("o1.ddeg") === col("o2.ddeg") && col("o1.dst") < col("o2.dst"))))
      .select(col("o1.src").as("a"), col("o1.dst").as("b"), col("o2.dst").as("c"))
    val tris = wedges.join(oriented,
        col("b") === col("src") && col("c") === col("dst"), "left_semi")
    val out = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("partkey"))
      .groupBy(col("partkey")).agg(count(lit(1)).as("n_triangles"))
    graft.CacheScope.releaseAfterUse(out, e, oriented)
  }

  val graphTrianglesSql: String = s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= $PrMinSupport),
    tr AS (
      SELECT a.pa AS x, a.pb AS y, c.pb AS z
      FROM p a JOIN p b ON b.pa = a.pa AND b.pb > a.pb
      JOIN p c ON c.pa = a.pb AND c.pb = b.pb),
    v AS (SELECT unnest([x, y, z]) AS partkey FROM tr)
    SELECT partkey, COUNT(*) AS n_triangles
    FROM v GROUP BY 1 ORDER BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> pageRank _,
    "graph_triangles" -> graphTriangles _
  )

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> pageRankSql,
    "graph_triangles" -> graphTrianglesSql
  )
}
