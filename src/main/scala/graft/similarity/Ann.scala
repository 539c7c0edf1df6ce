package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup.withNorm
import graft.operators.Tables

/** F-block (SURVEY §2): similarity search over the `embeddings` table.
  *
  * F1 is the exact brute-force baseline (bounded query set x full scan —
  * the thing you run to MEASURE an ANN index, and the correct plan when the
  * query set is small enough to broadcast). F2/F3 are the scale paths:
  * constant-size signatures / centroid routing turn per-query cost from
  * O(N) into O(bucket).
  */
object Ann {

  val TopK = 10
  val NumQueries = 100  // query set: vec_id < 100

  private def dotCol(a: String, b: String): Column =
    graft.plans.DotProduct.dot(col(a), col(b))

  private def rankTopK(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rcos").desc, col("nid"))))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("nid"), col("rank"), col("rcos"))

  /** F1 (declarative form) — broadcast the query set, one scan of the
    * corpus, per-partition partial top-k via the rank window. Kept as the
    * reference implementation; the query key binds to [[bruteTopK]], the
    * packed-vector path, which must produce identical results (same oracle,
    * spec-pinned equality).
    */
  def bruteTopKDeclarative(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d)).select(col("vec_id"), col("v"), col("nrm"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("qid"), col("vec_id").as("nid"), col("rcos"))
    rankTopK(pairs)
  }

  /** F1 — exact top-k cosine, packed-vector path: the query block is
    * broadcast as primitive arrays and each corpus partition streams through
    * a bounded per-query heap — same flops as the join form but none of the
    * per-pair join/row machinery (the documented "(d) mapPartitions where it
    * measurably wins" tier). Emits per-partition top-k; the global rank
    * window then reduces partials (numPartitions x queries x k rows, tiny).
    * Results are bit-identical to the declarative form: same sequential dot,
    * same HALF_UP 6 dp rounding, same (rcos desc, nid asc) order.
    */
  def bruteTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = withNorm(Tables.embeddings(s, d))
      .select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
    val queries = e.filter(_._1 < NumQueries).collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(queries)
    val k = TopK
    val partials = e.mapPartitions { it =>
      val qs = bc.value
      // bounded heaps: worst element on top, ordered (rcos asc, nid desc)
      val ord = Ordering.by[(Double, Long), (Double, Long)] {
        case (rcos, nid) => (-rcos, nid)
      }
      val heaps = Array.fill(qs.length)(
        new scala.collection.mutable.PriorityQueue[(Double, Long)]()(ord))
      it.foreach { case (nid, v, nrm) =>
        var i = 0
        while (i < qs.length) {
          val (qid, qv, qn) = qs(i)
          if (nid != qid) {
            var acc = 0.0
            var j = 0
            while (j < qv.length) { acc += qv(j) * v(j); j += 1 }
            val rcos = BigDecimal(acc / (qn * nrm))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            val cand = (rcos, nid)
            if (heaps(i).size < k) heaps(i).enqueue(cand)
            else if (ord.lt(cand, heaps(i).head)) { heaps(i).dequeue(); heaps(i).enqueue(cand) }
          }
          i += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        h.iterator.map { case (rcos, nid) => (qs(i)._1, nid, rcos) }
      }
    }.toDF("qid", "nid", "rcos")
    rankTopK(partials)
  }

  /** THE bounded-heap shortlist device — [[bruteTopK]]'s two-phase top-k,
    * generalized (round-10 verdict lead item): broadcast the
    * ≤[[NumQueries]] query block as plain JVM values, stream each corpus
    * partition ONCE through one bounded heap per query ordered by
    * (score, nid), and emit P × |queries| × r tiny partial rows for the
    * caller's (equally tiny) global rank window. This replaces the per-qid
    * `row_number` window over a corpus×queries pair stream, whose |queries|
    * partitions each sort a corpus-sized stream in ONE task regardless of
    * cluster size — the one plan shape in this file that would NOT survive
    * a 100× scale-up. Scores ride as doubles: every score fed through here
    * is either already a double or an integer < 2^53, so transport is
    * exact. `desc` ranks larger scores first; ties always break nid asc.
    * Results are bit-identical to the window form: the (score, nid) order
    * is total and deterministic, and a global top-r is a top-r of
    * per-partition top-rs.
    */
  private[similarity] def heapShortlist[C, Q: scala.reflect.ClassTag](
      corpus: Dataset[C], queries: Array[Q],
      qidOf: Q => Long, nidOf: C => Long, score: (Q, C) => Double,
      r: Int, desc: Boolean,
      admit: (Q, C) => Boolean = (_: Q, _: C) => true,
      selfExclude: Boolean = true): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(queries)
    val (qf, nf, sf, rr, dd, af) = (qidOf, nidOf, score, r, desc, admit)
    // selfExclude=false callers encode sweep parameters into SYNTHETIC query
    // ids (F17/F20b): comparing a real corpus nid against an encoded id is
    // meaningless, and at scale it silently drops the one corpus vector
    // whose vec_id happens to equal an encoded id (r17 verdict item 1) —
    // those callers express their real exclusion rule through `admit`.
    val se = selfExclude
    corpus.mapPartitions[(Long, Long, Double)] { (it: Iterator[C]) =>
      val qs = bc.value
      // worst element on top of the normalized (desc negates) key order
      val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
      val heaps = Array.fill(qs.length)(
        new scala.collection.mutable.PriorityQueue[(Double, Long)]()(ord))
      it.foreach { c =>
        val nid = nf(c)
        var i = 0
        while (i < qs.length) {
          val q = qs(i)
          if ((!se || nid != qf(q)) && af(q, c)) {
            // + 0.0 collapses -0.0 to 0.0 so TotalOrdering agrees with the
            // spec-pinned Spark window form (which treats them equal, ties
            // on nid); NaN scores have no defined rank in either form
            val sc = sf(q, c) + 0.0
            assert(!sc.isNaN, s"heapShortlist: NaN score for qid=${qf(q)} nid=$nid")
            val cand = (if (dd) -sc else sc, nid)
            if (heaps(i).size < rr) heaps(i).enqueue(cand)
            else if (ord.lt(cand, heaps(i).head)) { heaps(i).dequeue(); heaps(i).enqueue(cand) }
          }
          i += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        val qid = qf(qs(i))
        h.iterator.map { case (v, nid) => (qid, nid, if (dd) -v else v) }
      }
    }.toDF("qid", "nid", "score")
  }

  /** Deterministic random hyperplanes (fixed-seed Gaussian, 64-dim). */
  private[similarity] def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(7)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: bit i = sign of <v, plane_i>. The plane literal is
    * a foldable array — constant-folded once, then the codegen'd dot runs
    * per row.
    */
  private[similarity] def bucketCol(v: String, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeArr = array(p.toIndexedSeq.map(lit): _*)
      when(graft.plans.DotProduct.dot(col(v), planeArr) >= 0,
        lit(1L << i)).otherwise(0L)
    }
    bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** F2 — multi-table sign-LSH ANN: L=4 independent tables of 8 hyperplanes
    * (256 buckets each); queries probe their own bucket plus all hamming-1
    * neighbors in every table. Per-query work is O(sum |bucket| * probes),
    * independent of N — the scale path when brute force stops fitting.
    * DedupSpec pins the honest LSH property: recall beats the scanned
    * corpus fraction by >= 2x.
    */
  val LshTables = 4
  val LshPlanes = 8

  def lshTopK(s: SparkSession, d: String): DataFrame = {
    val e0 = withNorm(Tables.embeddings(s, d))
    val tableCols = (0 until LshTables).map { t =>
      val planes = hyperplanes((t + 1) * LshPlanes, 64).drop(t * LshPlanes)
      struct(lit(t).as("tbl"), bucketCol("v", planes).as("bucket"))
    }
    val e = e0.select(col("vec_id"), col("v"), col("nrm"),
        explode(array(tableCols: _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("nrm"), col("tb.tbl"), col("tb.bucket"))
    val probes = (0 until LshPlanes).map(i =>
      col("bucket").bitwiseXOR(lit(1L << i))) :+ col("bucket")
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("tbl").as("qtbl"), explode(array(probes: _*)).as("probe"))
    val pairs = e.join(broadcast(q),
        col("tbl") === col("qtbl") && col("bucket") === col("probe")
          && col("vec_id") =!= col("qid"))
      .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("qid"), col("vec_id").as("nid"), col("rcos"))
      .distinct()
    rankTopK(pairs)
  }

  /** F3 — IVF centroid routing with REAL k-means training: deterministic
    * seeds (the min-vec_id vector of each `vec_id % k` residue class — a
    * deterministic pseudo-random sample), `IvfIters` Lloyd iterations by
    * cosine, nearest-centroid corpus assignment, queries probe their
    * nprobe=2 nearest cells. Only the k x dim centroid matrix ever reaches
    * the driver (the same bounded state every distributed k-means keeps —
    * the corpus itself is never collected); each Lloyd iteration is one
    * scan + one k-row aggregate, the standard index-build cost. At 100 TB
    * you train on a sample instead of full scans; the routing/probing plan
    * is unchanged.
    */
  val IvfCells = 16
  val IvfIters = 3

  /** The cell count is a CONF, `graft.ivf.cells`, because it is the knob
    * the IVF win rides on (the C38 bucket-count lesson applied to the
    * index): a probe touches nprobe/k of the corpus, so k must grow with
    * the corpus — the usual sizing is k ≈ √n (⇒ ~10k cells at 10^8
    * vectors, ~300k at 10^11), at which point routing is still one
    * broadcast k-row table but the probed fraction is 10^-4, not the 1/8
    * the gate-scale default (16) scans. The default stays 16 so the
    * DuckDB oracles (which unroll the training chain at [[IvfCells]])
    * replay the gates; every artifact location is VERSIONED by k, so a
    * conf change builds a fresh index rather than corrupting a stored
    * layout, and [[IvfScaleSpec]] runs the cells ≫ nprobe regime
    * end-to-end. Downstream of training, every path is k-agnostic: the
    * routing/probe plans read the stored k-row centroid table. */
  private[graft] def ivfCellsConf(s: SparkSession): Int = {
    val k = s.conf.getOption("graft.ivf.cells").map(_.toInt).getOrElse(IvfCells)
    require(k > 0, s"graft.ivf.cells must be positive, got $k")
    k
  }
  /** Centroid accumulation runs in FIXED-POINT: components are rounded to
    * 1/2^24 and summed as longs. Integer addition is order-independent, so
    * the centroids — and therefore every assignment and probe decision — are
    * bit-identical no matter how partial aggregation interleaves, and a SQL
    * oracle can replay the whole k-means exactly. (A float `avg` depends on
    * partial-agg order: irreproducible across runs AND unverifiable.) The
    * quantization error (2^-25 per component) is orders below the noise
    * floor of k-means on float32 inputs. Overflow headroom: |v| <= 2^7 gives
    * 2^31 per element, 2^32 rows per cell before a long saturates.
    */
  val IvfScale: Double = (1 << 24).toDouble

  /** Cosine-argmax cell id against the (local, tiny) centroid matrix:
    * array_max over k (score, -index) structs — one native codegen'd
    * expression, LINEAR in k (a `when`-fold would copy each branch's dot
    * expression at every level: 2^k codegen blowup). Struct ordering
    * compares score first; the negated index makes ties resolve to the
    * FIRST index, a stable argmax.
    */
  private def nearestCellCol(v: String, cents: Array[Array[Double]]): Column = {
    val cells = cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum).max(java.lang.Double.MIN_NORMAL)
      val carr = array(c.toIndexedSeq.map(lit): _*)
      struct((graft.plans.DotProduct.dot(col(v), carr) / lit(cn)).as("s"), lit(-i).as("ni"))
    }
    -array_max(array(cells: _*)).getField("ni")
  }

  /** Stored IVF index — trained ONCE per (JVM, dataset) and materialized as
    * two parquet tables: the nearest-centroid corpus assignment
    * `(vec_id, v, nrm, cell)` and the k-row centroid table
    * `(cell_id, cv, cn)`. This is how IVF deploys at scale: the index is an
    * OFFLINE artifact the ingest pipeline builds; queries only route and
    * probe. The per-JVM build here stands in for that offline step (same
    * pattern as [[int8Index]]). Location: `graft.ivf.dir` conf, else tmpdir.
    */
  private val ivfBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  private def ivfIndexDir(s: SparkSession, d: String): String = {
    // per-dataset component on BOTH the conf path and the tmpdir fallback
    // (a fixed suffix under a shared conf dir would cross-clobber datasets);
    // cache key includes the resolved base dir AND the input fingerprint, so
    // regenerating embeddings.parquet in place — or repointing graft.ivf.dir
    // mid-session — rebuilds instead of serving the stale index
    val base = s.conf.getOption("graft.ivf.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-ivf")
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    val maxTrainKey = s.conf.getOption("graft.ann.trainSampleRows").getOrElse("")
    val kCells = ivfCellsConf(s)
    graft.Artifacts.cachedLocation(ivfBuilt, s"$d@$base@$maxTrainKey@k$kCells", fp) { fpv =>
      import s.implicits._
      // the on-disk slug carries everything the cache key carries (dataset,
      // training-sample conf, AND input fingerprint): distinct entries
      // writing to one directory would serve each other's index files, and
      // a rebuild overwriting the previous generation in place would break
      // lazily-held readers of it
      val dir = base + "/index-" + java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@$maxTrainKey@k$kCells@$fpv"))
      val full = withNorm(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"), col("nrm"))
      // SAMPLED TRAINING (SURVEY §5's 100 TB path, now code): above
      // `graft.ann.trainSampleRows` the Lloyd iterations scan only a
      // deterministic splitmix64 residue sample of ~that many rows — k-means
      // quality depends on the sample being representative, not exhaustive,
      // and a hash residue of vec_id is replayable and stable under corpus
      // growth (the H6 discipline). ASSIGNMENT stays full-corpus below, so
      // the stored index still covers every vector.
      val n = Tables.embeddings(s, d).count() // parquet count-star: footers only
      val maxTrain = s.conf.getOption("graft.ann.trainSampleRows")
        .map(_.toLong).getOrElse(1000000L)
      val sampled = n > maxTrain
      val trainSrc = if (!sampled) full else {
        val den = 1L << 20
        val keep = (den * maxTrain / n).max(1L)
        full.filter(pmod(graft.plans.MixHash.splitmix64Col(col("vec_id")),
          lit(den)) < lit(keep))
      }
      // training scans the (possibly sampled) set IvfIters+1 times: persist
      // for the build, release synchronously once both tables are written
      val e = graft.CacheScope.scopedPersist(trainSrc)
      // full-corpus assignment reads the cached training set when it IS the
      // corpus; under sampling it re-scans the source once instead
      val assignSrc = if (sampled) full else e
      try {
        val cents = lloydTrain(e)
        assignSrc.withColumn("cell", nearestCellCol("v", cents))
          .write.mode("overwrite").parquet(s"$dir/corpus")
        writeCentroids(s, cents, s"$dir/centroids")
      } finally e.unpersist(blocking = true)
      dir
    }
  }

  /** Deterministic Lloyd training over a PERSISTED frame (vec_id, v):
    * seeds = min-vec_id vector per residue class, [[IvfIters]] iterations
    * with order-independent integer sums (the [[IvfScale]] exactness
    * argument). Factored out of [[ivfIndexDir]] so the incremental index
    * (F26) trains its BASE generation through the identical code. */
  private def lloydTrain(e: DataFrame): Array[Array[Double]] = {
    val k = ivfCellsConf(e.sparkSession)
    // deterministic seeds: min-vec_id vector per residue class
    val seedRows = e
      .withColumn("cls", pmod(col("vec_id"), lit(k.toLong)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cls")).orderBy(col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("cls"), col("v")).collect()
    val dim = seedRows.head.getSeq[Double](1).length
    var cents = Array.tabulate(k) { i =>
      // basis-vector fallback for an empty residue class (can't happen at
      // n >= k, but keeps norms nonzero)
      val a = new Array[Double](dim); a(i % dim) = 1.0; a
    }
    seedRows.foreach(r => cents(r.getLong(0).toInt) = r.getSeq[Double](1).toArray)
    for (_ <- 1 to IvfIters) {
      val sums = e.withColumn("cell", nearestCellCol("v", cents))
        .groupBy(col("cell"))
        .agg(
          array((0 until dim).map(i =>
            sum(round(element_at(col("v"), i + 1) * IvfScale).cast("long"))): _*).as("sv"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.clone())  // empty-cell guard: keep old centroid
      sums.foreach { r =>
        val cnt = r.getLong(2)
        next(r.getInt(0)) =
          r.getSeq[Long](1).map(s => s.toDouble / (IvfScale * cnt)).toArray
      }
      cents = next
    }
    cents
  }

  private def writeCentroids(s: SparkSession, cents: Array[Array[Double]],
      loc: String): Unit = {
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell_id", "cv")
      .withColumn("cn", sqrt(graft.plans.DotProduct.dot(col("cv"), col("cv"))))
      .write.mode("overwrite").parquet(loc)
  }

  // ------------------------------------------------------------------
  // F26 — INCREMENTAL IVF index maintenance (round-16 verdict item 4:
  // "the IVF/PQ artifacts are rebuild-only"). E7 gave dedup an
  // incremental path; this gives the stored IVF index one: a later
  // arrival batch is assigned under the STORED centroids and APPENDED as
  // its own generation — per-batch cost tracks the batch, never the
  // index — and the gated report is the F22 cell-balance DELTA, whose
  // retrain flag is exactly the signal a deployment uses to decide when
  // appending has skewed the cells enough to pay for re-training.
  // ------------------------------------------------------------------

  /** Arrival-batch split: a POWER-OF-TWO modulus so the Scala signed
    * `pmod(splitmix64, m)` and the oracle's unsigned `h % m` agree (the
    * F25 discipline) — 1/8 of the corpus "arrives late". */
  val IvfIncrMod = 8
  val IvfIncrRes = 3

  /** Retrain trigger: flag a cell once appended vectors exceed this
    * share of its postings. */
  val IvfRetrainPermille = 300L

  private def ivfDeltaPred =
    pmod(graft.plans.MixHash.splitmix64Col(col("vec_id")),
      lit(IvfIncrMod.toLong)) === lit(IvfIncrRes.toLong)

  private val ivfIncrBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  /** The incremental index: `gen-0/corpus` (base assignment, trained on
    * base arrivals only), `centroids` (STORED — never touched by an
    * append), `gen-1/corpus` (the arrival batch assigned under the stored
    * centroids). Same per-(corpus, fingerprint) build-once discipline as
    * [[ivfIndexDir]]. */
  private def ivfIncrDir(s: SparkSession, d: String): String = {
    val base = s.conf.getOption("graft.ivf.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-ivf") + "-incr"
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    val kCells = ivfCellsConf(s)
    graft.Artifacts.cachedLocation(ivfIncrBuilt, s"$d@$base@k$kCells", fp) { fpv =>
      val dir = base + "/index-" + java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@k$kCells@$fpv"))
      val full = withNorm(Tables.embeddings(s, d))
        .select(col("vec_id"), col("v"), col("nrm"))
      val baseSet = graft.CacheScope.scopedPersist(full.filter(!ivfDeltaPred))
      try {
        val cents = lloydTrain(baseSet)
        baseSet.withColumn("cell", nearestCellCol("v", cents))
          .write.mode("overwrite").parquet(s"$dir/gen-0/corpus")
        writeCentroids(s, cents, s"$dir/centroids")
      } finally baseSet.unpersist(blocking = true)
      // the APPEND: its input is the batch and the 16-row centroid table
      // — the base assignment is never read, so batch cost is O(|batch|)
      ivfAppendAssign(s, d, s"$dir/centroids")
        .write.mode("overwrite").parquet(s"$dir/gen-1/corpus")
      dir
    }
  }

  /** The append step's PLAN: assign ONLY the arrival batch under the
    * stored centroids (inlined as routing literals — the F24 device).
    * Exposed to the spec, which pins that this plan scans embeddings
    * once and the stored corpus never. */
  private def ivfAppendAssign(s: SparkSession, d: String,
      centroidsLoc: String): DataFrame = {
    val cents = s.read.parquet(centroidsLoc).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    withNorm(Tables.embeddings(s, d))
      .select(col("vec_id"), col("v"), col("nrm"))
      .filter(ivfDeltaPred)
      .withColumn("cell", nearestCellCol("v", cents))
  }

  private[graft] def ivfAppendAssignForSpec(s: SparkSession, d: String): DataFrame =
    ivfAppendAssign(s, d, s"${ivfIncrDir(s, d)}/centroids")

  /** F26's gated frame: the per-cell balance DELTA of the merged index —
    * base/appended postings counts, the appended share, the cell's share
    * of the whole index, and the retrain flag. Integer throughout. */
  def ivfAppendReport(s: SparkSession, d: String): DataFrame = {
    val dir = ivfIncrDir(s, d)
    def counts(gen: String, as: String) = s.read.parquet(s"$dir/$gen/corpus")
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as(as))
    val per = counts("gen-0", "n_base")
      .join(counts("gen-1", "n_delta"), Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"))
      .withColumn("n_total", col("n_base") + col("n_delta"))
    val tot = per.agg(sum(col("n_total")).as("n_all"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_base"), col("n_delta"), col("n_total"),
        expr("(1000 * n_delta) DIV n_total").as("delta_permille"),
        expr("(10000 * n_total) DIV n_all").as("share_bps"),
        expr(s"CAST(CASE WHEN (1000 * n_delta) DIV n_total > $IvfRetrainPermille " +
          "THEN 1 ELSE 0 END AS BIGINT)").as("retrain_flag"))
  }

  // ------------------------------------------------------------------
  // F27 — INCREMENTAL PQ codes maintenance (the PQ half of round-16
  // verdict item 4: "the IVF/PQ artifacts are rebuild-only" — F26 gives
  // the IVF assignment an append path; this gives the PQ CODES one).
  // The arrival batch is ENCODED under the STORED codebook (trained on
  // base arrivals only) and appended as its own codes generation; the
  // gated report is the F23 distortion table SPLIT base-vs-appended,
  // whose drift column is the PQ retrain signal: newly-arrived data
  // quantizing systematically worse under the frozen codebook is
  // exactly when a deployment re-trains.
  // ------------------------------------------------------------------

  /** Retrain trigger: flag a subspace once the appended batch's mean
    * squared error exceeds the base's by this factor (permille). */
  val PqDriftRetrainPermille = 1200L

  private val pqIncrBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  /** The incremental PQ artifact: `codebook` (trained on base arrivals —
    * never touched by an append), `gen-0/codes` (base encoding),
    * `gen-1/codes` (the arrival batch encoded under the stored
    * codebook). Same arrival split as F26 ([[ivfDeltaPred]]) so the two
    * incremental paths describe ONE ingest story. */
  private def pqIncrDir(s: SparkSession, d: String): String = {
    val base = s.conf.getOption("graft.pq.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-pq") + "-incr"
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    graft.Artifacts.cachedLocation(pqIncrBuilt, s"$d@$base", fp) { fpv =>
      val dir = base + "/pq-incr-" + java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@$fpv"))
      val ev = Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val svb = graft.CacheScope.scopedPersist(
        subVectors(ev.filter(!ivfDeltaPred)))
      try {
        val cents = pqTrain(svb)
        val ci2 = pqCi2(cents)
        pqCodesFrame(svb, cents, ci2)
          .write.mode("overwrite").parquet(s"$dir/gen-0/codes")
        writePqCodebook(s, cents, ci2, s"$dir/codebook")
      } finally svb.unpersist(blocking = true)
      // the APPEND: encode ONLY the arrival batch under the stored
      // codebook — gen-0 is never read, so batch cost is O(|batch|)
      pqAppendEncode(s, d, s"$dir/codebook")
        .write.mode("overwrite").parquet(s"$dir/gen-1/codes")
      dir
    }
  }

  /** The append step's PLAN: encode ONLY the arrival batch under the
    * stored codebook (512 rows, collected and inlined). Exposed to the
    * spec, which pins one embeddings scan and zero index reads. */
  private def pqAppendEncode(s: SparkSession, d: String,
      cbLoc: String): DataFrame = {
    val (cents, ci2) = readPqCodebookArrays(s, cbLoc)
    val evd = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .filter(ivfDeltaPred)
    pqCodesFrame(subVectors(evd), cents, ci2)
  }

  /** The stored codebook collected back into the in-memory shape the
    * encode kernels take — shared by the F27 batch append and the C39
    * streaming ingest (collected ONCE, closure-captured per stream). */
  private def readPqCodebookArrays(s: SparkSession, cbLoc: String)
      : (Array[Array[Array[Double]]], Array[Array[Long]]) = {
    val rows = s.read.parquet(cbLoc).collect()
    val cents = Array.ofDim[Array[Double]](PqSubs, PqK)
    val ci2 = Array.ofDim[Long](PqSubs, PqK)
    rows.foreach { r =>
      cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      ci2(r.getInt(0))(r.getInt(1)) = r.getLong(3)
    }
    (cents, ci2)
  }

  private[graft] def pqAppendEncodeForSpec(s: SparkSession, d: String): DataFrame =
    pqAppendEncode(s, d, s"${pqIncrDir(s, d)}/codebook")

  /** F27's gated frame: F23's distortion table split base-vs-appended —
    * per subspace the postings counts, both mean squared errors on the
    * 2^20 grid, the drift (appended MSE as permille of base MSE), and
    * the retrain flag. Distortion arithmetic is F23's exact expression
    * over the STORED codes + codebook. */
  def pqAppendReport(s: SparkSession, d: String): DataFrame = {
    val dir = pqIncrDir(s, d)
    val cb = s.read.parquet(s"$dir/codebook")
    val ev = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    def mse(gen: String, nAs: String, mseAs: String): DataFrame = {
      val assigned = s.read.parquet(s"$dir/$gen/codes")
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "cell")))
      subVectors(ev).join(assigned, Seq("vec_id", "sub"))
        .join(broadcast(cb), Seq("sub", "cell"))
        .withColumn("se", round((
          graft.plans.DotProduct.dot(col("sv"), col("sv")) -
            lit(2.0) * graft.plans.DotProduct.dot(col("sv"), col("cv")) +
            graft.plans.DotProduct.dot(col("cv"), col("cv"))) * lit(PqScale))
          .cast("long"))
        .groupBy(col("sub"))
        .agg(count(lit(1)).as(nAs), sum(col("se")).as("ssum"))
        .select(col("sub"), col(nAs),
          expr(s"ssum DIV $nAs").as(mseAs))
    }
    mse("gen-0", "n_base", "mse_base_units")
      .join(mse("gen-1", "n_delta", "mse_delta_units"), Seq("sub"))
      .select(col("sub"), col("n_base"), col("n_delta"),
        col("mse_base_units"), col("mse_delta_units"),
        expr("(1000 * mse_delta_units) DIV greatest(mse_base_units, 1L)")
          .as("drift_permille"),
        expr(s"CAST(CASE WHEN (1000 * mse_delta_units) DIV " +
          s"greatest(mse_base_units, 1L) > $PqDriftRetrainPermille " +
          "THEN 1 ELSE 0 END AS BIGINT)").as("retrain_flag"))
  }

  /** Query-to-cell routing against the stored centroid table: each query's
    * `nprobe` highest-cosine cells. Factored so F3 (nprobe=2), the F15
    * IVFPQ cascade, and the F16 recall-curve sweep share ONE routing
    * definition — a probe-policy change lands everywhere at once.
    */
  private def ivfRouted(corpus: DataFrame, cWithNorm: DataFrame, nprobe: Int): DataFrame =
    corpus.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .join(broadcast(cWithNorm))
      .withColumn("ccos", dotCol("qv", "cv") / (col("qn") * col("cn")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cell_id"))))
      .filter(col("crank") <= nprobe)
      .select(col("qid"), col("qv"), col("qn"), col("cell_id").as("qcell"))

  /** IVF probe at a given nprobe: exact-cosine scored candidates from the
    * routed cells, unranked (callers rank-cut or aggregate). */
  private def ivfCandsAt(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val dir = ivfIndexDir(s, d)
    val corpus = s.read.parquet(s"$dir/corpus")
    val routed = ivfRouted(corpus, s.read.parquet(s"$dir/centroids"), nprobe)
    corpus.join(broadcast(routed),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("qid"), col("vec_id").as("nid"), col("rcos"))
  }

  def ivfTopK(s: SparkSession, d: String): DataFrame =
    rankTopK(ivfCandsAt(s, d, 2))

  private[graft] def ivfIndexDirForSpec(s: SparkSession, d: String): String =
    ivfIndexDir(s, d)
  private[graft] def ivfCandsForSpec(s: SparkSession, d: String,
      nprobe: Int): DataFrame = ivfCandsAt(s, d, nprobe)

  /** F4 — symmetric int8 quantization, the storage/transport format every
    * large ANN deployment ships vectors in (4x smaller than float32, SIMD
    * dot products): per vector, scale = max|x|, q_i = round(127·x_i/scale).
    * Emitted exploded — (vec_id, i, q, scale) — the layout a columnar sink
    * or a downstream int8 kernel consumes. Pure per-row map: one scan, zero
    * shuffles, whole-stage codegen; trivially 100 TB-shaped. Determinism:
    * float32 inputs widen to identical doubles in both engines, and
    * round() is HALF_UP (away from zero) in both, so q is integer-exact.
    */
  def embQuantize(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    e.select(col("vec_id"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("scale"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        when(col("scale") > 0,
          round(lit(127.0) * col("x").cast("double") / col("scale")).cast("long"))
          .otherwise(0L).as("q"),
        col("scale"))
  }

  /** Stored int8 index for F5 — F4's quantization materialized ONCE per
    * (JVM, dataset) as a parquet table `(vec_id, q BINARY, qn2)` and
    * scanned from disk by every subsequent query. This is the point of
    * quantizing at all: the query-time scan moves 8× fewer vector bytes
    * than the double arrays, and the squared norm is precomputed at build
    * time instead of per candidate pair. `q` is the PACKED form — one
    * parquet byte_array per vector instead of a repeated tinyint list
    * (no per-element repetition levels, and it deserializes as a plain
    * `byte[]` memcpy for the scoring kernel; [[graft.plans.DotProductInt8]]
    * accepts it natively). At 100 TB this table IS the serving artifact —
    * built by the ingest pipeline, scanned by queries; the per-JVM build
    * here stands in for that offline step. Location: `graft.int8.dir`
    * conf, else tmpdir.
    */
  private val int8Built =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  // build-time-only UDF (one pass per dataset, not in the query hot path):
  // array<tinyint> → packed binary
  private val packBytes = udf((xs: Seq[Byte]) => xs.toArray)

  /** THE quantization rule, defined once: symmetric per-vector int8
    * (q_i = round(127·x_i/max|x|), zero-vector → zero codes), packed
    * binary, precomputed squared norm. Both stored indexes ([[int8Index]],
    * [[int8LabelIndex]]) build through this — a rounding or guard change
    * landing in one copy but not the other would make F5/F7 and F9
    * silently disagree on codes for the same corpus. `extra` carries
    * passenger columns (e.g. the F9 partition label).
    */
  private def quantizedCodes(e: DataFrame, extra: Seq[String]): DataFrame = {
    val keep = extra.map(col)
    e.select(col("vec_id") +: keep :+
        transform(col("embedding"), x => x.cast("double")).as("v"): _*)
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id") +: keep :+
        packBytes(when(col("scale") > 0,
          transform(col("v"), x =>
            round(lit(127.0) * x / col("scale")).cast("byte")))
          .otherwise(transform(col("v"), _ => lit(0).cast("byte")))).as("q"): _*)
      .withColumn("qn2", graft.plans.DotProductInt8.dot(col("q"), col("q")))
  }

  private def int8Index(s: SparkSession, d: String): DataFrame = {
    // per-dataset component on BOTH the conf path and the tmpdir fallback
    // (a fixed suffix under a shared conf dir would cross-clobber datasets);
    // keyed on (dataset, resolved base dir, input fingerprint) — see
    // [[graft.Artifacts]] for the staleness rationale
    val base = s.conf.getOption("graft.int8.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-int8")
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    val path = graft.Artifacts.cachedLocation(int8Built, s"$d@$base", fp) { fpv =>
      val slug = java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@$fpv"))
      val dir = base + s"/embeddings_int8-$slug"
      quantizedCodes(Tables.embeddings(s, d), Nil)
        .write.mode("overwrite").parquet(dir)
      dir
    }
    s.read.parquet(path)
  }

  /** F5 — top-k retrieval over int8-QUANTIZED vectors (F4's format actually
    * queried): per-vector symmetric quantization q_i = round(127·x_i/max|x|),
    * then cosine computed entirely from the int8 codes —
    * dot(qa,qb) / (√Σqa²·√Σqb²); the per-vector scales cancel, so scoring
    * needs no dequantization at all. Every sum is a sum of integers with
    * magnitude ≪ 2^63, hence EXACT in any accumulation order — the whole
    * kernel is reduction-order-proof (the float path needs careful
    * sequential dots for that). Same broadcast-queries × one-corpus-scan
    * plan as F1, but the scan reads the STORED int8 table ([[int8Index]] —
    * 8× less vector bandwidth) and scores with the codegen integer-dot
    * kernel ([[graft.plans.DotProductInt8]]) instead of interpreted
    * zip_with/aggregate HOFs. The oracle replays quantization and integer
    * scoring and ranks identically; DedupSpec pins recall@10 ≥ 0.9 against
    * exact F1 (quantization noise reorders only near-ties).
    */
  def quantizedTopKDeclarative(s: SparkSession, d: String): DataFrame = {
    val e = int8Index(s, d)
    val qs = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("qn2").as("qq2"))
    val pairs = e.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .withColumn("dot", graft.plans.DotProductInt8.dot(col("q"), col("qq")))
      .withColumn("rcos", round(col("dot").cast("double") /
        (sqrt(col("qn2").cast("double")) * sqrt(col("qq2").cast("double"))), 6))
      .select(col("qid"), col("vec_id").as("nid"), col("rcos"))
    rankTopK(pairs)
  }

  /** F5, packed-vector path (bound to the query key, like F1's
    * [[bruteTopK]]): broadcast the ≤[[NumQueries]] int8 query codes as
    * primitive arrays and stream each partition of the STORED int8 table
    * through bounded per-query heaps — the integer MACs run over byte
    * arrays with none of the per-pair join/row machinery or the
    * queries×corpus rank window the declarative form pays. The dot is a
    * Long sum of byte products (exact in any order); rcos then rounds
    * exactly like the declarative form (HALF_UP, 6 dp over identical
    * double arithmetic), so results are bit-identical — pinned by spec
    * against [[quantizedTopKDeclarative]] and by the shared SQL oracle.
    */
  def quantizedTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = int8Index(s, d)
      .select(col("vec_id"), col("q"), col("qn2"))
      .as[(Long, Array[Byte], Long)]
    val queries = e.filter(_._1 < NumQueries).collect().sortBy(_._1)
    val bc = s.sparkContext.broadcast(queries)
    val k = TopK
    val partials = e.mapPartitions { it =>
      val qs = bc.value
      val ord = Ordering.by[(Double, Long), (Double, Long)] {
        case (rcos, nid) => (-rcos, nid)
      }
      val heaps = Array.fill(qs.length)(
        new scala.collection.mutable.PriorityQueue[(Double, Long)]()(ord))
      it.foreach { case (nid, v, n2) =>
        val nrm = math.sqrt(n2.toDouble)
        var i = 0
        while (i < qs.length) {
          val (qid, qv, qn2) = qs(i)
          if (nid != qid) {
            var acc = 0L
            var j = 0
            while (j < qv.length) { acc += qv(j).toLong * v(j).toLong; j += 1 }
            val rcos = BigDecimal(acc.toDouble / (math.sqrt(qn2.toDouble) * nrm))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            val cand = (rcos, nid)
            if (heaps(i).size < k) heaps(i).enqueue(cand)
            else if (ord.lt(cand, heaps(i).head)) { heaps(i).dequeue(); heaps(i).enqueue(cand) }
          }
          i += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        h.iterator.map { case (rcos, nid) => (qs(i)._1, nid, rcos) }
      }
    }.toDF("qid", "nid", "rcos")
    rankTopK(partials)
  }

  /** F7 — two-stage retrieval (candidate generation + exact re-rank): the
    * production serving pattern every large vector deployment runs. Stage 1
    * scores the STORED int8 index ([[int8Index]] — 8× less scan bandwidth)
    * and keeps the top [[RerankCand]] candidates per query by
    * (int8-cosine, nid); stage 2 joins only those candidates back to the
    * float vectors and re-ranks with the exact cosine. The expensive exact
    * arithmetic touches queries × [[RerankCand]] pairs instead of
    * queries × corpus — the cheap integer kernel does the winnowing. Both
    * stages are deterministic (6dp rounds, nid tie-breaks), so the DuckDB
    * oracle replays the full cascade bit-exactly; DedupSpec pins recall@10
    * against the exact brute ranking.
    */
  val RerankCand = 40

  /** The declarative two-stage cascade: windowed int8 candidate winnow
    * (top [[RerankCand]] per query by (int8-cosine, vec_id)) then the
    * shared [[int8Rerank]] stage 2. F9 binds here — its label equi-join
    * stripes the pair space so the per-qid window sorts one bounded stripe,
    * never the corpus. F7's unfiltered pair space instead goes through the
    * [[heapShortlist]] device (round-10 verdict item), with THIS form kept
    * as its spec-pinned reference. `carry` maps qs8 columns to output names
    * (e.g. "qlabel" → "label").
    */
  private def int8Cascade(s: SparkSession, d: String, e8: DataFrame,
      qs8: DataFrame, joinCond: Column, carry: Seq[(String, String)],
      k: Int): DataFrame = {
    val cand = e8.join(broadcast(qs8), joinCond)
      .withColumn("dot", graft.plans.DotProductInt8.dot(col("q"), col("qq")))
      .withColumn("rcos8", round(col("dot").cast("double") /
        (sqrt(col("qn2").cast("double")) * sqrt(col("qq2").cast("double"))), 6))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rcos8").desc, col("vec_id"))))
      .filter(col("crank") <= RerankCand)
      .select(col("qid") +: carry.map { case (src, out) => col(src).as(out) } :+
        col("vec_id").as("nid"): _*)
    int8Rerank(s, d, cand, carry.map { case (_, out) => col(out) }, k)
  }

  /** Stage 2 of the cascade, shared by every candidate generator (F7's heap
    * shortlist, F9's striped window, F10's ADC winnow): exact float re-rank
    * of the bounded `cand` (qid[, carried...], nid) set. The 6 dp rounds
    * and nid tie-breaks live HERE, once, so no caller can drift from the
    * shared oracle arithmetic.
    */
  private def int8Rerank(s: SparkSession, d: String, cand: DataFrame,
      carried: Seq[Column], k: Int): DataFrame = {
    val ev = withNorm(Tables.embeddings(s, d))
      .select(col("vec_id"), col("v"), col("nrm"))
    val qe = ev.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = cand
      .join(broadcast(qe), col("qid") === col("q_id"))
      .join(ev, col("nid") === col("vec_id"))
      .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("qid") +: carried :+ col("nid") :+ col("rcos"): _*)
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rcos").desc, col("nid"))))
      .filter(col("rank") <= k)
      .select(col("qid") +: carried :+ col("nid") :+ col("rank") :+ col("rcos"): _*)
  }

  /** F7 declarative form — kept as the reference implementation the heap
    * path is spec-pinned against (the F1/F5 discipline); the query key
    * binds to [[rerankTopK]].
    */
  def rerankTopKDeclarative(s: SparkSession, d: String): DataFrame = {
    val e8 = int8Index(s, d)
    val qs8 = e8.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("qn2").as("qq2"))
    int8Cascade(s, d, e8, qs8, col("vec_id") =!= col("qid"), Nil, TopK)
      .select(col("qid"), col("nid"), col("rank"), col("rcos"))
  }

  def rerankTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // stage 1 via the bounded-heap device: the int8 winnow streams the
    // STORED int8 table once per partition, never materializing the
    // corpus×queries pair stream the old per-qid window had to sort.
    // Scoring replays int8Cascade's arithmetic op-for-op: exact Long MAC,
    // identical double divides, HALF_UP 6 dp (the same replication the
    // green quantizedTopK heap path already proves out).
    val e8 = int8Index(s, d)
      .select(col("vec_id"), col("q"), col("qn2"))
      .as[(Long, Array[Byte], Long)]
    val qarr = e8.filter(_._1 < NumQueries).collect().sortBy(_._1)
    val partials = heapShortlist[(Long, Array[Byte], Long), (Long, Array[Byte], Long)](
      e8, qarr, _._1, _._1,
      (q, c) => {
        val a = q._2; val b = c._2
        val n = math.min(a.length, b.length)
        var acc = 0L
        var j = 0
        while (j < n) { acc += a(j).toLong * b(j); j += 1 }
        BigDecimal(acc.toDouble /
            (math.sqrt(q._3.toDouble) * math.sqrt(c._3.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      },
      RerankCand, desc = true)
    val cand = partials
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))))
      .filter(col("crank") <= RerankCand)
      .select(col("qid"), col("nid"))
    int8Rerank(s, d, cand, Nil, TopK)
      .select(col("qid"), col("nid"), col("rank"), col("rcos"))
  }

  /** F8 — FILTERED vector search: exact top-k restricted to corpus vectors
    * sharing the query's `label` — the metadata-predicate retrieval every
    * production vector store exposes ("nearest neighbors WHERE tenant/lang/
    * category = X"). The predicate applies BEFORE scoring as an equi-join
    * key: the pair space hash-partitions on label, so each query scores
    * only its own label stripe, never the full corpus — at 100 TB, with a
    * selective predicate, this is the difference between a stripe scan and
    * a full sweep (post-filtering top-k instead would also under-fill k).
    * Smaller top-k (5) than F1: filtered result sets are sparser.
    */
  val FilteredTopK = 5

  def filteredTopK(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn"))
    val pairs = e.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("qid"), col("vec_id").as("nid"), col("label"), col("rcos"))
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rcos").desc, col("nid"))))
      .filter(col("rank") <= FilteredTopK)
      .select(col("qid"), col("label"), col("nid"), col("rank"), col("rcos"))
  }

  /** Stored LABEL-PARTITIONED int8 index for F9 — the [[int8Index]] artifact
    * re-laid-out for metadata-filtered retrieval: one parquet partition dir
    * per `label`, codes packed exactly like F5's. At 100 TB this layout is
    * what makes a filtered query cheap: the label predicate prunes to its
    * stripe's DIRECTORIES at planning time (no data touched outside the
    * stripe), and within the stripe the scan moves 8× fewer vector bytes
    * than the float arrays. Same offline-build stand-in as [[int8Index]];
    * location `graft.int8.dir` conf, else tmpdir.
    */
  private val int8LblBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  private def int8LabelIndex(s: SparkSession, d: String): DataFrame = {
    val base = s.conf.getOption("graft.int8.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-int8")
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    val path = graft.Artifacts.cachedLocation(int8LblBuilt, s"$d@$base@lbl", fp) { fpv =>
      val slug = java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@lbl@$fpv"))
      val dir = base + s"/embeddings_int8_lbl-$slug"
      quantizedCodes(Tables.embeddings(s, d), Seq("label"))
        .write.mode("overwrite").partitionBy("label").parquet(dir)
      dir
    }
    // partition-column read-back: label comes back via partition inference;
    // pin the int type so the gate schema matches the unpartitioned source
    s.read.parquet(path).withColumn("label", col("label").cast("int"))
  }

  /** F9 — INDEX-BACKED filtered vector search (the F8 semantics on the F5/F7
    * machinery): candidate generation scans the stored label-partitioned
    * int8 index — the label predicate is an equi-join key against the
    * PARTITION column, so each query's candidates come from its own stripe's
    * quantized codes (directory-pruned at scale, 8× less bandwidth) — keeps
    * the top [[RerankCand]] per query by int8 cosine, then exact-reranks
    * only those candidates against the float vectors, F7-style. This is the
    * production shape for "nearest WHERE tenant/lang = X": today's F8 scores
    * the full stripe with exact float cosine; here the float arithmetic
    * touches queries × [[RerankCand]] rows only. Deterministic end-to-end
    * (integer dots, 6 dp rounds, nid tie-breaks) — the DuckDB oracle replays
    * the whole cascade; DedupSpec pins recall vs the exact F8 ranking.
    */
  def filteredIndexedTopK(s: SparkSession, d: String): DataFrame = {
    val e8 = int8LabelIndex(s, d)
    val qs8 = e8.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("q").as("qq"), col("qn2").as("qq2"))
    int8Cascade(s, d, e8, qs8,
      col("label") === col("qlabel") && col("vec_id") =!= col("qid"),
      Seq("qlabel" -> "label"), FilteredTopK)
      .select(col("qid"), col("label"), col("nid"), col("rank"), col("rcos"))
  }

  /** F10 — product quantization with ADC scoring (Jégou et al., the
    * compression every billion-vector deployment runs when even int8 is too
    * much bandwidth): each vector splits into [[PqSubs]] subvectors, each
    * subvector is k-means-coded to one of [[PqK]] codewords, and a vector
    * ships as [[PqSubs]] small codes (16×5 bits ≈ 10 bytes of payload vs
    * 512 bytes of float64 — the scan moves ~50× less). Queries never
    * decode: an
    * Asymmetric Distance Computation table (query·codeword, [[PqSubs]]×
    * [[PqK]] entries) turns scoring into [[PqSubs]] table lookups + adds per
    * candidate. Top-[[RerankCand]] by ADC then exact-rerank, F7-style — the
    * full modern serving cascade (coarse ADC winnow → exact float on a
    * bounded candidate set).
    *
    * Trained like F3's IVF (per-subspace Lloyd under the [[IvfScale]]
    * fixed-point scheme, deterministic residue-class seeds) and stored like
    * F5's index ([[graft.Artifacts]]-fingerprinted codes + codebook parquet).
    * Determinism is TOTAL here: ADC entries and codeword norms snap to a
    * 2^20 fixed-point grid, but the snapped inputs are already bit-identical
    * doubles in both engines (sequential dots, ×2^20 is exponent-only), so
    * per-candidate scores are sums of longs — exact in any order, replayed
    * by the oracle with zero float exposure.
    */
  val PqSubs = 16
  val PqSubDim = 4
  val PqK = 32
  val PqIters = 2
  /** Fixed-point grid for ADC entries and codeword norms (2^20). */
  val PqScale: Double = (1L << 20).toDouble

  /** (vec_id, sub, sv): the PQ subvector decomposition of `v`. */
  private def subVectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(expr(s"transform(sequence(0, ${PqSubs - 1}), " +
          s"j -> named_struct('sub', j, " +
          s"'sv', slice(v, j * $PqSubDim + 1, $PqSubDim)))")).as("p"))
      .select(col("vec_id"), col("p.sub").as("sub"), col("p.sv").as("sv"))

  /** L2 argmin assignment against the per-subspace codebook, as the standard
    * distributed k-means join: subvectors × broadcast codebook rows,
    * dist = ‖c‖² − 2⟨sv,c⟩ (the ‖sv‖² term is argmin-invariant), then a
    * `min(struct(d, cell, sv))` hash aggregate per (vec_id, sub). Struct
    * ordering compares dist then the cell index — a stable argmin; (d, cell)
    * is unique so the carried `sv` never reaches the comparison. min is
    * associative/commutative: partial aggregation cannot perturb the result.
    * (An inlined 16×32-branch CASE expression was the first cut — it blew
    * janino's 64 KB method limit into interpreted fallback; the join form
    * is both codegen-clean and the shape a 1000-executor build would use.)
    * ‖c‖² is computed by the same sequential fold as DuckDB's
    * list_dot_product, so the oracle's distances are bit-identical.
    */
  private def assignPqCells(s: SparkSession, sv: DataFrame,
      cents: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    val cbDf = (for (j <- 0 until PqSubs; i <- 0 until PqK) yield {
      val c = cents(j)(i)
      (j, i, c.toSeq, c.map(x => x * x).sum)
    }).toDF("sub", "cell", "cv", "cn2")
    sv.join(broadcast(cbDf), "sub")
      .withColumn("d", col("cn2") -
        lit(2.0) * graft.plans.DotProduct.dot(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d"), col("cell"), col("sv"))).as("m"))
      .select(col("vec_id"), col("sub"),
        col("m.sv").as("sv"), col("m.cell").as("cell"))
  }

  private val pqBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  /** Stored PQ index: `codes` (vec_id, codes ARRAY<INT>, n2i) + `codebook`
    * (sub, cell, cv, ci2) parquet, built once per (dataset, fingerprint) —
    * the same offline-artifact stand-in as [[int8Index]]/[[ivfIndexDir]].
    * `n2i` is the fixed-point reconstruction norm Σ_sub ‖codeword‖²·2^20 —
    * integer, so the build's per-vector sum is accumulation-order-proof.
    * Location: `graft.pq.dir` conf, else tmpdir.
    */
  private def pqIndexDir(s: SparkSession, d: String): String = {
    val base = s.conf.getOption("graft.pq.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-pq")
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    graft.Artifacts.cachedLocation(pqBuilt, s"$d@$base", fp) { fpv =>
      import s.implicits._
      val dir = base + "/pq-" + java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@$fpv"))
      val ev = Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      // training scans the subvector frame PqIters+2 times: persist, release
      // synchronously once both tables are written
      val sv = graft.CacheScope.scopedPersist(subVectors(ev))
      try {
        val cents = pqTrain(sv)
        val ci2 = pqCi2(cents)
        pqCodesFrame(sv, cents, ci2)
          .write.mode("overwrite").parquet(s"$dir/codes")
        writePqCodebook(s, cents, ci2, s"$dir/codebook")
        dir
      } finally sv.unpersist(blocking = true)
    }
  }

  /** Deterministic per-subspace Lloyd over a PERSISTED subvector frame —
    * factored out of [[pqIndexDir]] so the incremental PQ artifact (F27)
    * trains its base codebook through the identical code. */
  private def pqTrain(sv: DataFrame): Array[Array[Array[Double]]] = {
    // deterministic seeds: min-vec_id subvector per (sub, residue class)
    val seedRows = sv
      .withColumn("cls", pmod(col("vec_id"), lit(PqK.toLong)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("sub"), col("cls")).orderBy(col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("sub"), col("cls"), col("sv")).collect()
    // the SQL oracle has no seed fallback for an empty residue class, so
    // a sub-PqK corpus must fail LOUDLY here rather than as a confusing
    // cross-engine parity mismatch downstream
    require(seedRows.length == PqSubs * PqK,
      s"PQ training needs >= $PqK vectors (every vec_id % $PqK residue " +
        s"class non-empty); got ${seedRows.length}/${PqSubs * PqK} seeds")
    var cents = Array.ofDim[Array[Double]](PqSubs, PqK)
    seedRows.foreach(r =>
      cents(r.getInt(0))(r.getLong(1).toInt) = r.getSeq[Double](2).toArray)
    for (_ <- 1 to PqIters) {
      val sums = assignPqCells(sv.sparkSession, sv, cents)
        .groupBy(col("sub"), col("cell"))
        .agg(
          array((0 until PqSubDim).map(i =>
            sum(round(element_at(col("sv"), i + 1) * IvfScale).cast("long"))): _*).as("sm"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.map(_.clone()))
      sums.foreach { r =>
        val cnt = r.getLong(3)
        next(r.getInt(0))(r.getInt(1)) =
          r.getSeq[Long](2).map(x => x.toDouble / (IvfScale * cnt)).toArray
      }
      cents = next
    }
    cents
  }

  /** Fixed-point codeword squared norms (HALF_UP away-from-zero, the
    * SQL round semantics — NOT Scala math.round, which rounds negative
    * halves toward +inf; ci2 is non-negative but the rule is uniform). */
  private def pqCi2(cents: Array[Array[Array[Double]]]): Array[Array[Long]] =
    cents.map(_.map(c => BigDecimal(c.map(x => x * x).sum * PqScale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))

  /** ENCODE a subvector frame under a codebook: (vec_id, codes, n2i) —
    * the one coding definition shared by the full build and the F27
    * arrival-batch append. */
  private def pqCodesFrame(sv: DataFrame, cents: Array[Array[Array[Double]]],
      ci2: Array[Array[Long]]): DataFrame = {
    val ci2Arr = array(ci2.flatten.toIndexedSeq.map(lit): _*)
    assignPqCells(sv.sparkSession, sv, cents)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, cell))), " +
        "x -> x.cell)").as("codes"))
      .withColumn("n2i", (0 until PqSubs).map(j =>
        element_at(ci2Arr, lit(j * PqK + 1) + element_at(col("codes"), j + 1)))
        .reduce(_ + _))
  }

  private def writePqCodebook(s: SparkSession, cents: Array[Array[Array[Double]]],
      ci2: Array[Array[Long]], loc: String): Unit = {
    import s.implicits._
    (for (j <- 0 until PqSubs; i <- 0 until PqK)
      yield (j, i, cents(j)(i).toSeq, ci2(j)(i)))
      .toDF("sub", "cell", "cv", "ci2")
      .write.mode("overwrite").parquet(loc)
  }

  /** F23 — PQ DISTORTION report (round-13; the codebook-health sibling of
    * F22's cell balance): per subspace, the mean and max squared
    * reconstruction error ‖sv − codeword‖² of the stored assignment — THE
    * quantization-quality table (a subspace with outsized distortion is
    * where ADC scores go wrong first; the retrain/re-split trigger, and
    * the measurement behind every "PQ recall is fine at these params"
    * claim). Reads the stored codes + codebook; the original subvectors
    * come from one embeddings scan. Each error is computed by the shared
    * sequential-fold dot composition (‖sv‖² − 2⟨sv,c⟩ + ‖c‖² — the same
    * expression text as the oracle, IEEE-identical), rounded once to the
    * 2^20 grid, then summed in exact integers — mean is a floor division.
    * 16-row output.
    */
  def pqDistortionReport(s: SparkSession, d: String): DataFrame = {
    val dir = pqIndexDir(s, d)
    val cb = s.read.parquet(s"$dir/codebook")
    val ev = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val assigned = s.read.parquet(s"$dir/codes")
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "cell")))
    subVectors(ev).join(assigned, Seq("vec_id", "sub"))
      .join(broadcast(cb), Seq("sub", "cell"))
      .withColumn("se", round((
        graft.plans.DotProduct.dot(col("sv"), col("sv")) -
          lit(2.0) * graft.plans.DotProduct.dot(col("sv"), col("cv")) +
          graft.plans.DotProduct.dot(col("cv"), col("cv"))) * lit(PqScale))
        .cast("long"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("se")).as("sum_se"),
        max(col("se")).as("max_se_units"))
      .select(col("sub"), col("n_vecs"),
        expr("sum_se DIV n_vecs").as("mse_units"), col("max_se_units"))
  }

  private def pqDistortionSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ${pqChainCtes("")},
    se AS (
      SELECT a.sub,
        CAST(ROUND((list_dot_product(t.sv, t.sv)
            - 2 * list_dot_product(t.sv, c.cv)
            + list_dot_product(c.cv, c.cv)) * 1048576.0) AS BIGINT) AS se
      FROM paf a
      JOIN sv t ON t.vec_id = a.vec_id AND t.sub = a.sub
      JOIN cb c ON c.sub = a.sub AND c.cell = a.cell)
    SELECT CAST(sub AS INTEGER) AS sub, COUNT(*) AS n_vecs,
      CAST(SUM(se) // COUNT(*) AS BIGINT) AS mse_units,
      CAST(MAX(se) AS BIGINT) AS max_se_units
    FROM se GROUP BY 1 ORDER BY 1"""

  /** F27 oracle: the same splitmix residue split as F26, the F23 PQ
    * training chain run on the BASE partition only (`e` is rebound to the
    * base split, so [[pqChainCtes]] replays codebook + base codes
    * verbatim), the arrival batch assigned under that frozen codebook,
    * and the F23 distortion expression per generation. */
  private def pqAppendReportSql: String = s"""
    WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ${graft.plans.MixHash.sqlSplitmixCtes(
      "e0", "CAST(vec_id AS HUGEINT)", Seq("vec_id"), "pvs")},
    e AS (
      SELECT e0.vec_id, e0.v FROM e0 JOIN pvs ON pvs.vec_id = e0.vec_id
      WHERE pvs.h % $IvfIncrMod <> $IvfIncrRes),
    ed AS (
      SELECT e0.vec_id, e0.v FROM e0 JOIN pvs ON pvs.vec_id = e0.vec_id
      WHERE pvs.h % $IvfIncrMod = $IvfIncrRes),
    ${pqChainCtes("")},
    dsv AS (
      SELECT vec_id, CAST(j AS INT) AS sub,
        v[CAST(j * $PqSubDim + 1 AS INT) : CAST(j * $PqSubDim + $PqSubDim AS INT)] AS sv
      FROM ed, (SELECT unnest(range($PqSubs)) AS j)),
    dpaf AS (
      SELECT vec_id, sub, cell FROM (
        SELECT t.vec_id, t.sub, c.cell,
          ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
            list_dot_product(c.cv, c.cv) - 2 * list_dot_product(t.sv, c.cv),
            c.cell) AS rn
        FROM dsv t JOIN c2 c ON c.sub = t.sub) x WHERE rn = 1),
    seb AS (
      SELECT a.sub,
        CAST(ROUND((list_dot_product(t.sv, t.sv)
            - 2 * list_dot_product(t.sv, c.cv)
            + list_dot_product(c.cv, c.cv)) * 1048576.0) AS BIGINT) AS se
      FROM paf a
      JOIN sv t ON t.vec_id = a.vec_id AND t.sub = a.sub
      JOIN cb c ON c.sub = a.sub AND c.cell = a.cell),
    sed AS (
      SELECT a.sub,
        CAST(ROUND((list_dot_product(t.sv, t.sv)
            - 2 * list_dot_product(t.sv, c.cv)
            + list_dot_product(c.cv, c.cv)) * 1048576.0) AS BIGINT) AS se
      FROM dpaf a
      JOIN dsv t ON t.vec_id = a.vec_id AND t.sub = a.sub
      JOIN cb c ON c.sub = a.sub AND c.cell = a.cell),
    mb AS (
      SELECT sub, COUNT(*) AS n_base,
        CAST(SUM(se) // COUNT(*) AS BIGINT) AS mse_base_units
      FROM seb GROUP BY 1),
    md AS (
      SELECT sub, COUNT(*) AS n_delta,
        CAST(SUM(se) // COUNT(*) AS BIGINT) AS mse_delta_units
      FROM sed GROUP BY 1)
    SELECT CAST(b.sub AS INTEGER) AS sub, b.n_base, d.n_delta,
      b.mse_base_units, d.mse_delta_units,
      CAST((1000 * d.mse_delta_units) // GREATEST(b.mse_base_units, 1)
        AS BIGINT) AS drift_permille,
      CAST(CASE WHEN (1000 * d.mse_delta_units) // GREATEST(b.mse_base_units, 1)
          > $PqDriftRetrainPermille
        THEN 1 ELSE 0 END AS BIGINT) AS retrain_flag
    FROM mb b JOIN md d ON d.sub = b.sub ORDER BY 1"""

  /** Per-query fixed-point ADC tables against the stored codebook:
    * (qid, dt[PqSubs*PqK], qn) — shared by F10 and the F15 IVFPQ cascade
    * so the ADC arithmetic exists once. */
  private def pqQueryTables(s: SparkSession, d: String, pqDir: String): DataFrame = {
    val cb = s.read.parquet(s"$pqDir/codebook")
    val ev = withNorm(Tables.embeddings(s, d))
      .select(col("vec_id"), col("v"), col("nrm"))
    subVectors(ev.filter(col("vec_id") < NumQueries))
      .join(broadcast(cb), "sub")
      .withColumn("di",
        round(graft.plans.DotProduct.dot(col("sv"), col("cv")) * lit(PqScale))
          .cast("long"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, cell, di))), " +
        "x -> x.di)").as("dt"))
      .join(ev.select(col("vec_id"), col("nrm")), "vec_id")
      .select(col("vec_id").as("qid"), col("dt"), col("nrm").as("qn"))
  }

  /** The F10/F15 shared ADC scorer: PqSubs table lookups + integer adds,
    * fixed-point norms, HALF_UP 6 dp — op-for-op the SQL replay. */
  private def adcScore(dt: Array[Long], qn: Double, codes: Array[Int], n2i: Long): Double = {
    var acc = 0L
    var j = 0
    while (j < PqSubs) { acc += dt(j * PqK + codes(j)); j += 1 }
    BigDecimal((acc.toDouble / PqScale) /
        (qn * math.sqrt(n2i.toDouble / PqScale)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def pqTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = pqIndexDir(s, d)
    val codes = s.read.parquet(s"$dir/codes")
    // per-query ADC table: PqSubs*PqK (= 512) fixed-point entries, (sub, cell)-ordered
    val qdt = pqQueryTables(s, d, dir)
    // ADC: PqSubs (= 16) lookups + integer adds per candidate — the point
    // of PQ — run through the bounded-heap device: the 100 ADC tables
    // (512 longs each) broadcast as plain arrays, each partition of the
    // ~10-byte codes streams once, and only P×q×RerankCand partials reach
    // the final winnow window (never a corpus×queries pair stream).
    // Scoring replays the SQL ADC arithmetic op-for-op: exact Long adds,
    // identical double divides, HALF_UP 6 dp.
    val qarr = qdt.select(col("qid"), col("dt"), col("qn"))
      .as[(Long, Array[Long], Double)].collect().sortBy(_._1)
    val partials = heapShortlist[(Long, Array[Int], Long), (Long, Array[Long], Double)](
      codes.select(col("vec_id"), col("codes"), col("n2i"))
        .as[(Long, Array[Int], Long)],
      qarr, _._1, _._1,
      (q, c) => adcScore(q._2, q._3, c._2, c._3),
      RerankCand, desc = true)
    val cand = partials
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))))
      .filter(col("crank") <= RerankCand)
      .select(col("qid"), col("nid"))
    // exact rerank of only the ADC survivors — stage 2 of the shared cascade
    int8Rerank(s, d, cand, Nil, TopK)
  }

  /** F15 — composed IVF+PQ index (the production faiss-IVFPQ shape, round-11
    * verdict item 3): route each query to its [[IvfPqNprobe]] nearest
    * trained cells (F3's routing, shared definition), ADC-scan ONLY those
    * cells' stored PQ code postings (F10's tables + scorer, shared
    * definitions) through the bounded-heap device, then exact-rerank the
    * bounded shortlist (the shared stage 2). The index artifact is the
    * verdict-prescribed per-cell postings table: stored PQ codes joined to
    * the stored IVF assignment and laid out `partitionBy(cell)`, so at
    * scale a query batch touches only its routed cells' DIRECTORIES
    * (~nprobe/k of the corpus) and moves ~10-byte codes, not vectors —
    * multiplicative with PQ's ~50× scan-bandwidth cut. Locally the probe
    * set is an `isin` partition filter (plan-time pruning) plus a
    * per-query admit predicate in the heap scan. Deterministic end to end
    * (integer ADC, 6 dp rounds, nid tie-breaks); the oracle composes the
    * SAME IVF-assignment and PQ-chain CTEs the F3/F10 gates replay.
    */
  val IvfPqNprobe = 2

  private val ivfpqBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  /** Stored per-cell PQ postings: (vec_id, codes, n2i) partitioned by the
    * IVF cell — built once per corpus fingerprint from the two existing
    * artifacts (cheap join, no retraining). */
  private def ivfpqIndexDir(s: SparkSession, d: String): String = {
    val base = s.conf.getOption("graft.ivfpq.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-ivfpq")
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    val kCells = ivfCellsConf(s)
    graft.Artifacts.cachedLocation(ivfpqBuilt, s"$d@$base@k$kCells", fp) { fpv =>
      val dir = base + "/ivfpq-" + java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@k$kCells@$fpv"))
      val cells = s.read.parquet(s"${ivfIndexDir(s, d)}/corpus")
        .select(col("vec_id"), col("cell"))
      s.read.parquet(s"${pqIndexDir(s, d)}/codes")
        .join(cells, "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    }
  }

  def ivfpqTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ivfDir = ivfIndexDir(s, d)
    val pqDir = pqIndexDir(s, d)
    // routing: nprobe cells per query off the stored centroids (shared
    // definition with F3); the routed set is queries×nprobe rows — a
    // bounded collect by construction (the query-block discipline)
    val routedRows = ivfRouted(
      s.read.parquet(s"$ivfDir/corpus"), s.read.parquet(s"$ivfDir/centroids"),
      IvfPqNprobe)
      .select(col("qid"), col("qcell")).collect()
    val cellsOf = routedRows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getInt(1)).toSet }
    val probeCells = routedRows.map(_.getInt(1)).distinct.toSeq
    // ADC tables (shared definition with F10), carrying each query's cells
    val qarr = pqQueryTables(s, d, pqDir)
      .select(col("qid"), col("dt"), col("qn"))
      .as[(Long, Array[Long], Double)].collect().sortBy(_._1)
      .map(q => (q._1, q._2, q._3, cellsOf(q._1)))
    // postings scan: the isin filter prunes non-probed cell partitions at
    // plan time (directory pruning on the partitionBy layout); the admit
    // predicate scopes each query to ITS cells within the probed union
    val postings = s.read.parquet(ivfpqIndexDir(s, d))
      .filter(col("cell").isin(probeCells: _*))
      .select(col("vec_id"), col("codes"), col("n2i"), col("cell").cast("int"))
      .as[(Long, Array[Int], Long, Int)]
    val partials = heapShortlist[(Long, Array[Int], Long, Int),
        (Long, Array[Long], Double, Set[Int])](
      postings, qarr, _._1, _._1,
      (q, c) => adcScore(q._2, q._3, c._2, c._3),
      RerankCand, desc = true,
      admit = (q, c) => q._4.contains(c._4))
    val cand = partials
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))))
      .filter(col("crank") <= RerankCand)
      .select(col("qid"), col("nid"))
    int8Rerank(s, d, cand, Nil, TopK)
  }

  // ------------------------------------------------------------------
  // F28 — the incremental IVFPQ SERVES (round-16; the closure of the
  // rebuild-only gap F26/F27 opened): queries run against the MERGED
  // generation store — gen-0 postings (base-trained) plus the gen-1
  // postings the two O(|batch|) append paths produced — through the
  // SAME routing/ADC/rerank cascade as F15. No artifact is rebuilt and
  // no generation is compacted: the query unions generations, which is
  // exactly how an LSM-shaped index serves between compactions. The
  // gate proves end-to-end that appended vectors are RETRIEVABLE (they
  // appear as neighbors) and that base results are undisturbed, which
  // is the property a deployment actually needs from incremental
  // maintenance — the F26/F27 reports only prove the artifacts' shape.
  // ------------------------------------------------------------------

  private val ivfpqIncrBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  /** The generation store: `gen-0/postings` = base PQ codes joined to the
    * base IVF assignment (both trained on base arrivals only, F26/F27's
    * artifacts), `gen-1/postings` = the arrival batch's appended codes
    * joined to its appended assignment — each `partitionBy(cell)` so a
    * query batch still prunes to its routed cells' directories within
    * EVERY generation. */
  private def ivfpqIncrDir(s: SparkSession, d: String): String = {
    val base = s.conf.getOption("graft.ivfpq.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-ivfpq") + "-incr"
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    val kCells = ivfCellsConf(s)
    graft.Artifacts.cachedLocation(ivfpqIncrBuilt, s"$d@$base@k$kCells", fp) { fpv =>
      val dir = base + "/ivfpq-incr-" + java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@k$kCells@$fpv"))
      val cells0 = s.read.parquet(s"${ivfIncrDir(s, d)}/gen-0/corpus")
        .select(col("vec_id"), col("cell"))
      s.read.parquet(s"${pqIncrDir(s, d)}/gen-0/codes")
        .join(cells0, "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/gen-0/postings")
      // the APPEND: compose the two O(|batch|) append plans — the batch
      // routed under the stored centroids and encoded under the stored
      // codebook; neither base artifact is read
      ivfpqAppendPostings(s, d).write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/gen-1/postings")
      dir
    }
  }

  /** The append step's PLAN: the arrival batch's postings rows from the
    * stored routing literals (F26's device) joined to its codes under
    * the collected codebook (F27's device) — two batch-filtered
    * embeddings scans, zero index reads. Exposed to the spec. */
  private def ivfpqAppendPostings(s: SparkSession, d: String): DataFrame =
    pqAppendEncode(s, d, s"${pqIncrDir(s, d)}/codebook")
      .join(ivfAppendAssign(s, d, s"${ivfIncrDir(s, d)}/centroids")
        .select(col("vec_id"), col("cell")), "vec_id")

  private[graft] def ivfpqAppendPostingsForSpec(s: SparkSession, d: String): DataFrame =
    ivfpqAppendPostings(s, d)

  /** F28's gated frame: F15's cascade (routing → per-cell ADC shortlist
    * through the bounded-heap device → exact rerank, shared definitions)
    * served from the merged generation store under the STORED incr
    * centroids/codebook. Output (qid, nid, rank, rcos) like F15. */
  def ivfpqAppendTopK(s: SparkSession, d: String): DataFrame = {
    val pdir = ivfpqIncrDir(s, d)
    ivfpqIncrServe(s, d,
      s.read.parquet(s"$pdir/gen-0/postings")
        .unionByName(s.read.parquet(s"$pdir/gen-1/postings")))
  }

  /** The one incremental-store serve definition — F15's cascade over a
    * caller-supplied postings frame (F28's generation union, F29's
    * tombstone-filtered union, F30's manifest-resolved compacted store),
    * routed/encoded under the STORED incremental centroids/codebook. */
  private def ivfpqIncrServe(s: SparkSession, d: String,
      postingsIn: DataFrame): DataFrame = {
    import s.implicits._
    val ivfDir = ivfIncrDir(s, d)
    val pqDir = pqIncrDir(s, d)
    // routing: the full query block (base AND appended queries) routes
    // under the stored incremental centroids — queries×nprobe rows
    val full = withNorm(Tables.embeddings(s, d))
      .select(col("vec_id"), col("v"), col("nrm"))
    val routedRows = ivfRouted(full, s.read.parquet(s"$ivfDir/centroids"),
        IvfPqNprobe)
      .select(col("qid"), col("qcell")).collect()
    val cellsOf = routedRows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getInt(1)).toSet }
    val probeCells = routedRows.map(_.getInt(1)).distinct.toSeq
    // ADC tables against the STORED incremental codebook
    val qarr = pqQueryTables(s, d, pqDir)
      .select(col("qid"), col("dt"), col("qn"))
      .as[(Long, Array[Long], Double)].collect().sortBy(_._1)
      .map(q => (q._1, q._2, q._3, cellsOf(q._1)))
    // postings scan: isin-pruned to the probed cells' directories —
    // the merged store is a union, never a rewrite
    val postings = postingsIn
      .filter(col("cell").isin(probeCells: _*))
      .select(col("vec_id"), col("codes"), col("n2i"), col("cell").cast("int"))
      .as[(Long, Array[Int], Long, Int)]
    val partials = heapShortlist[(Long, Array[Int], Long, Int),
        (Long, Array[Long], Double, Set[Int])](
      postings, qarr, _._1, _._1,
      (q, c) => adcScore(q._2, q._3, c._2, c._3),
      RerankCand, desc = true,
      admit = (q, c) => q._4.contains(c._4))
    val cand = partials
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))))
      .filter(col("crank") <= RerankCand)
      .select(col("qid"), col("nid"))
    int8Rerank(s, d, cand, Nil, TopK)
  }

  // ------------------------------------------------------------------
  // F29/F30 — the rest of the index LIFECYCLE: deletes and compaction.
  // Deletes land as a persisted tombstone log (O(|deletes|) — the base
  // generation is immutable, exactly why LSM stores tombstone instead
  // of rewriting); the serve path (F29) anti-joins the broadcast log.
  // Compaction (F30) is the C38 manifest discipline applied to the ANN
  // store: ONLY cells whose dirty fraction (dead + appended rows) pays
  // the rewrite get merged live postings written; every other cell is
  // carried by reference to the immutable generation store. A 100 TB
  // deployment compacts a few hot cells per cycle, never the index.
  // ------------------------------------------------------------------

  /** Delete feed: a second deterministic splitmix residue class
    * (mod-16 = 10 ⇒ mod-8 = 2 ≠ [[IvfIncrRes]], so every delete hits the
    * IMMUTABLE base generation — the case tombstones exist for). */
  val DeleteMod = 16
  val DeleteRes = 10

  /** Compaction trigger: a cell pays the rewrite once its dead + appended
    * rows exceed this fraction (permille) of its postings. A CONF
    * (`graft.ann.compactPermille`, default 185 — the gate point where the
    * sf0.01/sf0.001 corpora split into both regimes) because the
    * threshold is the compaction COST knob: a deployment tunes it to its
    * write-amplification budget, and a mid-stream change must re-decide
    * flags in a fresh lifecycle dir (the location is versioned by it),
    * never mutate a committed manifest. */
  val CompactPermille = 185L

  private[graft] def compactPermilleConf(s: SparkSession): Long = {
    val t = s.conf.getOption("graft.ann.compactPermille").map(_.toLong)
      .getOrElse(CompactPermille)
    require(t >= 0, s"graft.ann.compactPermille must be non-negative, got $t")
    t
  }

  private def deletePred =
    pmod(graft.plans.MixHash.splitmix64Col(col("vec_id")),
      lit(DeleteMod.toLong)) === lit(DeleteRes.toLong)

  private val lifecycleBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  /** The lifecycle artifact over the (immutable) F28 generation store:
    * `tombstones` (the persisted delete log), `cells/cell=K` (merged LIVE
    * postings for the cells compaction selected), `_MANIFEST` (every cell
    * → `new` or `ref`). Built once per corpus fingerprint. */
  private def lifecycleDir(s: SparkSession, d: String): String = {
    val base = s.conf.getOption("graft.ivfpq.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-ivfpq") + "-lc"
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    val kCells = ivfCellsConf(s)
    val thr = compactPermilleConf(s)
    graft.Artifacts.cachedLocation(lifecycleBuilt, s"$d@$base@k$kCells@t$thr", fp) { fpv =>
      val dir = base + "/lc-" + java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@k$kCells@t$thr@$fpv"))
      val store = ivfpqIncrDir(s, d)
      // the delete log: O(|deletes|), never a base rewrite
      Tables.embeddings(s, d).select(col("vec_id")).filter(deletePred)
        .write.mode("overwrite").parquet(s"$dir/tombstones")
      // compaction decision: per-cell dirty stats off the STORED
      // generations + log (16 cells — a driver-sized frame)
      val stats = lifecycleStats(s, s"$dir/tombstones", store).collect()
      val flagged = stats.filter(_.getLong(6) == 1L).map(_.getInt(0)).toSeq
      // merged live postings for the flagged cells ONLY — the rewrite
      // cost tracks the dirty set, not the index
      val tomb = s.read.parquet(s"$dir/tombstones")
      s.read.parquet(s"$store/gen-0/postings")
        .unionByName(s.read.parquet(s"$store/gen-1/postings"))
        .filter(col("cell").isin(flagged: _*))
        .join(broadcast(tomb), Seq("vec_id"), "left_anti")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_MANIFEST"), true)
      try {
        val flaggedSet = flagged.toSet
        stats.map(_.getInt(0)).sorted.foreach { c =>
          val kind = if (flaggedSet(c)) "new" else "ref"
          out.write(s"$c\t$kind\n".getBytes("UTF-8"))
        }
      } finally out.close()
      dir
    }
  }

  /** The shared dirty-stats frame: per cell, generation row counts, dead
    * rows (tombstoned — all in gen-0 by the residue construction, but
    * counted against BOTH generations so the arithmetic stays honest if
    * the feed ever overlaps), live rows, the dirty fraction, and the
    * compact flag. Integer throughout. */
  private def lifecycleStats(s: SparkSession, tombLoc: String,
      store: String): DataFrame = {
    val tomb = s.read.parquet(tombLoc)
    def counts(gen: String, as: String, deadAs: String) =
      s.read.parquet(s"$store/$gen/postings")
        .join(broadcast(tomb.withColumn("dead", lit(1L))), Seq("vec_id"), "left")
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as(as), sum(coalesce(col("dead"), lit(0L))).as(deadAs))
    counts("gen-0", "n_gen0", "d0")
      .join(counts("gen-1", "n_gen1", "d1"), Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_gen0"), lit(0L)).as("n_gen0"),
        coalesce(col("n_gen1"), lit(0L)).as("n_gen1"),
        (coalesce(col("d0"), lit(0L)) + coalesce(col("d1"), lit(0L))).as("n_dead"))
      .withColumn("n_live", col("n_gen0") + col("n_gen1") - col("n_dead"))
      .withColumn("dirty_permille",
        expr("(1000 * (n_dead + n_gen1)) DIV (n_gen0 + n_gen1)"))
      .withColumn("compact_flag",
        expr(s"CAST(CASE WHEN dirty_permille > ${compactPermilleConf(s)} " +
          "THEN 1 ELSE 0 END AS BIGINT)"))
  }

  private[graft] def lifecycleDirForSpec(s: SparkSession, d: String): String =
    lifecycleDir(s, d)

  /** F29's gated frame: the F28 cascade with the tombstone log applied —
    * deleted vectors stop being retrievable the moment the O(|deletes|)
    * log lands, with zero index rewrite. */
  def ivfpqDeleteTopK(s: SparkSession, d: String): DataFrame = {
    val pdir = ivfpqIncrDir(s, d)
    val tomb = s.read.parquet(s"${lifecycleDir(s, d)}/tombstones")
    ivfpqIncrServe(s, d,
      s.read.parquet(s"$pdir/gen-0/postings")
        .unionByName(s.read.parquet(s"$pdir/gen-1/postings"))
        .join(broadcast(tomb), Seq("vec_id"), "left_anti"))
  }

  /** F30's gated frame: the compaction report — the per-cell dirty stats
    * the manifest decisions were made from, off the STORED artifacts. */
  def ivfpqCompactReport(s: SparkSession, d: String): DataFrame = {
    val lc = lifecycleDir(s, d)
    lifecycleStats(s, s"$lc/tombstones", ivfpqIncrDir(s, d))
  }

  /** The post-compaction serve frame, resolved THROUGH the manifest:
    * `new` cells read the merged live dirs (tombstones already applied),
    * `ref` cells read the immutable generations under the log — exposed
    * to the spec, which pins serve equivalence with [[ivfpqDeleteTopK]]. */
  private[graft] def compactedServeForSpec(s: SparkSession, d: String): DataFrame = {
    val lc = lifecycleDir(s, d)
    val store = ivfpqIncrDir(s, d)
    val fs = new org.apache.hadoop.fs.Path(lc)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(lc, "_MANIFEST"))
    val lines = try scala.io.Source.fromInputStream(in).getLines().toList
      finally in.close()
    val kinds = lines.map { l => val a = l.split('\t'); (a(0).toInt, a(1)) }
    val newCells = kinds.collect { case (c, "new") => c }
    val refCells = kinds.collect { case (c, "ref") => c }
    val tomb = s.read.parquet(s"$lc/tombstones")
    val refPart = s.read.parquet(s"$store/gen-0/postings")
      .unionByName(s.read.parquet(s"$store/gen-1/postings"))
      .filter(col("cell").isin(refCells: _*))
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
    // a fully-clean store compacts nothing — cells/ then has no parquet
    // footers to infer a schema from, so only read it when cells exist
    val merged =
      if (newCells.isEmpty) refPart
      else refPart.unionByName(
        s.read.parquet(s"$lc/cells").filter(col("cell").isin(newCells: _*)))
    ivfpqIncrServe(s, d, merged)
  }

  // ------------------------------------------------------------------
  // C39 — STREAMING index ingest: in production the arrival feed is a
  // STREAM, not the one synthetic batch F26-F28 model — each micro-batch
  // must become its own generation with O(|batch|) work, exactly-once
  // under checkpoint replay, and the result must serve identically to
  // the batch append. Structured Streaming file source → foreachBatch
  // encodes + routes the batch under the STORED artifacts (collected
  // once, closure-captured) and writes `gen-s<batchId>/postings`; the
  // deterministic per-generation overwrite makes a replayed batch a
  // no-op. Per-batch files stay unpartitioned-by-cell on purpose: a
  // micro-batch is small, and folding the accumulated small files into
  // the cell-partitioned layout is COMPACTION's job (F30).
  // ------------------------------------------------------------------

  /** The arrival stream fixture: the F26 delta class sliced into 4 files
    * by the mod-32 refinement of the mod-8 residue (3, 11, 19, 27 — all
    * ≡ 3 mod 8, power-of-two moduli so signed pmod == unsigned %), with
    * staggered mtimes so the file source's batch order is pinned. */
  private[graft] val IngestResidues: Seq[Long] = Seq(3L, 11L, 19L, 27L)

  private def ingestFixtureDir(s: SparkSession, d: String): String =
    graft.streaming.Streams.fixtureDir(s, d, "embeddings.parquet", "annstream") {
      IngestResidues.zipWithIndex.map { case (res, j) =>
        s"arr$j" -> Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"))
          .filter(pmod(graft.plans.MixHash.splitmix64Col(col("vec_id")),
            lit(32L)) === lit(res))
      }
    }

  private val ingestBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  /** The streamed generation store: runs the AvailableNow ingest once per
    * (JVM, corpus fingerprint, k) over the fixture feed. */
  private def ingestDir(s: SparkSession, d: String): String = {
    val base = s.conf.getOption("graft.ivfpq.dir")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-ivfpq") + "-stream"
    val fp = graft.Artifacts.fingerprint(s, s"$d/embeddings.parquet")
    val kCells = ivfCellsConf(s)
    graft.Artifacts.cachedLocation(ingestBuilt, s"$d@$base@k$kCells", fp) { fpv =>
      val dir = base + "/ingest-" + java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$d@k$kCells@$fpv"))
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true); fs.mkdirs(p)
      runIngestStream(s, d, dir)
      dir
    }
  }

  /** One ingest run: stream the fixture feed, one file per micro-batch,
    * each batch encoded + routed under the stored artifacts and written
    * as its own generation. Factored out of [[ingestDir]] so the replay
    * spec can re-run it against a doctored checkpoint. */
  private[graft] def runIngestStream(s: SparkSession, d: String,
      dir: String): Unit = {
    val fix = ingestFixtureDir(s, d)
    val (cb, ci2) = readPqCodebookArrays(s, s"${pqIncrDir(s, d)}/codebook")
    val cents = s.read.parquet(s"${ivfIncrDir(s, d)}/centroids").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    graft.streaming.Streams.run(s, s.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$fix/*.parquet")
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val batch = b.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        val enc = pqCodesFrame(subVectors(batch), cb, ci2)
        val routed = batch
          .withColumn("cell", nearestCellCol("v", cents))
          .select(col("vec_id"), col("cell"))
        // deterministic per-generation overwrite: a checkpoint replay of
        // batch N rewrites gen-sN with identical content — exactly-once
        // by idempotence, the file-sink-free foreachBatch discipline
        enc.join(routed, "vec_id")
          .write.mode("overwrite").parquet(s"$dir/gen-s$id/postings"); ()
      }
      .option("checkpointLocation", s"$dir/ckpt"))
    ()
  }

  private[graft] def ingestDirForSpec(s: SparkSession, d: String): String =
    ingestDir(s, d)

  /** The streamed generations, unioned — shared by the gated report and
    * the spec's serve-equivalence pin. */
  private[graft] def streamedPostings(s: SparkSession, d: String): DataFrame = {
    val dir = ingestDir(s, d)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // numeric on the batch-id suffix (round-16 ADVICE): a lexicographic
    // sort orders gen-s10 before gen-s2 past 9 micro-batches — harmless to
    // the order-insensitive union, but the sort should mean what it says
    val gens = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("gen-s"))
      .sortBy(_.getName.stripPrefix("gen-s").toLong).map(_.toString)
    require(gens.nonEmpty, s"no streamed generations under $dir")
    gens.map(g => s.read.parquet(s"$g/postings")).reduce(_.unionByName(_))
  }

  /** The F28 cascade over base + STREAMED generations — the spec pins it
    * bit-identical to the batch append's serve ([[ivfpqAppendTopK]]). */
  private[graft] def streamedServeForSpec(s: SparkSession, d: String): DataFrame =
    ivfpqIncrServe(s, d,
      s.read.parquet(s"${ivfpqIncrDir(s, d)}/gen-0/postings")
        .unionByName(streamedPostings(s, d)))

  /** C39's gated frame: per-cell postings balance of the streamed store —
    * base generation vs everything the stream appended. Content-wise the
    * stream must land exactly the F26 delta (its 4 sub-batches partition
    * the mod-8 class), so the oracle recomputes from the splitmix splits;
    * any batching/encode/routing bug in the streaming path breaks the
    * hash. The streaming-only guarantees (per-generation isolation,
    * replay idempotence, serve equivalence with the batch append) are
    * spec-pinned — the C37/C38 division of labor. */
  def streamingIndexIngest(s: SparkSession, d: String): DataFrame = {
    val base = s.read.parquet(s"${ivfpqIncrDir(s, d)}/gen-0/postings")
    def counts(df: DataFrame, as: String) = df
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as(as))
    counts(base, "n_base")
      .join(counts(streamedPostings(s, d), "n_streamed"), Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_streamed"), lit(0L)).as("n_streamed"))
      .withColumn("n_total", col("n_base") + col("n_streamed"))
      .withColumn("streamed_permille",
        expr("(1000 * n_streamed) DIV n_total"))
  }

  /** F16 — the recall CURVE (round-11 verdict item 3: F14 reports one
    * operating point; the deployment decision needs recall vs scanned
    * fraction across nprobe). One row per nprobe in [[RecallCurveNprobes]]:
    * total exact-top-k hits, recall in basis points, candidate rows
    * scanned, and the scanned fraction of the full pair space — all
    * integer. Monotonicity is a THEOREM here (a global top-k member ranks
    * in the top-k of ANY candidate set containing it, so hits can only
    * grow with nprobe) and the spec asserts it; the gate makes the curve
    * itself reproducible. The brute-force reference is computed once and
    * reused across the sweep.
    */
  val RecallCurveNprobes: Seq[Int] = Seq(1, 2, 4, 8)

  def annRecallCurve(s: SparkSession, d: String): DataFrame = {
    // single consumer below (the hits join) — no persist needed
    val brute = bruteTopK(s, d).select(col("qid"), col("nid"))
    // ONE probe at max nprobe, candidates tagged with the probe rank of
    // the cell that produced them (each corpus vector lives in exactly
    // one cell, so `crank <= np` recovers the np-sweep's candidate set
    // EXACTLY) — the 4-sweep union then shares a single scored candidate
    // frame instead of re-running 4 routing joins + corpus scans
    // (round-15: the two-pass-mover A/B found the composite curve paying
    // ~1.3x; components were at parity — this removes the redundancy
    // outright). Persisted across the sweep's 8 consuming subtrees.
    val maxNp = RecallCurveNprobes.max
    val dir = ivfIndexDir(s, d)
    val corpus = s.read.parquet(s"$dir/corpus")
    val routed = corpus.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .join(broadcast(s.read.parquet(s"$dir/centroids")))
      .withColumn("ccos", dotCol("qv", "cv") / (col("qn") * col("cn")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cell_id"))))
      .filter(col("crank") <= maxNp)
      .select(col("qid"), col("qv"), col("qn"), col("cell_id").as("qcell"),
        col("crank"))
    val cands = graft.CacheScope.scopedPersist(
      corpus.join(broadcast(routed),
          col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
        .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
        .select(col("qid"), col("vec_id").as("nid"), col("rcos"), col("crank")))
    // ALL four sweeps in ONE rank window (r18, guide §2.4 — r17 verdict
    // item 5): the candidate sets are NESTED in crank (crank<=1 ⊂ crank<=2
    // ⊂ …), so a row's row_number inside the np-sweep's set equals the
    // running count of crank<=np rows under the SAME total (rcos desc, nid)
    // order the old per-sweep rankTopK used — one window computes every
    // sweep's ranks, one brute join + one grouped aggregate replace the 4
    // rank windows + 4 joins + 8 scalar aggregates of the union form.
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rcos").desc, col("nid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = cands.select(
      Seq(col("qid"), col("nid"), col("crank")) ++
        RecallCurveNprobes.map(np =>
          sum(when(col("crank") <= np, 1L).otherwise(0L)).over(w)
            .as(s"rk_$np")): _*)
    val hitCols = RecallCurveNprobes.map(np =>
      sum(when(col("crank") <= np && col(s"rk_$np") <= TopK, 1L).otherwise(0L))
        .as(s"h_$np"))
    val hits = brute.join(flagged, Seq("qid", "nid"), "left")
      .agg(hitCols.head, hitCols.tail: _*)
    val scanCols = RecallCurveNprobes.map(np =>
      sum(when(col("crank") <= np, 1L).otherwise(0L)).as(s"s_$np"))
    val scanned = cands.agg(scanCols.head, scanCols.tail: _*)
    val total = withNorm(Tables.embeddings(s, d)).count() - 1  // pair space per query
    val stackArgs = RecallCurveNprobes
      .map(np => s"$np, h_$np, s_$np").mkString(", ")
    val out = hits.crossJoin(scanned)
      .select(expr(s"stack(${RecallCurveNprobes.size}, $stackArgs) " +
        "AS (nprobe, n_hits, n_scanned)"))
      .select(col("nprobe"), col("n_hits"),
        expr(s"(10000 * n_hits) DIV (${NumQueries}L * $TopK)").as("recall_bps"),
        col("n_scanned"))
      .withColumn("scanned_bps",
        expr(s"(10000 * n_scanned) DIV (${NumQueries}L * ${total}L)"))
    graft.CacheScope.releaseAfterUse(out, cands)
  }

  /** F17 — MATRYOSHKA truncation-recall report (round-12; Kusupati et al.
    * 2022, "Matryoshka Representation Learning"): the deployment question
    * MRL embeddings pose — how much recall does serving the first d
    * dimensions keep? For each d in [[MatryoshkaDims]], exact top-k by
    * cosine over the TRUNCATED prefix (norms recomputed over the prefix,
    * 6 dp HALF_UP + nid tie-break — the F1 scoring discipline on sliced
    * vectors) through the bounded-heap device, scored against the
    * full-dimension brute top-k. d = 64 is the identity (same ranking as
    * F1 — recall 10000 bps, a built-in self-check the spec asserts); the
    * smaller prefixes give the honest quality-vs-bandwidth curve. Unlike
    * F16's nprobe curve, monotonicity is NOT a theorem here (truncated
    * rankings are not nested) — the report is the evidence, not an
    * assumption.
    */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32, 64)

  def matryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = withNorm(Tables.embeddings(s, d))
      .select(col("vec_id"), col("v")).as[(Long, Array[Double])]
    val qarr = e.filter(_._1 < NumQueries).collect().sortBy(_._1)
    val brute = graft.CacheScope.scopedPersist(
      bruteTopK(s, d).select(col("qid"), col("nid")))
    // ALL truncation widths in ONE corpus pass (r17, guide §2.4): the four
    // per-dims sweeps each re-deserialized the full embedding dataset and
    // ran their own shortlist stage; fusing them as (dims·stride + qid)
    // synthetic queries computes the identical per-(dims, qid) bounded
    // heaps — same prefix-cosine scores, same (score desc, nid) order,
    // self-exclusion expressed ONLY through `admit` (selfExclude=false;
    // the built-in nid-vs-qid compare is off) — against one scan. The per-row
    // inner loop is |dims|·|queries| wide, exactly the work the four
    // passes did in aggregate.
    // stride only needs to exceed every QUERY id (qid < NumQueries, tiny),
    // so (dims·stride + qid) decodes uniquely at any corpus size; corpus
    // vec_ids never meet the encoded ids because selfExclude=false below
    // turns off the built-in nid-vs-encoded-qid compare (r17 verdict item 1
    // — the old guard silently dropped the corpus vector whose vec_id
    // equalled dims·stride + qid once the corpus outgrew the stride)
    val stride = 1000000L
    require(NumQueries < stride, "matryoshka stride must exceed every qid")
    val fused: Array[(Long, Array[Double])] = MatryoshkaDims.toArray.flatMap(
      dims => qarr.map { case (qid, v) => (dims * stride + qid, v) })
    def pdot(a: Array[Double], b: Array[Double], n: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // one fused stage needs the full compute width by itself (the four
    // concurrent sweeps used to multiply the scan's few input splits):
    // spread the corpus across the session's shuffle width first — a ~MB
    // shuffle that unlocks 32-way parallelism for the heap kernel. Guarded
    // (r17 verdict item 6): at scale the scan already has more splits than
    // the session width and the shuffle would be a full-corpus round trip
    // bought for nothing.
    val shufW = s.conf.get("spark.sql.shuffle.partitions").toInt
    val eWide = if (e.rdd.getNumPartitions < shufW) e.repartition(shufW) else e
    val partials = heapShortlist[(Long, Array[Double]), (Long, Array[Double])](
      eWide, fused, _._1, _._1,
      (q, c) => {
        val dims = (q._1 / stride).toInt
        // a vector whose first `dims` components are all zero has no
        // defined cosine on the prefix — score it 0.0 instead of letting
        // 0/0 = NaN blow up BigDecimal (the fixture has no zero prefixes,
        // so the gate hash is unchanged; this guards crafted inputs)
        val den = math.sqrt(pdot(q._2, q._2, dims)) *
          math.sqrt(pdot(c._2, c._2, dims))
        if (den == 0.0) 0.0
        else BigDecimal(pdot(q._2, c._2, dims) / den)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      },
      TopK, desc = true,
      admit = (q, c) => c._1 != q._1 % stride, selfExclude = false)
    val topd = partials
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))))
      .filter(col("rank") <= TopK)
      .select(expr(s"CAST(qid DIV ${stride}L AS INT)").as("n_dims"),
        expr(s"qid % ${stride}L").as("qid"), col("nid"))
    val hitCounts = brute.join(topd, Seq("qid", "nid"))
      .groupBy(col("n_dims")).agg(count(lit(1)).as("n_hits"))
    // a dims row must survive even at zero hits (the old per-sweep
    // left-join aggregate emitted 0)
    val out = MatryoshkaDims.map(_.toInt).toDF("n_dims")
      .join(hitCounts, Seq("n_dims"), "left")
      .select(col("n_dims"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"(10000 * coalesce(n_hits, 0L)) DIV (${NumQueries}L * $TopK)")
          .as("recall_bps"))
    graft.CacheScope.releaseAfterUse(out, brute)
  }

  private def matryoshkaRecallSql: String = {
    val sweeps = MatryoshkaDims.map { dims =>
      s"""tp_$dims AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
          ROUND(list_cosine_similarity(q.v[1:$dims], c.v[1:$dims]), 6) AS rc
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < $NumQueries),
      tk_$dims AS (
        SELECT qid, nid FROM (
          SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rc DESC, nid) AS rank
          FROM tp_$dims) t WHERE rank <= $TopK),
      agg_$dims AS (
        SELECT CAST($dims AS INTEGER) AS n_dims,
          (SELECT CAST(COUNT(t.nid) AS BIGINT)
           FROM br b LEFT JOIN tk_$dims t
             ON t.qid = b.qid AND t.nid = b.nid) AS n_hits)"""
    }
    s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bp AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
        ROUND(list_cosine_similarity(q.v, c.v), 6) AS rcos
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < $NumQueries),
    br AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM bp) t WHERE rank <= $TopK),
    ${sweeps.mkString(",\n")}
    SELECT n_dims, n_hits,
      CAST((10000 * n_hits) // (${NumQueries} * $TopK) AS BIGINT) AS recall_bps
    FROM (${MatryoshkaDims.map(dm => s"SELECT * FROM agg_$dm").mkString(" UNION ALL ")})
    ORDER BY n_dims"""
  }

  /** F18 — exact GRAM MATRIX of the embedding corpus (round-12): the input
    * every whitening / PCA / covariance-conditioning step consumes —
    * X^T X over fixed-point component units, computed as ONE constant-size
    * mergeable aggregate buffer (dim² longs — [[graft.plans.GramAgg]], the
    * MinHashAgg discipline) so the corpus streams through in a single
    * partial-agg pass regardless of scale; integer sums are
    * accumulation-order-proof, so the full matrix hash-gates like an exact
    * query (a float Gram would be partial-order-dependent and unverifiable).
    * Output: the dim(dim+1)/2 upper-triangle entries. The
    * eigendecomposition itself is driver-side dim×dim work any LAPACK does
    * in microseconds — the DISTRIBUTED step, and the one worth gating, is
    * this reduction.
    */
  val GramDim = 64

  def embGramMatrix(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
    e.agg(graft.plans.SketchAggs.gram(col("v"), GramDim).as("g"))
      .select(posexplode(col("g")).as(Seq("idx", "gram_units")))
      .select((col("idx") / GramDim).cast("int").as("i"),
        (col("idx") % GramDim).cast("int").as("j"), col("gram_units"))
      .filter(col("i") <= col("j"))
  }

  private def embGramMatrixSql: String = {
    val unit = graft.plans.ScaledLong.sql("x", "1048576.0")
    s"""
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    u AS (SELECT list_transform(v, x -> $unit) AS uv FROM e)
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
      CAST(SUM(uv[CAST(i + 1 AS INT)] * uv[CAST(j + 1 AS INT)]) AS BIGINT)
        AS gram_units
    FROM u,
      (SELECT unnest(range($GramDim)) AS i),
      (SELECT unnest(range($GramDim)) AS j)
    WHERE i <= j
    GROUP BY i, j ORDER BY i, j"""
  }

  /** E9 — SEMANTIC dedup, SemDeDup-style (Abbas et al. 2023): remove
    * embedding near-duplicates WITHIN k-means clusters instead of globally.
    * The stored IVF assignment ([[ivfIndexDir]]'s corpus table — reused, not
    * re-derived) provides the clusters; candidate pairs are a cell-keyed
    * self-join, so the quadratic work is Σ|cell|² ≈ n²/k instead of E5's n²
    * — THE device that makes embedding dedup feasible at corpus scale (the
    * paper prunes 100M→sub-quadratic exactly this way; cross-cell near-dups
    * are the accepted recall loss, documented there and here). Drop rule is
    * the E1 keep-first discipline: a vector is dropped iff a smaller-id
    * vector in ITS cell matches at ≥ [[SemTau]] (6 dp-rounded cosine, so the
    * threshold compare is engine-exact). Output: the surviving (vec_id,
    * cell) rows. The oracle replays k-means via [[ivfAssignCtes]] — shared
    * text with F3's oracle, so the two cannot drift.
    */
  val SemTau = 0.4

  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val dir = ivfIndexDir(s, d)
    val corpus = s.read.parquet(s"$dir/corpus")
    val a = corpus.select(col("cell"), col("vec_id"), col("v"), col("nrm"))
    val dups = a.as("a").join(a.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        round(dotCol("a.v", "b.v") / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos") >= SemTau)
      .select(col("b.vec_id").as("dup"))
      .distinct()
    corpus.join(dups, col("vec_id") === col("dup"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  private def semanticDedupSql: String = s"""
    WITH $ivfAssignCtes,
    prs AS (
      SELECT DISTINCT b.vec_id AS dup
      FROM af a JOIN af b ON b.cell = a.cell AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= $SemTau)
    SELECT af.vec_id, af.cell
    FROM af LEFT JOIN prs ON prs.dup = af.vec_id
    WHERE prs.dup IS NULL ORDER BY af.vec_id"""

  /** F24 — distributed kNN JOIN (round-14, verdict item 2): EVERY corpus
    * row gets its top-k neighbors from the stored IVF index — the
    * retrieval-augmentation / corpus-enrichment shape (kNN-LM-style
    * neighbor tables, per-document dedup scoring) where the query side is
    * itself a corpus-scale table, so the F1-F15 bounded-query device
    * (collect + broadcast the ≤[[NumQueries]] block, [[bruteTopK]]) is
    * exactly what must NOT happen. Queries stay distributed end to end:
    *   - ROUTING is a per-row codegen expression over the [[IvfCells]]-row
    *     centroid table inlined as literals ([[nearestCellCol]] generalized
    *     to top-nprobe) — no window, no n×k expand, no shuffle: routing
    *     fuses into the corpus scan;
    *   - CANDIDATES come from the cell-routed equi-join against the stored
    *     assignment (E9's device): per-query work is nprobe·|cell|, and no
    *     corpus² pair stream exists anywhere in the plan;
    *   - TOP-K is one rank window partitioned by qid — n partitions of
    *     cell-bounded size, never the round-10 hazard (few partitions ×
    *     corpus-sized streams).
    * Same index, nprobe, scoring, and tiebreaks as F3, so restricting to
    * the F3 query set reproduces `ann_ivf_topk` bit-exactly (spec-pinned);
    * the oracle is the F3 replay with the query filter widened to TRUE —
    * shared CTE text, cannot drift.
    */
  val KnnNprobe = 2

  /** Top-`nprobe` probe cells as a per-row expression over centroid
    * literals: sort (−ccos normalized of −0.0, cell_id) ascending — exactly
    * the oracle's (ccos DESC, cell_id) row_number order. */
  private def topCellsCol(v: String, nrm: String,
      cents: Array[(Int, Array[Double], Double)], nprobe: Int): Column = {
    val cells = cents.map { case (i, c, cn) =>
      val carr = array(c.toIndexedSeq.map(lit): _*)
      struct(
        (lit(0d) - graft.plans.DotProduct.dot(col(v), carr) /
          (col(nrm) * lit(cn)) + lit(0d)).as("ns"),
        lit(i).as("ci"))
    }
    transform(slice(array_sort(array(cells.toIndexedSeq: _*)), 1, nprobe),
      x => x.getField("ci"))
  }

  def knnJoin(s: SparkSession, d: String): DataFrame = {
    val dir = ivfIndexDir(s, d)
    val corpus = s.read.parquet(s"$dir/corpus")
    // the k-row centroid table as driver literals — bounded by construction
    // (k = IvfCells), the same k rows every probe path broadcasts
    val cents = s.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0),
        r.getAs[scala.collection.Seq[Double]]("cv").toArray, r.getDouble(2)))
      .sortBy(_._1)
    val routed = corpus
      .withColumn("qcell", explode(topCellsCol("v", "nrm", cents, KnnNprobe)))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("qcell"))
    val cand = corpus.join(routed,
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("qid"), col("vec_id").as("nid"), col("rcos"))
    rankTopK(cand)
  }

  private def knnJoinSql: String = s"""
    WITH $ivfAssignCtes,
    $ivfCwCte,
    ${ivfProbeCtes(KnnNprobe, "_knn", qWhere = "TRUE")},
    ${ivfRankedFrom("_knn", "knn_ranked")}
    SELECT qid, nid, rank, rcos FROM knn_ranked
    WHERE rank <= $TopK ORDER BY qid, rank"""

  /** Sampling knobs for F25 — one deterministic splitmix64 residue class
    * of corpus rows (expected n/[[KnnRecallMod]] queries). At 100 TB the
    * modulus is the certification-budget knob: raise it with corpus size
    * so the sampled query block stays broadcastable and the exact
    * reference stays one corpus scan against a bounded block. */
  val KnnRecallMod = 16
  val KnnRecallRes = 7

  /** F25 — recall certification for the corpus-wide kNN JOIN (round-15,
    * verdict item 6): F14/F16/F21 certify the bounded `vec_id <
    * NumQueries` query path; this key measures F24's corpus-wide form at
    * its own operating point (nprobe=[[KnnNprobe]]) on a deterministic
    * splitmix64 residue sample. The approximate side is F24's exact
    * candidate/rank plan with the sample predicate pushed into the QUERY
    * side — per-query top-k is independent of the other queries, so the
    * restriction changes cost, not per-query results (spec-pinned
    * against the unrestricted join). The exact side is brute cosine of
    * the sampled block against the full corpus — the certification's
    * inherent cost, one corpus scan per sample block. Output: F14's
    * per-query (n_hits, recall_bps), integer basis points.
    */
  def knnJoinRecall(s: SparkSession, d: String): DataFrame = {
    val dir = ivfIndexDir(s, d)
    val corpus = s.read.parquet(s"$dir/corpus")
    val cents = s.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0),
        r.getAs[scala.collection.Seq[Double]]("cv").toArray, r.getDouble(2)))
      .sortBy(_._1)
    val sampleP = pmod(graft.plans.MixHash.splitmix64Col(col("vec_id")),
      lit(KnnRecallMod.toLong)) === lit(KnnRecallRes.toLong)
    val routed = corpus.filter(sampleP)
      .withColumn("qcell", explode(topCellsCol("v", "nrm", cents, KnnNprobe)))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("qcell"))
    val approx = rankTopK(corpus.join(routed,
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("qid"), col("vec_id").as("nid"), col("rcos")))
      .select(col("qid"), col("nid")).withColumn("hit", lit(1L))
    val q = corpus.filter(sampleP)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val brute = rankTopK(corpus.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("qid"), col("vec_id").as("nid"), col("rcos")))
      .select(col("qid"), col("nid"))
    brute.join(approx, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_bps", expr(s"(10000 * n_hits) DIV $TopK"))
  }

  /** F25's oracle: the H6 splitmix chain picks the residue sample, the
    * F24 probe chain (shared CTE text) supplies the approximate side on
    * those queries, and the quadratic brute on sample × corpus is the
    * exact reference. */
  private def knnJoinRecallSql: String = s"""
    WITH $ivfAssignCtes,
    $ivfCwCte,
    ${graft.plans.MixHash.sqlSplitmixCtes(
      "e", "CAST(vec_id AS HUGEINT)", Seq("vec_id"), "krs")},
    sq AS (SELECT vec_id FROM krs WHERE h % $KnnRecallMod = $KnnRecallRes),
    ${ivfProbeCtes(KnnNprobe, "_kr",
      qWhere = "q.vec_id IN (SELECT vec_id FROM sq)")},
    ${ivfRankedFrom("_kr", "kr_ranked")},
    kbp AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
        ROUND(list_cosine_similarity(q.v, c.v), 6) AS rcos
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id IN (SELECT vec_id FROM sq)),
    kbr AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM kbp) t
      WHERE rank <= $TopK),
    kh AS (
      SELECT b.qid, CAST(COUNT(iv.nid) AS BIGINT) AS n_hits
      FROM kbr b LEFT JOIN kr_ranked iv
        ON iv.qid = b.qid AND iv.nid = b.nid AND iv.rank <= $TopK
      GROUP BY b.qid)
    SELECT qid, n_hits, CAST((10000 * n_hits) // $TopK AS BIGINT) AS recall_bps
    FROM kh ORDER BY qid"""

  /** F22 — IVF CELL-BALANCE report: per stored cell, its corpus share and
    * the mean cosine of members to their own centroid — the index-health
    * table an IVF deployment watches (a hot cell makes every probe that
    * routes to it scan its size — the tail-latency driver at scale; a low
    * mean cosine flags a cell the centroids serve poorly — the re-train
    * trigger). Reads the STORED index tables only (the F3 artifact — no
    * re-derivation); the per-vector cosine is 6 dp-rounded then summed in
    * exact micro-units (integer, order-independent) so the mean is a floor
    * division both engines replay. k-row output; the 1-row total is the
    * combine_global shape. Oracle replays assignment via [[ivfAssignCtes]]
    * (shared text with F3 — cannot drift).
    */
  /** Spec accessors for the stored index tables (read-only; the report's
    * exactness is pinned against these same artifacts). */
  private[graft] def ivfCorpusForSpec(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${ivfIndexDir(s, d)}/corpus")
  private[graft] def ivfCentroidsForSpec(
      s: SparkSession, d: String): Map[Int, (Array[Double], Double)] =
    s.read.parquet(s"${ivfIndexDir(s, d)}/centroids").collect()
      .map(r => r.getInt(0) ->
        (r.getAs[scala.collection.Seq[Double]]("cv").toArray,
          r.getAs[Double]("cn"))).toMap

  def ivfCellReport(s: SparkSession, d: String): DataFrame = {
    val dir = ivfIndexDir(s, d)
    val per = s.read.parquet(s"$dir/corpus")
      .join(broadcast(s.read.parquet(s"$dir/centroids")),
        col("cell") === col("cell_id"))
      .withColumn("cos6",
        round(dotCol("v", "cv") / (col("nrm") * col("cn")), 6))
      .withColumn("cu", round(col("cos6") * 1e6).cast("long"))
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("cu")).as("smc"))
    val tot = per.agg(sum(col("n_vecs")).as("n_total"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        expr("(10000 * n_vecs) DIV n_total").as("share_bps"),
        expr("smc DIV n_vecs").as("mean_cos_micro"))
  }

  private def ivfCellReportSql: String = s"""
    WITH $ivfAssignCtes,
    scd AS (
      SELECT af.cell,
        CAST(ROUND(ROUND(list_cosine_similarity(e.v, c.cv), 6) * 1000000.0)
          AS BIGINT) AS cu
      FROM af JOIN e ON e.vec_id = af.vec_id
      JOIN c3 c ON c.cell_id = af.cell),
    per AS (
      SELECT cell, COUNT(*) AS n_vecs, CAST(SUM(cu) AS BIGINT) AS smc
      FROM scd GROUP BY 1),
    tc AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total FROM per)
    SELECT CAST(p.cell AS INTEGER) AS cell, p.n_vecs,
      CAST((10000 * p.n_vecs) // t.n_total AS BIGINT) AS share_bps,
      CAST(p.smc // p.n_vecs AS BIGINT) AS mean_cos_micro
    FROM per p, tc t ORDER BY p.cell"""

  /** F26's oracle: FULL RECOMPUTE equivalence on the merged index — the
    * splitmix chain re-derives the arrival split, Lloyd re-trains on the
    * base subset only (same unrolled [[lloydCte]] text as F3, different
    * source), both subsets are assigned under the final centroids via the
    * shared [[assignCte]], and the report aggregates the union — exactly
    * what the stored gen-0 + gen-1 artifacts hold. */
  private def ivfAppendReportSql: String = s"""
    WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ${graft.plans.MixHash.sqlSplitmixCtes(
      "e0", "CAST(vec_id AS HUGEINT)", Seq("vec_id"), "ivs")},
    eb AS (
      SELECT e0.vec_id, e0.v FROM e0 JOIN ivs ON ivs.vec_id = e0.vec_id
      WHERE ivs.h % $IvfIncrMod <> $IvfIncrRes),
    ed AS (
      SELECT e0.vec_id, e0.v FROM e0 JOIN ivs ON ivs.vec_id = e0.vec_id
      WHERE ivs.h % $IvfIncrMod = $IvfIncrRes),
    c0 AS (
      SELECT CAST(vec_id % $IvfCells AS INT) AS cell_id, v AS cv FROM (
        SELECT vec_id, v, ROW_NUMBER() OVER (
          PARTITION BY vec_id % $IvfCells ORDER BY vec_id) AS rn FROM eb) t
      WHERE rn = 1),
    ${lloydCte("eb", "c0", "a1", "m1", "c1")},
    ${lloydCte("eb", "c1", "a2", "m2", "c2")},
    ${lloydCte("eb", "c2", "a3", "m3", "c3")},
    ${assignCte("afb", "c3", "eb")},
    ${assignCte("afd", "c3", "ed")},
    pb AS (SELECT cell, COUNT(*) AS n_base FROM afb GROUP BY 1),
    pd AS (SELECT cell, COUNT(*) AS n_delta FROM afd GROUP BY 1),
    per AS (
      SELECT COALESCE(pb.cell, pd.cell) AS cell,
        COALESCE(pb.n_base, 0) AS n_base, COALESCE(pd.n_delta, 0) AS n_delta,
        COALESCE(pb.n_base, 0) + COALESCE(pd.n_delta, 0) AS n_total
      FROM pb FULL OUTER JOIN pd ON pd.cell = pb.cell),
    ta AS (SELECT CAST(SUM(n_total) AS BIGINT) AS n_all FROM per)
    SELECT CAST(p.cell AS INTEGER) AS cell,
      CAST(p.n_base AS BIGINT) AS n_base,
      CAST(p.n_delta AS BIGINT) AS n_delta,
      CAST(p.n_total AS BIGINT) AS n_total,
      CAST((1000 * p.n_delta) // p.n_total AS BIGINT) AS delta_permille,
      CAST((10000 * p.n_total) // t.n_all AS BIGINT) AS share_bps,
      CAST(CASE WHEN (1000 * p.n_delta) // p.n_total > $IvfRetrainPermille
        THEN 1 ELSE 0 END AS BIGINT) AS retrain_flag
    FROM per p, ta t ORDER BY p.cell"""

  /** F11 — binary-code retrieval cascade (faiss IndexBinaryFlat shape):
    * sign-binarize each embedding into 64 bits packed as two 32-bit words,
    * shortlist by hamming distance over the CODES ONLY, then exact-rerank
    * the shortlist with float cosine. The stage separation is the 100 TB
    * point: the hamming sweep touches 8 bytes/vector (32x smaller than the
    * float vectors, 2 xor+popcnt per candidate — SIMD-trivial) through the
    * [[heapShortlist]] device, so only P×q×R tiny (qid, nid, hamming)
    * partials ever reach a shuffle — no corpus-sized pair stream exists
    * anywhere in the plan; full
    * vectors are re-fetched by id for the <=shortlist rows per query, never
    * dragged through the top-k exchange. Both stages' tiebreaks are integer
    * (hamming asc, nid / rcos 6dp desc, nid), so the cascade replays
    * bit-exactly in the oracle.
    *
    * Packing uses 32-bit words in BIGINT columns so no value ever touches
    * the sign bit — `1::BIGINT << 63` overflow semantics differ across
    * engines, `< 2^32` values cannot.
    */
  val BinaryShortlist = 50

  private def packSignBits(v: Column, off: Int): Column =
    (0 until 32).map(i =>
      when(element_at(v, i + off + 1) > 0.0, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)

  def binaryTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = withNorm(Tables.embeddings(s, d)).select(col("vec_id"), col("v"), col("nrm"))
    // persist the 8-byte codes: the materialization boundary evaluates the
    // 64-branch sign-pack projection once per vector (it used to collapse
    // into the shortlist join and re-evaluate per PAIR — measured
    // 4.3 s -> 0.9 s at sf0.1), and it's exactly what "store the binary
    // index" means at scale; the query collect below reads the same cache
    val codes = graft.CacheScope.scopedPersist(
      e.select(col("vec_id"),
        packSignBits(col("v"), 0).as("w0"), packSignBits(col("v"), 32).as("w1")))
    val codesDs = codes.as[(Long, Long, Long)]
    val qarr = codesDs.filter(_._1 < NumQueries).collect().sortBy(_._1)
    // hamming sweep via the bounded-heap device: 2 xor+popcnt per
    // (partition-local) candidate, P×q×R tiny partials — no corpus-sized
    // pair stream ever reaches a shuffle or a window
    val partials = heapShortlist[(Long, Long, Long), (Long, Long, Long)](
      codesDs, qarr, _._1, _._1,
      (q, c) => (java.lang.Long.bitCount(c._2 ^ q._2) +
        java.lang.Long.bitCount(c._3 ^ q._3)).toDouble,
      BinaryShortlist, desc = false)
    val shortlist = partials
      .withColumn("hrank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").asc, col("nid").asc)))
      .filter(col("hrank") <= BinaryShortlist)
      // bit_count sums are IntegerType in the window form — keep the schema
      .select(col("qid"), col("nid"), col("score").cast("int").as("hamming"))
    // vector fetch-back: broadcast the bounded shortlist against the corpus
    // scan, attach query vectors from the broadcast query block
    val qv = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val out = e.select(col("vec_id").as("nid"), col("v"), col("nrm"))
      .join(broadcast(shortlist), "nid")
      .join(broadcast(qv), "qid")
      .withColumn("rcos", round(dotCol("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rcos").desc, col("nid"))))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("nid"), col("rank"), col("hamming"), col("rcos"))
    graft.CacheScope.releaseAfterUse(out, codes)
  }

  /** F12 — maximum-inner-product search (MIPS): the recommendation-model
    * retrieval ordering (user·item scores), which is NOT cosine — vector
    * magnitude matters. The stored embeddings are unit-normalized (MIPS
    * would degenerate to F1 exactly), so the gate PLANTS the norm signal a
    * real MIPS corpus carries: each vector is scaled by the deterministic
    * importance weight 1 + (vec_id mod 7)/4 — dyadic, so the scaling is an
    * exact double product in both engines — the way production systems
    * encode popularity/quality in embedding magnitude. The spec pins that
    * IP and cosine top-1 genuinely diverge under the plant.
    *
    * Cascade: an INTEGER scaled-int8 shortlist — iscore =
    * int8dot(a,c)·fix(a)·fix(c) with fix = round(1024·max|x|), the H22/F10
    * fixed-point device, so the per-pair score is a product of integers
    * (order-proof, bit-replayable; magnitudes ≤ 2^20·2^12·2^12 = 2^44);
    * cosine's scale-cancellation does NOT apply to MIPS, so the per-vector
    * scales must re-enter, and snapping them once per vector keeps the
    * shortlist integer-exact — then exact float IP rerank over the
    * [[MipsShortlist]] fetch-back. Same slim-pairs discipline as F11: the
    * shuffle carries (qid, nid, iscore), never vectors.
    */
  val MipsShortlist = 50

  /** The planted importance weight: 1 + (vec_id mod 7)/4 ∈ {1, 1.25, …, 2.5}. */
  private def mipsWeight: Column =
    lit(1.0) + pmod(col("vec_id"), lit(7L)).cast("double") / lit(4.0)

  def mipsTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = withNorm(Tables.embeddings(s, d)).select(col("vec_id"), col("v"))
      .withColumn("v", transform(col("v"), x => x * mipsWeight))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q8", packBytes(when(col("scale") > 0,
        transform(col("v"), x => round(lit(127.0) * x / col("scale")).cast("byte")))
        .otherwise(transform(col("v"), _ => lit(0).cast("byte")))))
      .withColumn("fix", round(col("scale") * 1024).cast("long"))
    // persist the int8 codes: one evaluation of the quantization projection
    // per vector (the r10 advice item — without the boundary it could
    // collapse into downstream operators), and the stored-index semantics
    val codes = graft.CacheScope.scopedPersist(
      e.select(col("vec_id"), col("q8"), col("fix")))
    val codesDs = codes.as[(Long, Array[Byte], Long)]
    val qarr = codesDs.filter(_._1 < NumQueries).collect().sortBy(_._1)
    // integer-scored shortlist via the bounded-heap device: iscore =
    // int8dot·fix·qfix ≤ 2^44 rides exactly in the double transport;
    // P×q×R tiny partials instead of a corpus×queries window sort
    val partials = heapShortlist[(Long, Array[Byte], Long), (Long, Array[Byte], Long)](
      codesDs, qarr, _._1, _._1,
      (q, c) => {
        val a = q._2; val b = c._2
        val n = math.min(a.length, b.length)
        var acc = 0L
        var j = 0
        while (j < n) { acc += a(j).toLong * b(j); j += 1 }
        (acc * q._3 * c._3).toDouble
      },
      MipsShortlist, desc = true)
    val shortlist = partials
      .withColumn("srank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))))
      .filter(col("srank") <= MipsShortlist)
      .select(col("qid"), col("nid"))
    val vecs = e.select(col("vec_id"), col("v"))
    val qv = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val out = vecs.select(col("vec_id").as("nid"), col("v"))
      .join(broadcast(shortlist), "nid")
      .join(broadcast(qv), "qid")
      .withColumn("rip", round(dotCol("qv", "v"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rip").desc, col("nid"))))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("nid"), col("rank"), col("rip"))
    graft.CacheScope.releaseAfterUse(out, codes)
  }

  /** F13 — HARD-NEGATIVE MINING for contrastive/retrieval training: for
    * each query vector, the exact top-k most-cosine-similar vectors whose
    * class label DIFFERS from the query's — the "closest wrong answers"
    * a contrastive loss needs (the public in-batch/ANCE-style hard-negative
    * recipe). The inverse of F8's filtered search (same label) — the admit
    * predicate flips from label-match to label-mismatch.
    *
    * Same 100 TB shape as F1: broadcast query block, ONE corpus scan
    * through per-query bounded heaps ([[heapShortlist]]), P×q×k partials
    * into the tiny global rank. Scoring is bit-identical to the brute gate
    * (sequential dot, HALF_UP 6 dp).
    */
  def hardNegativesTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = withNorm(Tables.embeddings(s, d))
      .select(col("vec_id"), col("v"), col("nrm"), col("label"))
      .as[(Long, Array[Double], Double, Int)]
    // bounded collect: the NumQueries-row query block (the F1 device)
    val qs = e.filter(_._1 < NumQueries).collect().sortBy(_._1)
    val partials = heapShortlist[
        (Long, Array[Double], Double, Int), (Long, Array[Double], Double, Int)](
      e, qs, _._1, _._1,
      score = (q, c) => {
        var acc = 0.0
        var j = 0
        while (j < q._2.length) { acc += q._2(j) * c._2(j); j += 1 }
        BigDecimal(acc / (q._3 * c._3))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      },
      r = TopK, desc = true,
      admit = (q, c) => c._4 != q._4)
    val qlab = qs.toSeq.map(q => (q._1, q._4)).toDF("qid", "q_label")
    rankTopK(partials.withColumnRenamed("score", "rcos"))
      .join(broadcast(qlab), "qid")
      .select(col("qid"), col("q_label"), col("nid"), col("rank"), col("rcos"))
  }

  /** F14 — in-engine RECALL@k report: per query, how many of the exact
    * (brute-force) top-k the IVF index actually returned — the metric that
    * decides every ANN deployment ("is nprobe=2 recall acceptable?") and
    * the reason the bench alone can't certify an index: fast and wrong is
    * easy. Both pipelines are the gated F1/F3 operators unchanged; the
    * report is a tiny (queries × k) left join + count.
    *
    * What it honestly measures here: IVF at nprobe=2 of [[IvfCells]]=16
    * scans ~12.5% of the corpus and recalls a mean ~0.41 at sf0.01 —
    * ~3.3× its scanned fraction (the trained cells capture real locality
    * even in these weakly-clustered synthetic embeddings; PlanSpec pins
    * the ≥2× advantage), yet far from 1.0 — which is precisely the
    * deployment-decision evidence this report exists to put in front of
    * the person choosing nprobe. All integer (hit counts, basis-point
    * floor division) — hash-exact; the oracle composes the SAME shared
    * ivf_ranked CTE chain the F3 gate replays.
    */
  def annRecallReport(s: SparkSession, d: String): DataFrame = {
    val brute = bruteTopK(s, d).select(col("qid"), col("nid"))
    val ivf = ivfTopK(s, d).select(col("qid"), col("nid"))
      .withColumn("hit", lit(1L))
    brute.join(ivf, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_bps", expr(s"(10000 * n_hits) DIV $TopK"))
  }

  /** F21 — IVF train-on-SAMPLE proof (round-12 verdict item 7): the
    * documented 100 TB path — Lloyd iterations over a deterministic 10%
    * splitmix64-residue sample of the corpus, FULL-corpus assignment under
    * the sampled centroids — demonstrated and gated, through the exact
    * conf (`graft.ann.trainSampleRows`) a deployment would set, so the
    * tested code path IS the production path (`ivfIndexDir`'s sampling
    * branch, previously spec-only). Output: F14's per-query recall report
    * under the sampled index. The oracle replays the sample filter
    * (splitmix64 in HUGEINT mod 2^64, the H6 chain), residue-class seeds
    * WITH the basis-vector fallback (a 10% sample can leave a residue
    * class empty — the Spark builder's fallback, now in SQL too), the
    * fixed-point Lloyd steps, and the full-corpus assignment. The spec
    * pins sampled recall within a stated band of full-corpus training.
    */
  def ivfSampledRecall(s: SparkSession, d: String): DataFrame = {
    val n = Tables.embeddings(s, d).count() // footer count, bounded
    val saved = s.conf.getOption("graft.ann.trainSampleRows")
    s.conf.set("graft.ann.trainSampleRows", (n / 10).toString)
    try {
      val brute = bruteTopK(s, d).select(col("qid"), col("nid"))
      val ivf = rankTopK(ivfCandsAt(s, d, 2)).select(col("qid"), col("nid"))
        .withColumn("hit", lit(1L))
      brute.join(ivf, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall_bps", expr(s"(10000 * n_hits) DIV $TopK"))
    } finally {
      saved match {
        case Some(v) => s.conf.set("graft.ann.trainSampleRows", v)
        case None => s.conf.unset("graft.ann.trainSampleRows")
      }
    }
  }

  /** The sampled-training replay: `es` (the 10% splitmix64 sample), `c0s`
    * (residue-class seeds from the sample, basis-vector fallback for empty
    * classes), three Lloyd steps over `es`, and `afs`/`cws` (full-corpus
    * assignment + centroid norms). Requires `e`/`en` in scope. */
  private def ivfSampledCtes: String = {
    import graft.plans.MixHash._
    val dim = 64
    s"""
    kp AS (SELECT GREATEST(
        (1048576 * ((SELECT COUNT(*) FROM e) // 10)) // (SELECT COUNT(*) FROM e),
        1) AS keep),
    sh0 AS (SELECT vec_id, CAST(vec_id AS HUGEINT) AS z FROM e),
    sh1 AS (SELECT vec_id, ${sqlMixStep1("z")} AS z FROM sh0),
    sh2 AS (SELECT vec_id, ${sqlMixStep2("z")} AS z FROM sh1),
    sh3 AS (SELECT vec_id, ${sqlMixStep3("z")} AS z FROM sh2),
    sh4 AS (SELECT vec_id, ${sqlMixStep4("z")} AS z FROM sh3),
    shs AS (SELECT vec_id, ${sqlToSigned("z")} AS hv FROM sh4),
    es AS (
      SELECT e.vec_id, e.v FROM e JOIN shs ON shs.vec_id = e.vec_id, kp
      WHERE ((shs.hv % 1048576) + 1048576) % 1048576 < kp.keep),
    c0s AS (
      SELECT CAST(r.cls AS INT) AS cell_id,
        COALESCE(s.cv, list_transform(range($dim),
          j -> CASE WHEN j = r.cls % $dim THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)) AS cv
      FROM (SELECT unnest(range($IvfCells)) AS cls) r
      LEFT JOIN (
        SELECT CAST(vec_id % $IvfCells AS BIGINT) AS cls, v AS cv FROM (
          SELECT vec_id, v, ROW_NUMBER() OVER (
            PARTITION BY vec_id % $IvfCells ORDER BY vec_id) AS rn FROM es) t
        WHERE rn = 1) s ON s.cls = r.cls),
    ${lloydCte("es", "c0s", "a1s", "m1s", "c1s")},
    ${lloydCte("es", "c1s", "a2s", "m2s", "c2s")},
    ${lloydCte("es", "c2s", "a3s", "m3s", "c3s")},
    ${assignCte("afs", "c3s")},
    cws AS (SELECT cell_id, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c3s)"""
  }

  private def ivfSampledRecallSql: String = s"""
    WITH
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    $ivfSampledCtes,
    ${ivfProbeCtes(2, "_smp", cw = "cws", af = "afs")},
    ${ivfRankedFrom("_smp", "ivf_ranked_smp")},
    bp AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
        ROUND(list_cosine_similarity(q.v, c.v), 6) AS rcos
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < $NumQueries),
    br AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM bp) t
      WHERE rank <= $TopK),
    h AS (
      SELECT b.qid, CAST(COUNT(iv.nid) AS BIGINT) AS n_hits
      FROM br b LEFT JOIN ivf_ranked_smp iv
        ON iv.qid = b.qid AND iv.nid = b.nid AND iv.rank <= $TopK
      GROUP BY b.qid)
    SELECT qid, n_hits, CAST((10000 * n_hits) // $TopK AS BIGINT) AS recall_bps
    FROM h ORDER BY qid"""

  private def annRecallReportSql: String = s"""
    WITH $ivfRankedCtes,
    bp AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
        ROUND(list_cosine_similarity(q.v, c.v), 6) AS rcos
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < $NumQueries),
    br AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM bp) t
      WHERE rank <= $TopK),
    h AS (
      SELECT b.qid, CAST(COUNT(iv.nid) AS BIGINT) AS n_hits
      FROM br b LEFT JOIN ivf_ranked iv
        ON iv.qid = b.qid AND iv.nid = b.nid AND iv.rank <= $TopK
      GROUP BY b.qid)
    SELECT qid, n_hits, CAST((10000 * n_hits) // $TopK AS BIGINT) AS recall_bps
    FROM h ORDER BY qid"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivfpq_topk" -> ivfpqTopK _,
    "ann_ivfpq_append" -> ivfpqAppendTopK _,
    "ann_ivfpq_delete" -> ivfpqDeleteTopK _,
    "ann_ivfpq_compact" -> ivfpqCompactReport _,
    "streaming_index_ingest" -> streamingIndexIngest _,
    "ann_matryoshka_recall" -> matryoshkaRecall _,
    "emb_gram_matrix" -> embGramMatrix _,
    "ann_recall_curve" -> annRecallCurve _,
    "ann_recall_report" -> annRecallReport _,
    "ann_ivf_sampled_recall" -> ivfSampledRecall _,
    "ann_hard_negatives" -> hardNegativesTopK _,
    "ann_mips_topk" -> mipsTopK _,
    "ann_binary_topk" -> binaryTopK _,
    "dedup_semantic" -> semanticDedup _,
    "ann_knn_join" -> knnJoin _,
    "ann_knn_join_recall" -> knnJoinRecall _,
    "ann_ivf_cell_report" -> ivfCellReport _,
    "ann_ivf_append" -> ivfAppendReport _,
    "ann_pq_append" -> pqAppendReport _,
    "emb_pq_distortion" -> pqDistortionReport _,
    "ann_pq_topk" -> pqTopK _,
    "ann_brute_topk" -> bruteTopK _,
    "ann_lsh_topk" -> lshTopK _,
    "ann_ivf_topk" -> ivfTopK _,
    "emb_quantize" -> embQuantize _,
    "ann_quantized_topk" -> quantizedTopK _,
    "ann_rerank_topk" -> rerankTopK _,
    "ann_filtered_topk" -> filteredTopK _,
    "ann_filtered_indexed" -> filteredIndexedTopK _
  )

  /** Full SQL twin of lshTopK. The hyperplanes are deterministic constants
    * (fixed-seed Gaussian), so the oracle embeds the exact same doubles as
    * literals (shortest-round-trip decimal => bit-identical parse) and
    * replays bucketing, hamming-1 probing, and scoring. Sign decisions
    * compare dot products ~O(1) in magnitude against 0, so last-ulp
    * reduction-order differences cannot flip them; the final cosine is
    * compared after 6 dp rounding exactly like the (green) brute oracle.
    */
  private def lshOracleSql: String = {
    val planes = hyperplanes(LshTables * LshPlanes, 64)
    val planeRows = (for (t <- 0 until LshTables; i <- 0 until LshPlanes) yield {
      val p = planes(t * LshPlanes + i)
      s"($t, $i, [${p.map(java.lang.Double.toString).mkString(",")}]::DOUBLE[])"
    }).mkString(",\n        ")
    s"""
    WITH pl(tbl, pi, pv) AS (VALUES
        $planeRows),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bk AS (
      SELECT e.vec_id, pl.tbl,
        SUM(CASE WHEN list_dot_product(e.v, pl.pv) >= 0
                 THEN (1::BIGINT << pi) ELSE 0 END) AS bucket
      FROM e, pl GROUP BY e.vec_id, pl.tbl),
    probes AS (
      SELECT vec_id AS qid, tbl AS qtbl,
        unnest(list_append(
          list_transform(range($LshPlanes), i -> xor(bucket, 1::BIGINT << i)),
          bucket)) AS probe
      FROM bk WHERE vec_id < $NumQueries),
    cand AS (
      SELECT DISTINCT p.qid, c.vec_id AS nid
      FROM probes p JOIN bk c
        ON c.tbl = p.qtbl AND c.bucket = p.probe AND c.vec_id <> p.qid)
    SELECT qid, nid, rank, rcos FROM (
      SELECT cand.qid, cand.nid,
        ROUND(list_cosine_similarity(q.embedding_d, n.embedding_d), 6) AS rcos,
        ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
          ROUND(list_cosine_similarity(q.embedding_d, n.embedding_d), 6) DESC,
          cand.nid) AS rank
      FROM cand
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding_d FROM embeddings) q
        ON q.vec_id = cand.qid
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding_d FROM embeddings) n
        ON n.vec_id = cand.nid) t
    WHERE rank <= $TopK ORDER BY qid, rank"""
  }

  /** The IVF k-means replay as a reusable CTE prefix (no WITH keyword):
    * defines `e` (double vectors), `en` (+norms), `c0`…`c3` (seeds + 3
    * fixed-point Lloyd steps) and `af` (the final full-corpus assignment) —
    * shared by [[ivfOracleSql]] and the SemDeDup twin so the two oracles
    * can never drift from each other's training.
    */
  private val minNormalSql = "2.2250738585072014e-308"

  /** One Lloyd step over training CTE `src`: assignment under centroid CTE
    * `cp` → new centroids `cn`. Shared text between the full-corpus chain
    * ([[ivfAssignCtes]]) and the sampled-training chain
    * ([[ivfSampledCtes]]) so the two replays cannot drift. */
  private def lloydCte(src: String, cp: String, a: String, m: String, cn: String): String = {
    val dim = 64
    s"""
    $a AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell_id AS cell,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.v, c.cv)
              / GREATEST(sqrt(list_dot_product(c.cv, c.cv)), $minNormalSql) DESC,
            c.cell_id) AS rn
        FROM $src e, $cp c) t WHERE rn = 1),
    $m AS (
      SELECT cell, j,
        SUM(CAST(ROUND(v[CAST(j + 1 AS INT)] * 16777216.0::DOUBLE) AS BIGINT)) AS sm,
        COUNT(*) AS cnt
      FROM $a, (SELECT unnest(range($dim)) AS j) GROUP BY cell, j),
    $cn AS (
      SELECT p.cell_id, COALESCE(n.cv, p.cv) AS cv
      FROM $cp p LEFT JOIN (
        SELECT cell AS cell_id,
          list(CAST(sm AS DOUBLE) / (16777216.0::DOUBLE * cnt) ORDER BY j) AS cv
        FROM $m GROUP BY cell) n ON n.cell_id = p.cell_id)"""
  }

  /** Assignment of `src` under centroid CTE `cents`, emitted as CTE
    * `name` — shared by both training chains' final step and the F26
    * base/batch assignments. */
  private def assignCte(name: String, cents: String, src: String = "e"): String = s"""
    $name AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell_id AS cell,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.v, c.cv)
              / GREATEST(sqrt(list_dot_product(c.cv, c.cv)), $minNormalSql) DESC,
            c.cell_id) AS rn
        FROM $src e, $cents c) t WHERE rn = 1)"""

  private def ivfAssignCtes: String = s"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    c0 AS (
      SELECT CAST(vec_id % $IvfCells AS INT) AS cell_id, v AS cv FROM (
        SELECT vec_id, v, ROW_NUMBER() OVER (
          PARTITION BY vec_id % $IvfCells ORDER BY vec_id) AS rn FROM e) t
      WHERE rn = 1),
    ${lloydCte("e", "c0", "a1", "m1", "c1")},
    ${lloydCte("e", "c1", "a2", "m2", "c2")},
    ${lloydCte("e", "c2", "a3", "m3", "c3")},
    ${assignCte("af", "c3")}"""

  /** Full SQL twin of ivfTopK: 3 unrolled Lloyd iterations (see
    * [[ivfAssignCtes]]). Bit-exact because centroids come from
    * order-independent integer sums (see IvfScale) — assignment/probe
    * argmaxes compare well-separated scores, so last-ulp dot-product
    * differences can't flip them.
    */
  /** Centroid norms + the nprobe-parameterized probe chain (routed$sfx,
    * cand$sfx) — shared text across the F3 gate, F14's report, the F16
    * curve sweep, and the F15 IVFPQ cascade so no replay can drift. */
  private def ivfCwCte: String =
    "cw AS (SELECT cell_id, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c3)"

  private def ivfProbeCtes(nprobe: Int, sfx: String,
      cw: String = "cw", af: String = "af",
      qWhere: String = s"q.vec_id < $NumQueries"): String = s"""
    routed$sfx AS (
      SELECT qid, qcell FROM (
        SELECT q.vec_id AS qid, c.cell_id AS qcell,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            list_dot_product(q.v, c.cv) / (q.nrm * c.cn) DESC, c.cell_id) AS crank
        FROM en q, $cw c WHERE $qWhere) t
      WHERE crank <= $nprobe),
    cand$sfx AS (
      SELECT r.qid, a.vec_id AS nid
      FROM routed$sfx r
      JOIN $af a ON a.cell = r.qcell AND a.vec_id <> r.qid)"""

  /** Exact-cosine ranking of a cand$sfx chain, emitted as CTE `name`. */
  private def ivfRankedFrom(sfx: String, name: String): String = s"""
    $name AS (
      SELECT cand$sfx.qid, cand$sfx.nid,
        ROUND(list_cosine_similarity(q.v, n.v), 6) AS rcos,
        ROW_NUMBER() OVER (PARTITION BY cand$sfx.qid ORDER BY
          ROUND(list_cosine_similarity(q.v, n.v), 6) DESC, cand$sfx.nid) AS rank
      FROM cand$sfx
      JOIN e q ON q.vec_id = cand$sfx.qid
      JOIN e n ON n.vec_id = cand$sfx.nid)"""

  /** IVF replay as a reusable CTE chain ending in `ivf_ranked`
    * (qid, nid, rcos, rank) — shared by the F3 gate and F14's recall
    * report so the two replays cannot drift.
    */
  private def ivfRankedCtes: String =
    s"""$ivfAssignCtes,
    $ivfCwCte,
    ${ivfProbeCtes(2, "")},
    ${ivfRankedFrom("", "ivf_ranked")}"""

  private def ivfOracleSql: String = s"""
    WITH $ivfRankedCtes
    SELECT qid, nid, rank, rcos FROM ivf_ranked
    WHERE rank <= $TopK ORDER BY qid, rank"""

  /** Full SQL twin of [[pqTopK]]: subvector decomposition, residue-class
    * seeds, [[PqIters]] unrolled fixed-point Lloyd steps per subspace,
    * assignment, fixed-point ADC tables, the PqSubs-lookup integer score, and the
    * exact rerank. Bit-exact: centroid components are integer-sum rationals
    * (the IvfScale argument), argmins compare identical doubles with
    * cell-index tie-breaks, and every score is a sum of longs scaled by
    * powers of two.
    */
  /** The PQ training/coding replay with every internal CTE name prefixed —
    * so the chain can compose with the IVF-assignment chain (whose c0…c3,
    * a1/a2, m1/m2, af names would otherwise collide) in the F15 IVFPQ oracle.
    * References only `e`/`en`, which the caller defines. Ends in
    * `${p}codes` (vec_id, codes, n2i) and `${p}dtab` (qid, dt).
    */
  private def pqChainCtes(p: String, src: String = "e"): String = {
    def lloyd(cp: String, a: String, m: String, cn: String): String = s"""
    $a AS (
      SELECT vec_id, sub, sv, cell FROM (
        SELECT t.vec_id, t.sub, t.sv, c.cell,
          ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
            list_dot_product(c.cv, c.cv) - 2 * list_dot_product(t.sv, c.cv),
            c.cell) AS rn
        FROM ${p}sv t JOIN $cp c ON c.sub = t.sub) x WHERE rn = 1),
    $m AS (
      SELECT sub, cell, j,
        SUM(CAST(ROUND(sv[CAST(j + 1 AS INT)] * 16777216.0) AS BIGINT)) AS sm,
        COUNT(*) AS cnt
      FROM $a, (SELECT unnest(range($PqSubDim)) AS j) GROUP BY sub, cell, j),
    $cn AS (
      SELECT p.sub, p.cell, COALESCE(n.cv, p.cv) AS cv
      FROM $cp p LEFT JOIN (
        SELECT sub, cell,
          list(CAST(sm AS DOUBLE) / (16777216.0 * cnt) ORDER BY j) AS cv
        FROM $m GROUP BY sub, cell) n
        ON n.sub = p.sub AND n.cell = p.cell)"""
    s"""${p}sv AS (
      SELECT vec_id, CAST(j AS INT) AS sub,
        v[CAST(j * $PqSubDim + 1 AS INT) : CAST(j * $PqSubDim + $PqSubDim AS INT)] AS sv
      FROM $src, (SELECT unnest(range($PqSubs)) AS j)),
    ${p}c0 AS (
      SELECT sub, CAST(vec_id % $PqK AS INT) AS cell, sv AS cv FROM (
        SELECT sub, vec_id, sv, ROW_NUMBER() OVER (
          PARTITION BY sub, vec_id % $PqK ORDER BY vec_id) AS rn FROM ${p}sv) t
      WHERE rn = 1),
    ${lloyd(s"${p}c0", s"${p}a1", s"${p}m1", s"${p}c1")},
    ${lloyd(s"${p}c1", s"${p}a2", s"${p}m2", s"${p}c2")},
    ${p}cb AS (
      SELECT sub, cell, cv,
        CAST(round(list_dot_product(cv, cv) * 1048576.0) AS BIGINT) AS ci2
      FROM ${p}c2),
    ${p}paf AS (
      SELECT vec_id, sub, cell FROM (
        SELECT t.vec_id, t.sub, c.cell,
          ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
            list_dot_product(c.cv, c.cv) - 2 * list_dot_product(t.sv, c.cv),
            c.cell) AS rn
        FROM ${p}sv t JOIN ${p}c2 c ON c.sub = t.sub) x WHERE rn = 1),
    ${p}codes AS (
      SELECT a.vec_id, list(a.cell ORDER BY a.sub) AS codes, SUM(b.ci2) AS n2i
      FROM ${p}paf a JOIN ${p}cb b ON b.sub = a.sub AND b.cell = a.cell
      GROUP BY a.vec_id),
    ${p}dtab AS (
      SELECT t.vec_id AS qid,
        list(CAST(round(list_dot_product(t.sv, c.cv) * 1048576.0) AS BIGINT)
             ORDER BY t.sub, c.cell) AS dt
      FROM ${p}sv t JOIN ${p}cb c ON c.sub = t.sub
      WHERE t.vec_id < $NumQueries GROUP BY t.vec_id)"""
  }

  /** The PqSubs-lookup integer ADC term over `q.dt` / `n.codes`. */
  private def adcTermsSql: String = (0 until PqSubs)
    .map(j => s"q.dt[${j * PqK} + n.codes[${j + 1}] + 1]").mkString(" + ")

  /** The shared exact-rerank tail: rank CTE `cand` (qid, nid) by 6 dp
    * cosine, cut at TopK. */
  private def rerankTailSql: String = s"""
    SELECT qid, nid, rank, rcos FROM (
      SELECT cand.qid, cand.nid,
        ROUND(list_cosine_similarity(qv.v, nv.v), 6) AS rcos,
        ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
          ROUND(list_cosine_similarity(qv.v, nv.v), 6) DESC, cand.nid) AS rank
      FROM cand
      JOIN e qv ON qv.vec_id = cand.qid
      JOIN e nv ON nv.vec_id = cand.nid) t
    WHERE rank <= $TopK ORDER BY qid, rank"""

  private def pqOracleSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    ${pqChainCtes("")},
    adc AS (
      SELECT q.qid, n.vec_id AS nid,
        ROUND((($adcTermsSql) / 1048576.0)
          / (qn.nrm * sqrt(n.n2i / 1048576.0)), 6) AS adc
      FROM dtab q
      JOIN en qn ON qn.vec_id = q.qid
      CROSS JOIN codes n
      WHERE n.vec_id <> q.qid),
    cand AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY adc DESC, nid) AS crank FROM adc) t
      WHERE crank <= $RerankCand)
    $rerankTailSql"""

  /** F15's full-cascade oracle: the SAME IVF-assignment chain the F3 gate
    * replays (routing at [[IvfPqNprobe]]) composed with the SAME PQ chain
    * the F10 gate replays (prefixed — names collide otherwise): ADC runs
    * only over routed-cell members, then the shared rerank tail. */
  private def ivfpqOracleSql: String = s"""
    WITH $ivfAssignCtes,
    $ivfCwCte,
    ${ivfProbeCtes(IvfPqNprobe, "_iq")},
    ${pqChainCtes("q")},
    adc AS (
      SELECT q.qid, n.vec_id AS nid,
        ROUND((($adcTermsSql) / 1048576.0)
          / (qn.nrm * sqrt(n.n2i / 1048576.0)), 6) AS adc
      FROM qdtab q
      JOIN en qn ON qn.vec_id = q.qid
      JOIN cand_iq ci ON ci.qid = q.qid
      JOIN qcodes n ON n.vec_id = ci.nid),
    cand AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY adc DESC, nid) AS crank FROM adc) t
      WHERE crank <= $RerankCand)
    $rerankTailSql"""

  /** F28's oracle: the F15 cascade replayed against a FULL RECOMPUTE of
    * the merged generation store — IVF chain and PQ chain trained on the
    * base split only (the F26/F27 CTE devices), both generations'
    * assignments/codes unioned, the full query block routed and
    * ADC-scored under the base-trained artifacts, exact rerank. */
  private def ivfpqAppendOracleSql: String = ivfpqIncrOracleSql(withDeletes = false)

  /** F29's oracle: F28's, with candidates restricted to LIVE ids (the
    * delete residue class removed — the tombstone anti-join's replay). */
  private def ivfpqDeleteOracleSql: String = ivfpqIncrOracleSql(withDeletes = true)

  private def ivfpqIncrOracleSql(withDeletes: Boolean): String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    ${graft.plans.MixHash.sqlSplitmixCtes(
      "e", "CAST(vec_id AS HUGEINT)", Seq("vec_id"), "pvs")},
    eb AS (
      SELECT e.vec_id, e.v FROM e JOIN pvs ON pvs.vec_id = e.vec_id
      WHERE pvs.h % $IvfIncrMod <> $IvfIncrRes),
    ed AS (
      SELECT e.vec_id, e.v FROM e JOIN pvs ON pvs.vec_id = e.vec_id
      WHERE pvs.h % $IvfIncrMod = $IvfIncrRes),
    c0 AS (
      SELECT CAST(vec_id % $IvfCells AS INT) AS cell_id, v AS cv FROM (
        SELECT vec_id, v, ROW_NUMBER() OVER (
          PARTITION BY vec_id % $IvfCells ORDER BY vec_id) AS rn FROM eb) t
      WHERE rn = 1),
    ${lloydCte("eb", "c0", "a1", "m1", "c1")},
    ${lloydCte("eb", "c1", "a2", "m2", "c2")},
    ${lloydCte("eb", "c2", "a3", "m3", "c3")},
    ${assignCte("afb", "c3", "eb")},
    ${assignCte("afd", "c3", "ed")},
    afu AS (SELECT * FROM afb UNION ALL SELECT * FROM afd),
    $ivfCwCte,
    ${ivfProbeCtes(IvfPqNprobe, "_ip", af = "afu")},
    ${pqChainCtes("q", "eb")},
    dsv AS (
      SELECT vec_id, CAST(j AS INT) AS sub,
        v[CAST(j * $PqSubDim + 1 AS INT) : CAST(j * $PqSubDim + $PqSubDim AS INT)] AS sv
      FROM ed, (SELECT unnest(range($PqSubs)) AS j)),
    dpaf AS (
      SELECT vec_id, sub, cell FROM (
        SELECT t.vec_id, t.sub, c.cell,
          ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
            list_dot_product(c.cv, c.cv) - 2 * list_dot_product(t.sv, c.cv),
            c.cell) AS rn
        FROM dsv t JOIN qc2 c ON c.sub = t.sub) x WHERE rn = 1),
    dcodes AS (
      SELECT a.vec_id, list(a.cell ORDER BY a.sub) AS codes, SUM(b.ci2) AS n2i
      FROM dpaf a JOIN qcb b ON b.sub = a.sub AND b.cell = a.cell
      GROUP BY a.vec_id),
    allcodes AS (
      SELECT * FROM qcodes UNION ALL SELECT * FROM dcodes),
    livecodes AS (${
      if (withDeletes) s"""
      SELECT a.vec_id, a.codes, a.n2i FROM allcodes a
      JOIN pvs p ON p.vec_id = a.vec_id
      WHERE p.h % $DeleteMod <> $DeleteRes"""
      else "\n      SELECT * FROM allcodes"}),
    fsv AS (
      SELECT vec_id, CAST(j AS INT) AS sub,
        v[CAST(j * $PqSubDim + 1 AS INT) : CAST(j * $PqSubDim + $PqSubDim AS INT)] AS sv
      FROM e, (SELECT unnest(range($PqSubs)) AS j)
      WHERE vec_id < $NumQueries),
    fdtab AS (
      SELECT t.vec_id AS qid,
        list(CAST(round(list_dot_product(t.sv, c.cv) * 1048576.0) AS BIGINT)
             ORDER BY t.sub, c.cell) AS dt
      FROM fsv t JOIN qcb c ON c.sub = t.sub
      GROUP BY t.vec_id),
    adc AS (
      SELECT q.qid, n.vec_id AS nid,
        ROUND((($adcTermsSql) / 1048576.0)
          / (qn.nrm * sqrt(n.n2i / 1048576.0)), 6) AS adc
      FROM fdtab q
      JOIN en qn ON qn.vec_id = q.qid
      JOIN cand_ip ci ON ci.qid = q.qid
      JOIN livecodes n ON n.vec_id = ci.nid),
    cand AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY adc DESC, nid) AS crank FROM adc) t
      WHERE crank <= $RerankCand)
    $rerankTailSql"""

  /** F30's oracle: the per-cell dirty stats recomputed from scratch —
    * the base-trained IVF chain, both generations' assignments, and the
    * delete residue counted per cell. */
  private def ivfpqCompactOracleSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ${graft.plans.MixHash.sqlSplitmixCtes(
      "e", "CAST(vec_id AS HUGEINT)", Seq("vec_id"), "pvs")},
    eb AS (
      SELECT e.vec_id, e.v FROM e JOIN pvs ON pvs.vec_id = e.vec_id
      WHERE pvs.h % $IvfIncrMod <> $IvfIncrRes),
    ed AS (
      SELECT e.vec_id, e.v FROM e JOIN pvs ON pvs.vec_id = e.vec_id
      WHERE pvs.h % $IvfIncrMod = $IvfIncrRes),
    c0 AS (
      SELECT CAST(vec_id % $IvfCells AS INT) AS cell_id, v AS cv FROM (
        SELECT vec_id, v, ROW_NUMBER() OVER (
          PARTITION BY vec_id % $IvfCells ORDER BY vec_id) AS rn FROM eb) t
      WHERE rn = 1),
    ${lloydCte("eb", "c0", "a1", "m1", "c1")},
    ${lloydCte("eb", "c1", "a2", "m2", "c2")},
    ${lloydCte("eb", "c2", "a3", "m3", "c3")},
    ${assignCte("afb", "c3", "eb")},
    ${assignCte("afd", "c3", "ed")},
    gb AS (
      SELECT a.cell, COUNT(*) AS n_gen0,
        SUM(CASE WHEN p.h % $DeleteMod = $DeleteRes THEN 1 ELSE 0 END) AS d0
      FROM afb a JOIN pvs p ON p.vec_id = a.vec_id GROUP BY 1),
    gd AS (
      SELECT a.cell, COUNT(*) AS n_gen1,
        SUM(CASE WHEN p.h % $DeleteMod = $DeleteRes THEN 1 ELSE 0 END) AS d1
      FROM afd a JOIN pvs p ON p.vec_id = a.vec_id GROUP BY 1),
    per AS (
      SELECT COALESCE(gb.cell, gd.cell) AS cell,
        COALESCE(gb.n_gen0, 0) AS n_gen0, COALESCE(gd.n_gen1, 0) AS n_gen1,
        COALESCE(gb.d0, 0) + COALESCE(gd.d1, 0) AS n_dead
      FROM gb FULL OUTER JOIN gd ON gd.cell = gb.cell)
    SELECT CAST(cell AS INTEGER) AS cell,
      CAST(n_gen0 AS BIGINT) AS n_gen0,
      CAST(n_gen1 AS BIGINT) AS n_gen1,
      CAST(n_dead AS BIGINT) AS n_dead,
      CAST(n_gen0 + n_gen1 - n_dead AS BIGINT) AS n_live,
      CAST((1000 * (n_dead + n_gen1)) // (n_gen0 + n_gen1) AS BIGINT)
        AS dirty_permille,
      CAST(CASE WHEN (1000 * (n_dead + n_gen1)) // (n_gen0 + n_gen1)
          > $CompactPermille
        THEN 1 ELSE 0 END AS BIGINT) AS compact_flag
    FROM per ORDER BY cell"""

  /** C39's oracle: the streamed store's per-cell balance recomputed from
    * the splitmix splits — the 4 sub-batch residues partition the mod-8
    * arrival class exactly, so the streamed union must equal the batch
    * delta assignment. */
  private def streamingIndexIngestSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ${graft.plans.MixHash.sqlSplitmixCtes(
      "e", "CAST(vec_id AS HUGEINT)", Seq("vec_id"), "pvs")},
    eb AS (
      SELECT e.vec_id, e.v FROM e JOIN pvs ON pvs.vec_id = e.vec_id
      WHERE pvs.h % $IvfIncrMod <> $IvfIncrRes),
    ed AS (
      SELECT e.vec_id, e.v FROM e JOIN pvs ON pvs.vec_id = e.vec_id
      WHERE pvs.h % $IvfIncrMod = $IvfIncrRes),
    c0 AS (
      SELECT CAST(vec_id % $IvfCells AS INT) AS cell_id, v AS cv FROM (
        SELECT vec_id, v, ROW_NUMBER() OVER (
          PARTITION BY vec_id % $IvfCells ORDER BY vec_id) AS rn FROM eb) t
      WHERE rn = 1),
    ${lloydCte("eb", "c0", "a1", "m1", "c1")},
    ${lloydCte("eb", "c1", "a2", "m2", "c2")},
    ${lloydCte("eb", "c2", "a3", "m3", "c3")},
    ${assignCte("afb", "c3", "eb")},
    ${assignCte("afd", "c3", "ed")},
    gb AS (SELECT cell, COUNT(*) AS n_base FROM afb GROUP BY 1),
    gd AS (SELECT cell, COUNT(*) AS n_streamed FROM afd GROUP BY 1)
    SELECT CAST(COALESCE(gb.cell, gd.cell) AS INTEGER) AS cell,
      CAST(COALESCE(gb.n_base, 0) AS BIGINT) AS n_base,
      CAST(COALESCE(gd.n_streamed, 0) AS BIGINT) AS n_streamed,
      CAST(COALESCE(gb.n_base, 0) + COALESCE(gd.n_streamed, 0) AS BIGINT)
        AS n_total,
      CAST((1000 * COALESCE(gd.n_streamed, 0))
        // (COALESCE(gb.n_base, 0) + COALESCE(gd.n_streamed, 0)) AS BIGINT)
        AS streamed_permille
    FROM gb FULL OUTER JOIN gd ON gd.cell = gb.cell ORDER BY 1"""

  /** F16's oracle: brute reference once, then per-nprobe probe chains
    * (shared generators) aggregated to one row each. */
  private def recallCurveSql: String = {
    val sweeps = RecallCurveNprobes.map { np =>
      s"""${ivfProbeCtes(np, s"_n$np")},
      ${ivfRankedFrom(s"_n$np", s"ranked_n$np")},
      agg_n$np AS (
        SELECT CAST($np AS INTEGER) AS nprobe,
          (SELECT CAST(COUNT(iv.nid) AS BIGINT)
           FROM br b LEFT JOIN ranked_n$np iv
             ON iv.qid = b.qid AND iv.nid = b.nid AND iv.rank <= $TopK) AS n_hits,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_n$np) AS n_scanned)"""
    }
    s"""
    WITH $ivfAssignCtes,
    $ivfCwCte,
    bp AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
        ROUND(list_cosine_similarity(q.v, c.v), 6) AS rcos
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < $NumQueries),
    br AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM bp) t
      WHERE rank <= $TopK),
    nn AS (SELECT COUNT(*) - 1 AS tot FROM e),
    ${sweeps.mkString(",\n")}
    SELECT nprobe, n_hits,
      CAST((10000 * n_hits) // (${NumQueries} * $TopK) AS BIGINT) AS recall_bps,
      n_scanned,
      CAST((10000 * n_scanned) // (${NumQueries} * (SELECT tot FROM nn)) AS BIGINT)
        AS scanned_bps
    FROM (${RecallCurveNprobes.map(np => s"SELECT * FROM agg_n$np").mkString(" UNION ALL ")})
    ORDER BY nprobe"""
  }

  val oracles: Map[String, String] = Map(
    "dedup_semantic" -> semanticDedupSql,
    "ann_knn_join" -> knnJoinSql,
    "ann_knn_join_recall" -> knnJoinRecallSql,
    "ann_ivf_cell_report" -> ivfCellReportSql,
    "ann_ivf_append" -> ivfAppendReportSql,
    "ann_pq_append" -> pqAppendReportSql,
    "emb_pq_distortion" -> pqDistortionSql,
    "ann_pq_topk" -> pqOracleSql,
    "ann_ivfpq_topk" -> ivfpqOracleSql,
    "ann_ivfpq_append" -> ivfpqAppendOracleSql,
    "ann_ivfpq_delete" -> ivfpqDeleteOracleSql,
    "ann_ivfpq_compact" -> ivfpqCompactOracleSql,
    "streaming_index_ingest" -> streamingIndexIngestSql,
    "ann_matryoshka_recall" -> matryoshkaRecallSql,
    "emb_gram_matrix" -> embGramMatrixSql,
    "ann_recall_curve" -> recallCurveSql,
    "emb_quantize" -> """
      WITH s AS (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings),
      u AS (
        SELECT vec_id, scale,
          unnest(embedding) AS x, unnest(range(len(embedding))) AS i
        FROM s)
      SELECT vec_id, i,
        CASE WHEN scale > 0
          THEN CAST(round(127.0 * CAST(x AS DOUBLE) / scale) AS BIGINT)
          ELSE 0 END AS q,
        scale
      FROM u ORDER BY vec_id, i""",
    "ann_lsh_topk" -> lshOracleSql,
    "ann_ivf_topk" -> ivfOracleSql,
    "ann_recall_report" -> annRecallReportSql,
    "ann_ivf_sampled_recall" -> ivfSampledRecallSql,
    "ann_quantized_topk" -> s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      sc AS (
        SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale
        FROM v),
      q AS (
        SELECT vec_id,
          CASE WHEN scale > 0
            THEN list_transform(v, x -> round(127.0 * x / scale))
            ELSE list_transform(v, x -> 0.0) END AS q
        FROM sc),
      n AS (
        -- integer-valued doubles: every sum below is exact (≪ 2^53)
        SELECT vec_id, q, list_dot_product(q, q) AS qn2 FROM q),
      p AS (
        SELECT a.vec_id AS qid, c.vec_id AS nid,
          ROUND(list_dot_product(a.q, c.q) / (sqrt(a.qn2) * sqrt(c.qn2)), 6) AS rcos
        FROM n a JOIN n c ON c.vec_id <> a.vec_id
        WHERE a.vec_id < $NumQueries)
      SELECT qid, nid, rank, rcos FROM (
        SELECT qid, nid, rcos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM p)
      WHERE rank <= $TopK ORDER BY qid, rank""",
    "ann_rerank_topk" -> s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      sc AS (
        SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale
        FROM v),
      q AS (
        SELECT vec_id,
          CASE WHEN scale > 0
            THEN list_transform(v, x -> round(127.0 * x / scale))
            ELSE list_transform(v, x -> 0.0) END AS q
        FROM sc),
      n AS (
        SELECT vec_id, q, list_dot_product(q, q) AS qn2 FROM q),
      c8 AS (
        SELECT a.vec_id AS qid, c.vec_id AS nid,
          ROUND(list_dot_product(a.q, c.q) / (sqrt(a.qn2) * sqrt(c.qn2)), 6) AS rcos8
        FROM n a JOIN n c ON c.vec_id <> a.vec_id
        WHERE a.vec_id < $NumQueries),
      cand AS (
        SELECT qid, nid FROM (
          SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos8 DESC, nid) AS crank
          FROM c8)
        WHERE crank <= $RerankCand)
      SELECT qid, nid, rank, rcos FROM (
        SELECT cand.qid, cand.nid,
          ROUND(list_cosine_similarity(qv.v, nv.v), 6) AS rcos,
          ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
            ROUND(list_cosine_similarity(qv.v, nv.v), 6) DESC, cand.nid) AS rank
        FROM cand
        JOIN v qv ON qv.vec_id = cand.qid
        JOIN v nv ON nv.vec_id = cand.nid) t
      WHERE rank <= $TopK ORDER BY qid, rank""",
    "ann_mips_topk" -> s"""
      WITH v AS (
        SELECT vec_id,
          list_transform(embedding,
            x -> CAST(x AS DOUBLE) * (1 + (vec_id % 7) / 4.0)) AS v
        FROM embeddings),
      sc AS (
        SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale
        FROM v),
      q AS (
        SELECT vec_id, v,
          CASE WHEN scale > 0
            THEN list_transform(v, x -> round(127.0 * x / scale))
            ELSE list_transform(v, x -> 0.0) END AS q,
          CAST(round(scale * 1024) AS BIGINT) AS fix
        FROM sc),
      sl AS (
        SELECT qid, nid FROM (
          SELECT a.vec_id AS qid, c.vec_id AS nid,
            CAST(list_dot_product(a.q, c.q) AS BIGINT) * a.fix * c.fix AS iscore,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id
              ORDER BY CAST(list_dot_product(a.q, c.q) AS BIGINT) * a.fix * c.fix DESC,
                c.vec_id) AS srank
          FROM q a JOIN q c ON c.vec_id <> a.vec_id
          WHERE a.vec_id < $NumQueries) t
        WHERE srank <= $MipsShortlist),
      r AS (
        SELECT sl.qid, sl.nid,
          ROUND(list_dot_product(a.v, c.v), 6) AS rip
        FROM sl JOIN v a ON a.vec_id = sl.qid JOIN v c ON c.vec_id = sl.nid)
      SELECT qid, nid, rank, rip FROM (
        SELECT qid, nid, rip,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rip DESC, nid) AS rank
        FROM r) t
      WHERE rank <= $TopK ORDER BY qid, rank""",
    "ann_binary_topk" -> s"""
      WITH p AS (
        SELECT vec_id,
          CAST(list_sum(list_transform(embedding[1:32],
            (x,i) -> CASE WHEN x > 0 THEN 1::BIGINT << (i-1) ELSE 0 END)) AS BIGINT) AS w0,
          CAST(list_sum(list_transform(embedding[33:64],
            (x,i) -> CASE WHEN x > 0 THEN 1::BIGINT << (i-1) ELSE 0 END)) AS BIGINT) AS w1
        FROM embeddings),
      sl AS (
        SELECT qid, nid, hamming FROM (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
            bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1)) AS hamming,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1)),
                c.vec_id) AS hrank
          FROM p c JOIN p q ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id) t
        WHERE hrank <= $BinaryShortlist),
      r AS (
        SELECT sl.qid, sl.nid, sl.hamming,
          ROUND(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
            CAST(ce.embedding AS DOUBLE[])), 6) AS rcos
        FROM sl JOIN embeddings ce ON ce.vec_id = sl.nid
                JOIN embeddings qe ON qe.vec_id = sl.qid)
      SELECT qid, nid, rank, hamming, rcos FROM (
        SELECT qid, nid, hamming, rcos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM r) t
      WHERE rank <= $TopK ORDER BY qid, rank""",
    "ann_hard_negatives" -> s"""
      WITH p AS (
        SELECT q.vec_id AS qid, q.label AS q_label, c.vec_id AS nid,
          ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS rcos
        FROM embeddings q JOIN embeddings c ON c.label <> q.label
        WHERE q.vec_id < $NumQueries)
      SELECT qid, q_label, nid, rank, rcos FROM (
        SELECT qid, q_label, nid, rcos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM p) t
      WHERE rank <= $TopK ORDER BY qid, rank""",
    "ann_brute_topk" -> s"""
      WITH p AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
          ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS rcos
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < $NumQueries)
      SELECT qid, nid, rank, rcos FROM (
        SELECT qid, nid, rcos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM p) t
      WHERE rank <= $TopK ORDER BY qid, rank""",
    "ann_filtered_topk" -> s"""
      WITH p AS (
        SELECT q.vec_id AS qid, q.label AS label, c.vec_id AS nid,
          ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS rcos
        FROM embeddings q JOIN embeddings c
          ON c.label = q.label AND c.vec_id <> q.vec_id
        WHERE q.vec_id < $NumQueries)
      SELECT qid, label, nid, rank, rcos FROM (
        SELECT qid, label, nid, rcos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos DESC, nid) AS rank
        FROM p) t
      WHERE rank <= $FilteredTopK ORDER BY qid, rank""",
    "ann_filtered_indexed" -> s"""
      WITH v AS (
        SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      sc AS (
        SELECT vec_id, label, v,
          list_max(list_transform(v, x -> abs(x))) AS scale
        FROM v),
      q AS (
        SELECT vec_id, label,
          CASE WHEN scale > 0
            THEN list_transform(v, x -> round(127.0 * x / scale))
            ELSE list_transform(v, x -> 0.0) END AS q
        FROM sc),
      n AS (
        -- integer-valued doubles: every sum below is exact (≪ 2^53)
        SELECT vec_id, label, q, list_dot_product(q, q) AS qn2 FROM q),
      c8 AS (
        SELECT a.vec_id AS qid, a.label AS label, c.vec_id AS nid,
          ROUND(list_dot_product(a.q, c.q) / (sqrt(a.qn2) * sqrt(c.qn2)), 6) AS rcos8
        FROM n a JOIN n c ON c.label = a.label AND c.vec_id <> a.vec_id
        WHERE a.vec_id < $NumQueries),
      cand AS (
        SELECT qid, label, nid FROM (
          SELECT qid, label, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rcos8 DESC, nid) AS crank
          FROM c8)
        WHERE crank <= $RerankCand)
      SELECT qid, label, nid, rank, rcos FROM (
        SELECT cand.qid, cand.label, cand.nid,
          ROUND(list_cosine_similarity(qv.v, nv.v), 6) AS rcos,
          ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
            ROUND(list_cosine_similarity(qv.v, nv.v), 6) DESC, cand.nid) AS rank
        FROM cand
        JOIN v qv ON qv.vec_id = cand.qid
        JOIN v nv ON nv.vec_id = cand.nid) t
      WHERE rank <= $FilteredTopK ORDER BY qid, rank"""
  )
}
