package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, BpeTrain, Bucketed, Graph, Tables, UlmTrain}

/** The stored-artifact staleness contract (round-9 verdict item 1): every
  * per-JVM cache — the F3/F5 ANN indexes, the B57 edge table, the E7/E8
  * dedup artifacts, B22's bucketed facts, the events ts-type/era probes —
  * keys on a METADATA FINGERPRINT of its input dataset, so overwriting the
  * data in place forces a rebuild instead of serving answers derived from
  * the old corpus.
  */
class ArtifactsSpec extends SparkSpec {

  private def copyFile(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst).getParent)
    Files.copy(Paths.get(src), Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
  }

  test("fingerprint is stable on unchanged data and moves on overwrite") {
    val dir = Files.createTempDirectory("graft-fp").toString
    copyFile(s"$sf/events.parquet", s"$dir/events.parquet")
    val f1 = Artifacts.fingerprint(spark, s"$dir/events.parquet")
    val f2 = Artifacts.fingerprint(spark, s"$dir/events.parquet")
    assert(f1 == f2)
    // overwrite with different content (length changes → fingerprint must)
    Tables.events(spark, sf).limit(10).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val f3 = Artifacts.fingerprint(spark, s"$dir/events.parquet")
    assert(f3 != f1)
    // absent path fingerprints distinctly rather than throwing
    val fAbsent = Artifacts.fingerprint(spark, s"$dir/nope.parquet")
    assert(fAbsent != f1)
  }

  test("fingerprint catches a same-length same-mtime rewrite via the tail hint") {
    // the (length, mtime) metadata pair cannot see this rewrite: identical
    // byte count, mtime forced back to the original tick. Only the local-FS
    // content hint (last 16 bytes) distinguishes the generations.
    val dir = Files.createTempDirectory("graft-fp-tail").toString
    val f = Paths.get(dir, "data.bin")
    Files.write(f, Array.fill[Byte](64)('a'))
    val t0 = Files.getLastModifiedTime(f)
    val f1 = Artifacts.fingerprint(spark, dir)
    Files.write(f, Array.fill[Byte](64)('b'))
    Files.setLastModifiedTime(f, t0)
    assert(Files.getLastModifiedTime(f) == t0 && Files.size(f) == 64)
    val f2 = Artifacts.fingerprint(spark, dir)
    assert(f2 != f1, "same-length same-mtime rewrite went undetected")
  }

  test("superseded artifact generations survive rebuilds until swept on demand") {
    // per-generation discipline: a rebuild under a moved fingerprint must
    // NOT delete the old generation's dir (lazily-held readers), but a
    // long-lived session can reclaim superseded generations deliberately.
    val dataDir = Files.createTempDirectory("graft-sweep-data").toString
    val idxBase = Files.createTempDirectory("graft-sweep-idx").toString
    copyFile(s"$sf/embeddings.parquet", s"$dataDir/embeddings.parquet")
    spark.conf.set("graft.int8.dir", idxBase)
    try {
      def idxDirs = new java.io.File(idxBase).listFiles().map(_.getName).toSet
      assert(graft.similarity.Ann.quantizedTopK(spark, dataDir).count() > 0)
      val gen1 = idxDirs
      assert(gen1.nonEmpty)
      // regenerate the source in place → fingerprint moves → gen2 built,
      // gen1 left on disk
      Tables.embeddings(spark, sf).filter(col("vec_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
      assert(graft.similarity.Ann.quantizedTopK(spark, dataDir).count() > 0)
      assert(gen1.subsetOf(idxDirs) && idxDirs.size > gen1.size,
        s"superseded generation deleted eagerly: gen1=$gen1 now=$idxDirs")
      // the sweep reclaims EXACTLY the superseded generations
      val dropped = Artifacts.sweepStale(spark)
      assert(dropped.nonEmpty)
      assert((idxDirs & gen1).isEmpty, s"gen1 survived the sweep: $idxDirs")
      // live generation untouched and still serving
      assert(graft.similarity.Ann.quantizedTopK(spark, dataDir).count() > 0)
      // idempotent: nothing left to sweep
      assert(Artifacts.sweepStale(spark).isEmpty)
    } finally {
      spark.conf.unset("graft.int8.dir")
    }
  }

  test("sweepStale never deletes a live generation after a fingerprint cycle") {
    // deterministic slugs mean a fingerprint cycle A→B→A rebuilds into the
    // SAME dir that was recorded as superseded during the A→B transition;
    // installing the new entry must take that dir back out of the sweep set
    val map = new java.util.concurrent.ConcurrentHashMap[String, Artifacts.Built]()
    val base = Files.createTempDirectory("graft-fp-cycle").toString
    def build(fp: String): String = {
      val p = Paths.get(base, "gen-" + fp)
      Files.createDirectories(p)
      p.toString
    }
    val locA1 = Artifacts.cachedLocation(map, "cyc", "A")(build)
    val locB = Artifacts.cachedLocation(map, "cyc", "B")(build)
    val locA2 = Artifacts.cachedLocation(map, "cyc", "A")(build)
    assert(locA1 == locA2 && locA1 != locB)
    Artifacts.sweepStale(spark)
    assert(Files.exists(Paths.get(locA2)),
      "sweep deleted the LIVE generation after an A→B→A fingerprint cycle")
    assert(!Files.exists(Paths.get(locB)), "superseded generation survived the sweep")
  }

  test("an artifact follows a shaping conf back after the conf is restored") {
    // (conf, flipped value, input tables, answer): answer on a copy of the
    // inputs with the conf flipped, restore the conf and answer again — the
    // second answer must equal the answer on a fresh copy. A stored
    // artifact that leaves the conf out of its identity (directly or through
    // an upstream artifact it reads) serves the flipped generation instead.
    def key(k: String)(dir: String): Seq[String] =
      SparkEntry.queries(k)(spark, dir).collect().map(_.toString).sorted.toSeq
    // the z-order scan's rows are a pure re-ordering of orders, the same
    // under any file count, so its answer includes the layout's file count
    def zorderScan(dir: String): Seq[String] = key("layout_zorder_scan")(dir) :+
      s"files=${spark.read.parquet(Analytics.zorderLayoutDir(spark, dir)).inputFiles.length}"
    val n = Tables.embeddings(spark, sf).count()
    val cases = Seq[(String, String, Seq[String], String => Seq[String])](
      ("graft.ann.trainSampleRows", (n / 10).toString, Seq("embeddings"), key("ann_ivfpq_topk")),
      ("graft.ivf.cells", "8", Seq("embeddings"), key("ann_ivf_topk")),
      ("graft.zorder.files", "4", Seq("orders"), zorderScan),
      ("graft.basket.maxItems", "2", Seq("lineitem"), key("graph_pagerank")),
      ("graft.ann.compactPermille", "50", Seq("embeddings"), key("ann_ivfpq_compact")))
    cases.foreach { case (conf, flipped, tables, answer) =>
      def copy(): String = {
        val dir = Files.createTempDirectory("graft-shaping").toString
        tables.foreach(t => copyFile(s"$sf/$t.parquet", s"$dir/$t.parquet"))
        dir
      }
      val dir = copy()
      assert(spark.conf.getOption(conf).isEmpty, s"$conf is already set")
      spark.conf.set(conf, flipped)
      val shaped = try answer(dir) finally spark.conf.unset(conf)
      val fresh = answer(copy())
      val moved = shaped != fresh
      assert(moved, s"$conf=$flipped does not change the answer, so this case shows nothing")
      val followed = answer(dir) == fresh
      assert(followed, s"an artifact shaped by $conf=$flipped was served after the conf was restored")
    }
  }

  test("persisted _fingerprint validates tables across a (simulated) fresh JVM") {
    val tbl = "graft_artifacts_spec_fp_tbl"
    // the _fingerprint file lands inside the table's warehouse dir
    Files.createDirectories(Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl))
    Artifacts.markTableBuilt(spark, tbl, "fp_v1")
    assert(!Artifacts.tableStale(spark, tbl, "fp_v1"))
    // fresh JVM: the in-memory ledger is empty, but the persisted file
    // validates the existing artifact instead of forcing a rebuild
    Artifacts.clearTableLedgerForTest()
    assert(!Artifacts.tableStale(spark, tbl, "fp_v1"))
    // ...and still catches a moved input fingerprint
    Artifacts.clearTableLedgerForTest()
    assert(Artifacts.tableStale(spark, tbl, "fp_v2"))
  }

  test("events ts-type and era probes re-run after an in-place overwrite") {
    val dir = Files.createTempDirectory("graft-stale-ev").toString
    copyFile(s"$sf/events.parquet", s"$dir/events.parquet")
    assert(Tables.events(spark, dir).limit(1).count() == 1) // probes pass
    // overwrite IN PLACE with a 1000x-shrunk file: with a path-only cache
    // the recorded era pass would mask the corruption; the fingerprint key
    // must re-check and crash
    Tables.events(spark, sf)
      .select(col("event_id"),
        timestamp_micros(expr("unix_micros(ts) DIV 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("era check failed"))
  }

  test("B57 edge artifact rebuilds when lineitem is regenerated in place") {
    val dir = Files.createTempDirectory("graft-stale-gr").toString
    copyFile(s"$sf/lineitem.parquet", s"$dir/lineitem.parquet")
    val n1 = Graph.pageRank(spark, dir).count()
    assert(n1 > 0)
    // regenerate with a disjoint slice: half the orders → different graph
    Tables.lineitem(spark, sf).filter(col("l_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val n2 = Graph.pageRank(spark, dir).count()
    assert(n2 != n1, "stale co-purchase edge artifact served after overwrite")
  }

  test("F5 int8 index rebuilds when embeddings are regenerated in place") {
    val dir = Files.createTempDirectory("graft-stale-i8").toString
    copyFile(s"$sf/embeddings.parquet", s"$dir/embeddings.parquet")
    val n1 = graft.similarity.Ann.quantizedTopK(spark, dir).count()
    assert(n1 > 0)
    // shift every vec_id past the query filter: a rebuilt index yields an
    // empty query set; a stale one would keep answering with the old ids
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val n2 = graft.similarity.Ann.quantizedTopK(spark, dir).count()
    assert(n2 == 0, s"stale int8 index served after overwrite ($n2 rows)")
  }

  test("B22 bucketed facts rebuild when the source tables change in place") {
    val dir = Files.createTempDirectory("graft-stale-bkt").toString
    copyFile(s"$sf/lineitem.parquet", s"$dir/lineitem.parquet")
    copyFile(s"$sf/orders.parquet", s"$dir/orders.parquet")
    val r1 = Bucketed.bucketedJoin(spark, dir).agg(sum(col("n"))).head.getLong(0)
    Tables.lineitem(spark, sf).filter(col("l_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r2 = Bucketed.bucketedJoin(spark, dir).agg(sum(col("n"))).head.getLong(0)
    assert(r2 < r1, "stale bucketed fact tables served after overwrite")
  }

  test("learned tokenizer tables and their memoized consumers follow an in-place overwrite") {
    val dir = Files.createTempDirectory("graft-stale-tok").toString
    copyFile(s"$sf/documents.parquet", s"$dir/documents.parquet")
    // the consumers train and memoize all three tables
    Seq(UlmTrain.fertilityUlm(spark, dir), BpeTrain.learnedTokens(spark, dir),
      BpeTrain.fertilityPretok(spark, dir)).foreach(df => assert(df.count() > 0))
    def stored() = Seq(UlmTrain.ulmTrainVocab(spark, dir), BpeTrain.trainMerges(spark, dir),
      BpeTrain.trainMergesPretok(spark, dir)).map(_.collect().map(_.toSeq).toSeq.sortBy(_.toString))
    def memoized() = Seq(UlmTrain.learnedVocab(spark, dir), BpeTrain.learnedRules(spark, dir),
      BpeTrain.learnedRulesPretok(spark, dir))
    // what each memo must equal: the final survivors of the ULM trajectory,
    // and each rule table's (sym_a, sym_b, merged) columns in round order
    def derived(t: Seq[Seq[Seq[Any]]]) = {
      val vocab = t(0).filter(r => r(0) == UlmTrain.Rounds && r(4) == 1L)
        .map(r => (r(1).asInstanceOf[Long], r(2).asInstanceOf[String])).sortBy(_._1)
      def rules(rs: Seq[Seq[Any]]) = {
        val o = rs.sortBy(_(0).asInstanceOf[Int]).map(_.slice(1, 4).map(_.asInstanceOf[Long].toInt))
        (o.map(_(0)), o.map(_(1)), o.map(_(2)))
      }
      Seq(vocab, rules(t(1)), rules(t(2)))
    }
    val before = stored()
    assert(memoized() == derived(before))
    Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = stored()
    Seq("ulm_train_vocab", "bpe_train_merges", "bpe_train_merges_pretok").zipWithIndex
      .foreach { case (k, i) => assert(after(i) != before(i), s"stale $k served after overwrite") }
    assert(memoized() == derived(after), "a memoized table did not follow its retrained artifact")
  }
}
