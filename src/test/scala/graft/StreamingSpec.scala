package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{Relational, Tables}
import graft.streaming.Streams

/** Batch/stream parity: the streaming operators must produce exactly the
  * batch operators' results on the same events. A far-future "flush" file is
  * streamed as a second micro-batch to advance the watermark (append mode
  * only emits finalized windows) and close open sessions.
  */
class StreamingSpec extends SparkSpec {
  import SparkSpecBase.spark.implicits._

  private val flushTs = "2030-01-01 00:00:00"

  /** Stage events as parquet with µs timestamps + a flush file; one file per
    * micro-batch (file order by name: 0_events before 1_flush).
    */
  private def stageDir(): String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    ev.coalesce(1).write.parquet(s"$dir/batch0")
    val users = ev.select("user_id").distinct()
    users.select(lit(-1L).as("event_id"), expr(s"timestamp'$flushTs'").as("ts"),
        col("user_id"), lit("flush").as("event_type"), lit(0.0).as("value"))
      .coalesce(1).write.parquet(s"$dir/batch1")
    val staged = Files.createTempDirectory("graft-stream-in").toString
    // file source triggers in lexicographic-discovery order; copy batch0/1 parts
    def copyPart(sub: String, name: String): Unit = {
      val part = new java.io.File(s"$dir/$sub").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(s"$staged/$name"))
    }
    copyPart("batch0", "0_events.parquet")
    copyPart("batch1", "1_flush.parquet")
    // FileStreamSource orders micro-batches by modification time, not name:
    // force events strictly before flush
    val now = System.currentTimeMillis()
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$staged/0_events.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(now - 60000))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$staged/1_flush.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(now))
    staged
  }

  private def streamFrom(staged: String) =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)

  test("C3: streaming windowed agg == batch events_window_agg") {
    val staged = stageDir()
    val q = Streams.windowedAgg(streamFrom(staged))
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("win_out")
      .filter(col("event_type") =!= "flush")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = Relational.eventsWindowAgg(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("C25: late rows beyond the watermark are provably dropped, count pinned") {
    import graft.operators.Tables
    val out = Streams.streamingLateData(spark, sf)
    val ev = Tables.events(spark, sf)
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val lateCut = new java.sql.Timestamp(maxTs.getTime - 3L * 3600 * 1000)
    val wmCut = new java.sql.Timestamp(maxTs.getTime - 1L * 3600 * 1000)
    val isLate = pmod(col("event_id"), lit(10L)) === 0 && col("ts") <= lit(lateCut)
    val nLate = ev.filter(isLate).count()
    assert(nLate > 0, "no planted late rows at this SF — gate vacuous")
    // the emitted windows must aggregate ON-TIME rows only, cut at the
    // final watermark — exactly the oracle's definition, recomputed here
    // from the batch table with independent DataFrame code
    val expected = ev.filter(!isLate)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.operators.Exact.dsum(col("value")).as("sum_value"))
      .filter(col("w.end") <= lit(wmCut))
      .select(col("w.start"), col("event_type"), col("n"), col("sum_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val got = out.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected && expected.nonEmpty,
      s"emitted ${got.size} windows, expected ${expected.size}")
    // dropped-row accounting: emitted event mass = total - late - unflushed
    val unflushed = ev.filter(!isLate)
      .filter(window(col("ts"), "1 hour").getField("end") > lit(wmCut)).count()
    val emitted = out.agg(sum(col("n"))).head.getLong(0)
    assert(emitted == ev.count() - nLate - unflushed,
      s"event mass: emitted $emitted + late $nLate + unflushed $unflushed != total ${ev.count()}")
    // the engine's own accounting agrees: the state operator reports the
    // EXACT planted count dropped by the watermark, in the late batch only
    val droppedPerBatch = Streams.lastProgress
      .map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    assert(droppedPerBatch.sum == nLate,
      s"numRowsDroppedByWatermark ${droppedPerBatch.mkString(",")} != planted $nLate")
  }

  test("C28: bounded-state dedup — eviction, TTL survivors, late-batch drop accounting") {
    import graft.operators.Tables
    val out = Streams.streamingDedupWithinWatermark(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val cut2 = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
    val lateCut = new java.sql.Timestamp(maxTs.getTime - 8L * 3600 * 1000)
    // independent recompute of the lifecycle: registry (latest old-era row
    // per key), ms-truncated watermark, µs expiry compare
    val registry = ev.filter(col("ts") <= lit(cut2))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t0"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val wmUs = registry.values.max / 1000 * 1000 - Streams.DedupTtlUs
    val evicted = registry.filter { case (_, t0) =>
      t0 + Streams.DedupTtlUs <= wmUs }.keySet
    val newKeys = ev.filter(col("ts") > lit(cut2))
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = (registry.keySet ++ newKeys).map { k =>
      k -> ((if (registry.contains(k)) 1L else 0L) +
        (if (newKeys.contains(k) &&
          (!registry.contains(k) || evicted.contains(k))) 1L else 0L))
    }.toMap
    assert(out == expected && expected.nonEmpty)
    // both lifecycle branches non-vacuous on this corpus
    assert(expected.values.exists(_ == 2L), "no key exercised eviction + re-emit")
    assert(newKeys.exists(k => registry.contains(k) && !evicted.contains(k)),
      "no key exercised TTL-survivor dedup")
    // engine accounting: the bridge batch's eviction pass removes EXACTLY
    // the expired registry rows
    val bridgeRemoved = Streams.lastDedupProgress
      .find(p => p.batchId == 1L)
      .map(p => p.stateOperators.map(_.numRowsRemoved).sum)
    assert(bridgeRemoved.contains(evicted.size.toLong),
      s"bridge evictions $bridgeRemoved != expected ${evicted.size}")
    // and the planted late batch is dropped to the row (the C25 discipline
    // applied to dedup state)
    val nLate = ev.filter(pmod(col("event_id"), lit(10L)) === 0 &&
      col("ts") <= lit(lateCut)).count()
    assert(nLate > 0, "no planted late rows at this SF — gate vacuous")
    val dropped = Streams.lastDedupProgress
      .map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    assert(dropped.sum == nLate,
      s"numRowsDroppedByWatermark ${dropped.mkString(",")} != planted $nLate")
  }

  test("C26: left-outer stream join emits nulls only for watermark-expired purchases") {
    import graft.operators.Tables
    val out = Streams.streamingOuterJoin(spark, sf).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))
      .toSet
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    // final watermark: min over streams of ms-truncated max, minus 1h
    val maxP = p.agg(max(unix_micros(col("p_ts")))).head.getLong(0)
    val maxC = c.agg(max(unix_micros(col("c_ts")))).head.getLong(0)
    val wmUs = math.min(maxP / 1000 * 1000, maxC / 1000 * 1000) - 3600L * 1000000
    val joined = p.join(c,
        col("c_user") === col("user_id") &&
          col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
          col("c_ts") <= col("p_ts"), "left_outer")
      .select(col("p_id"), col("c_id"), col("user_id"), unix_micros(col("p_ts")).as("p_us"))
      .collect()
    val expected = joined.flatMap { r =>
      val cId = if (r.isNullAt(1)) -1L else r.getLong(1)
      if (cId >= 0 || r.getLong(3) < wmUs) Some((r.getLong(0), cId, r.getLong(2)))
      else None
    }.toSet
    assert(out == expected && expected.nonEmpty)
    // non-vacuous both ways: some null rows emitted, some purchases HELD
    assert(out.exists(_._2 == -1L), "no expired unmatched purchases — gate vacuous")
    val held = joined.count(r => r.isNullAt(1) && r.getLong(3) >= wmUs)
    assert(held > 0, "every unmatched purchase expired — the held-state branch untested")
  }

  test("C29: full-outer stream join — both null branches expire, both held sets stay") {
    import graft.operators.Tables
    def key(r: org.apache.spark.sql.Row) = (
      if (r.isNullAt(0)) -1L else r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))
    val out = Streams.streamingFullOuterJoin(spark, sf).collect().map(key).toSet
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val maxP = p.agg(max(unix_micros(col("p_ts")))).head.getLong(0)
    val maxC = c.agg(max(unix_micros(col("c_ts")))).head.getLong(0)
    val wmUs = math.min(maxP / 1000 * 1000, maxC / 1000 * 1000) - 3600L * 1000000
    val joined = p.join(c,
        col("c_user") === col("user_id") &&
          col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
          col("c_ts") <= col("p_ts"), "full_outer")
      .select(col("p_id"), col("c_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
      .collect()
    val expected = joined.flatMap { r =>
      val pId = if (r.isNullAt(0)) -1L else r.getLong(0)
      val cId = if (r.isNullAt(1)) -1L else r.getLong(1)
      val keep =
        (pId >= 0 && cId >= 0) ||
          (cId < 0 && r.getLong(3) < wmUs) ||
          (pId < 0 && r.getLong(4) + 1800L * 1000000 < wmUs)
      if (keep) Some((pId, cId, r.getLong(2))) else None
    }.toSet
    assert(out == expected && expected.nonEmpty)
    // BOTH null branches emitted something...
    assert(out.exists(_._2 == -1L), "no expired unmatched purchases")
    assert(out.exists(_._1 == -1L), "no expired unmatched clicks")
    // ...and BOTH held-at-stream-end sets exist and did not emit
    val heldP = joined.count(r => r.isNullAt(1) && r.getLong(3) >= wmUs)
    val heldC = joined.count(r => r.isNullAt(0) && r.getLong(4) + 1800L * 1000000 >= wmUs)
    assert(heldP > 0, "every unmatched purchase expired — held branch untested")
    assert(heldC > 0, "every unmatched click expired — held branch untested")
  }

  test("C5: streaming dedup (dropDuplicates + watermark) == batch distinct count") {
    val staged = stageDir()
    // dedup on (user_id, event_type) pairs, which arrive many times each
    val q = streamFrom(staged)
      .withWatermark("ts", "2 hours")
      .dropDuplicates("user_id", "event_type")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_out")
      .filter(col("event_type") =!= "flush")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == got.toSet.size)  // no duplicates emitted
    assert(got.toSet == want.toSet)       // exactly the distinct pairs
  }

  test("C5 gated query: streamingDedup over the raw sf dir == batch distinct") {
    // the driver-gated entry reads the single-FILE events.parquet directly
    // (explicit basePath); must equal the batch DISTINCT its oracle computes
    val got = Streams.streamingDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == got.toSet.size)
    assert(got.toSet == want.toSet && want.nonEmpty)
  }

  test("C7 gated query: stream-stream time-bounded join == batch theta join") {
    val got = Streams.streamingJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val want = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("era gate: a 1000x-shrunk events file crashes batch and streaming readers") {
    // plant a file whose timestamps were compressed 1000x (the exact
    // corruption a µs-as-ns read produces): every reader must CRASH on it,
    // never silently aggregate 1970-era windows
    val dir = Files.createTempDirectory("graft-era").toString
    Tables.events(spark, sf)
      .select(col("event_id"),
        timestamp_micros(expr("unix_micros(ts) DIV 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val eBatch = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(eBatch.getMessage.contains("era check failed"))
    val eStream = intercept[IllegalStateException](Streams.streamingWindowAgg(spark, dir))
    assert(eStream.getMessage.contains("era check failed"))
  }

  test("C6: stream-static enrichment join == batch join") {
    val staged = stageDir()
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val q = streamFrom(staged)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("enrich_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the stream includes one flush row per user; add them to the expectation
    val want = Tables.events(spark, sf)
      .groupBy("user_id").agg((count(lit(1)) + 1).as("cnt"))
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(sum("cnt").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
  }

  test("C4: stateful sessionization == batch events_session") {
    val staged = stageDir()
    val evs = streamFrom(staged)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Streams.Ev]
    val q = Streams.sessionize(evs)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sess_out")
      .filter(col("start_us") < unix_micros(expr(s"timestamp'$flushTs'")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = Relational.eventsSession(spark, sf)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("C30: transformWithState sessionization == the flatMapGroupsWithState form") {
    // one session rule, two state APIs: the new StatefulProcessor must emit
    // the exact session set C4 does over the same corpus, and the RocksDB
    // provider conf set for its query must not leak into the session
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(provKey)
    val tws = Streams.streamingSessionizeTws(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fgs = Streams.streamingSessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(tws == fgs && fgs.nonEmpty)
    assert(spark.conf.getOption(provKey) == before, "provider conf leaked")
  }

  test("C37: stop-with-open-state/restart from checkpoint == the uninterrupted run, boundary sessions merge") {
    // the recovery driver stops a live query with open state at a batch
    // boundary, restarts a NEW query from the checkpoint, and must land on
    // the exact uninterrupted session set (the driver itself `require`s
    // phase 2 resumed at batch >= 1)
    val rec = Streams.streamingRestartRecovery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val uninterrupted = Streams.streamingSessionizeTws(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rec.sorted.toSeq == uninterrupted.sorted.toSeq && rec.nonEmpty,
      s"recovered run diverges: ${rec.length} vs ${uninterrupted.length} sessions")
    // state restoration is actually EXERCISED: at least one emitted session
    // spans the phase-1/phase-2 cut (the fixture pins the cut inside a
    // closed session) — with lost state it would have split into two and
    // the equality above would fail
    val cutUs = Streams.recoveryCutUs(spark, sf)
    assert(rec.exists(t => t._2 <= cutUs && t._3 > cutUs),
      "no session spans the restart boundary — the recovery path was not exercised")
  }

  test("C38: continuous CDC merge == batch B32; a retried batch is a no-op (exactly-once)") {
    val (snap, df) = Streams.runCdcMerge(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), String.valueOf(r.get(2)), r.getDouble(3))
    val got = df.collect().map(key).sortBy(_._1).toSeq
    val want = graft.operators.Analytics.mergeUpsert(spark, sf)
      .collect().map(key).sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty, "merged snapshot diverges from B32")
    // retry path: re-apply the LAST committed batch (the only batch that
    // can really replay — N replaying implies N−1 checkpointed) — the
    // idempotent sink must leave the snapshot untouched (no new
    // generation, mtimes frozen, recursively)
    val snapDir = new java.io.File(new java.net.URI("file:" + snap).getPath)
    def state(): Seq[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        f +: (if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Nil)
      walk(snapDir).map(f => f.getPath -> f.lastModified).sorted
    }
    val before = state()
    val batch2 = spark.read.parquet(s"${Streams.cdcFixtureDirForSpec(spark, sf)}/cdc2.parquet")
    Streams.applyCdcBatch(spark, snap, batch2, 2L)
    assert(state() == before, "retried batch 2 mutated the snapshot")
    val after = Streams.readCdcSnapshot(spark, snap)
      .select(col("o_custkey"), col("n_orders"), col("last_odate"),
        col("sum_dec").cast("double").as("sum_price"))
      .collect().map(key).sortBy(_._1).toSeq
    assert(after == want, "snapshot content changed after the retry")
  }

  test("C38: untouched buckets carry forward by reference; superseded storage is swept") {
    val base = new org.apache.hadoop.fs.Path(
      graft.Artifacts.scratchBase(spark), "graft_cdc_prune_spec")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(base, true)
    val snap = new org.apache.hadoop.fs.Path(base, "snap").toString
    // bucket ids for planted keys, via the engine's own hash discipline
    val b = spark.range(0, 64)
      .withColumn("b", pmod(hash(col("id")), lit(Streams.cdcBucketsConf(spark))))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byBucket = b.groupBy(_._2).map { case (k, m) => k -> m.keys.toSeq.sorted }
    // batch 0 spans several buckets; batch 1 touches exactly ONE of them
    val spanKeys = byBucket.values.map(_.head).toSeq.sorted.take(4)
    val oneBucket = b(spanKeys.head)
    val t0 = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
    def mkBatch(keys: Seq[Long]) = keys
      .map(k => (k, 10.0, t0.plusDays(k)))
      .toDF("o_custkey", "o_totalprice", "o_orderdate")
    Streams.applyCdcBatch(spark, snap, mkBatch(spanKeys), 0L)
    Streams.applyCdcBatch(spark, snap, mkBatch(Seq(spanKeys.head)), 1L)
    val snapP = new org.apache.hadoop.fs.Path(snap)
    // gen-1 wrote ONLY the touched bucket
    val g1Buckets = fs.listStatus(new org.apache.hadoop.fs.Path(snapP, "gen-1"))
      .map(_.getPath.getName).filter(_.startsWith("bucket=")).toSeq
    assert(g1Buckets == Seq(s"bucket=$oneBucket"),
      s"gen-1 should hold exactly the touched bucket, got $g1Buckets")
    // the manifest references gen-0 for every untouched bucket — their
    // dirs still live under gen-0, files unrewritten (same paths exist)
    val man1 = Streams.cdcManifest(fs, new org.apache.hadoop.fs.Path(snapP, "gen-1"))
    val untouched = spanKeys.tail.map(b)
    untouched.foreach { k =>
      assert(man1(k) == 0L, s"bucket $k should still reference gen-0")
      assert(fs.exists(new org.apache.hadoop.fs.Path(snapP, s"gen-0/bucket=$k")),
        s"gen-0/bucket=$k vanished")
    }
    assert(man1(oneBucket) == 1L)
    // retention: gen-0's superseded copy of the rewritten bucket is gone
    assert(!fs.exists(new org.apache.hadoop.fs.Path(snapP, s"gen-0/bucket=$oneBucket")),
      "superseded gen-0 bucket dir was not swept")
    // batch 2 rewrites the remaining gen-0 buckets → gen-0 fully
    // unreferenced and deleted whole
    Streams.applyCdcBatch(spark, snap, mkBatch(spanKeys.tail), 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(snapP, "gen-0")),
      "fully-superseded generation was not swept")
    // and through it all the merged content is exact: every key arrived
    // in batch 0 and once more (head in batch 1, tail in batch 2)
    val out = Streams.readCdcSnapshot(spark, snap)
      .select(col("o_custkey"), col("n_orders")).as[(Long, Long)]
      .collect().toMap
    assert(out == spanKeys.map(_ -> 2L).toMap, s"merged snapshot wrong: $out")
    fs.delete(base, true); ()
  }

  test("C37: restart from a PARTIALLY committed batch — the file sink's commit log dedups the replay") {
    val fix = Streams.recoveryFixtureDirForSpec(spark, sf)
    val base = new org.apache.hadoop.fs.Path(
      graft.Artifacts.scratchBase(spark), "graft_recov_crash_spec")
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = base.getFileSystem(hconf)
    fs.delete(base, true)
    val in = new org.apache.hadoop.fs.Path(base, "in"); fs.mkdirs(in)
    val ckpt = new org.apache.hadoop.fs.Path(base, "ckpt").toString
    val out = new org.apache.hadoop.fs.Path(base, "out").toString
    def arrive(name: String): Unit = {
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(fix, name),
        fs, new org.apache.hadoop.fs.Path(in, name), false, hconf); ()
    }
    def rows() = spark.read.parquet(out)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    try {
      arrive("half0.parquet")
      val p1 = Streams.recoveryPhase(spark, in.toString, ckpt, out)
      assert(p1.nonEmpty, "phase 1 processed no batch")
      val afterPhase1 = rows()
      assert(afterPhase1.nonEmpty, "phase 1 must commit some closed sessions")
      // CRASH INJECTION: the sink committed the last batch (its
      // _spark_metadata entry exists) but the CHECKPOINT commit is gone —
      // exactly the window a crash between sink-commit and
      // checkpoint-commit leaves behind. The restart must REPLAY that
      // batch, and the file sink's commit log must swallow the duplicate.
      val lastBatch = p1.max
      val commitFile = new org.apache.hadoop.fs.Path(s"$ckpt/commits/$lastBatch")
      assert(fs.exists(commitFile), "precondition: checkpoint commit entry present")
      fs.delete(commitFile, false)
      val p2 = Streams.recoveryPhase(spark, in.toString, ckpt, out)
      assert(p2.contains(lastBatch), s"restart did not replay batch $lastBatch: $p2")
      // zero duplication: the COMMITTED view (the _spark_metadata-filtered
      // read) is unchanged — at-least-once upgraded to exactly-once by the
      // sink's batchId-keyed log, the property a deployment actually needs
      assert(rows() == afterPhase1,
        "replay duplicated rows past the sink's commit log")
      // and the pipeline keeps going on top of the recovered state
      arrive("half1.parquet")
      val p3 = Streams.recoveryPhase(spark, in.toString, ckpt, out)
      assert(p3.nonEmpty && p3.max > lastBatch, s"phase 3 ids: $p3")
      val finalRows = rows()
      assert(finalRows.size > afterPhase1.size &&
        afterPhase1.forall(finalRows.contains),
        "phase-1 sessions must survive unchanged under the final view")
    } finally { fs.delete(base, true); () }
  }

  test("C38: buckets >> delta keys — touched buckets ~ |delta|, write parallelism tracks the delta") {
    // the regime the design exists for: a minute-grain delta against a
    // wide snapshot must rewrite ~|delta-keys| buckets, not all of them
    val saved = spark.conf.getOption("graft.streaming.cdcBuckets")
    val base = new org.apache.hadoop.fs.Path(
      graft.Artifacts.scratchBase(spark), "graft_cdc_wide_spec")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(base, true)
    val snap = new org.apache.hadoop.fs.Path(base, "snap").toString
    val snapP = new org.apache.hadoop.fs.Path(snap)
    try {
      spark.conf.set("graft.streaming.cdcBuckets", "512")
      val t0 = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
      def mkBatch(keys: Seq[Long]) = keys
        .map(k => (k, 10.0, t0.plusDays(k % 1000)))
        .toDF("o_custkey", "o_totalprice", "o_orderdate")
      Streams.applyCdcBatch(spark, snap, mkBatch(0L until 2000L), 0L)
      val deltaKeys = Seq(3L, 700L, 1100L, 1500L, 1999L)
      Streams.applyCdcBatch(spark, snap, mkBatch(deltaKeys), 1L)
      val expectTouched = spark.range(0, 2000)
        .withColumn("b", pmod(hash(col("id")), lit(512)))
        .filter(col("id").isin(deltaKeys: _*))
        .select("b").distinct().as[Int].collect().toSet
      val gen1 = new org.apache.hadoop.fs.Path(snapP, "gen-1")
      val g1Buckets = fs.listStatus(gen1).map(_.getPath.getName)
        .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt).toSet
      assert(g1Buckets == expectTouched && g1Buckets.size <= deltaKeys.size,
        s"gen-1 rewrote ${g1Buckets.size} buckets for a ${deltaKeys.size}-key delta")
      // one file per touched bucket: the repartition(touched, bucket)
      // write puts each bucket wholly in one task, and only touched
      // buckets get tasks at all (no 8-task ceiling, no 512-task storm)
      g1Buckets.foreach { k =>
        val parts = fs.listStatus(new org.apache.hadoop.fs.Path(gen1, s"bucket=$k"))
          .map(_.getPath.getName).filter(_.startsWith("part-"))
        assert(parts.length == 1, s"bucket=$k has ${parts.length} part files")
      }
      // the other ~507 buckets carry forward by gen-0 reference
      val man1 = Streams.cdcManifest(fs, gen1)
      assert(man1.count(_._2 == 0L) == man1.size - g1Buckets.size)
      // layout immutability: a conf change mid-stream must NOT rebucket —
      // batch 2 runs under the PINNED 512, not the new conf value
      spark.conf.set("graft.streaming.cdcBuckets", "16")
      Streams.applyCdcBatch(spark, snap, mkBatch(Seq(3L)), 2L)
      val g2Buckets = fs.listStatus(new org.apache.hadoop.fs.Path(snapP, "gen-2"))
        .map(_.getPath.getName).filter(_.startsWith("bucket="))
        .map(_.stripPrefix("bucket=").toInt).toSet
      val bucketOf3 = spark.range(3, 4)
        .select(pmod(hash(col("id")), lit(512))).as[Int].head()
      assert(g2Buckets == Set(bucketOf3),
        s"batch 2 ignored the pinned 512-bucket layout: $g2Buckets")
      // and the merged content is exact through all of it
      val out = Streams.readCdcSnapshot(spark, snap)
        .select(col("o_custkey"), col("n_orders")).as[(Long, Long)]
        .collect().toMap
      val want = (0L until 2000L).map(k =>
        k -> (1L + (if (k == 3L) 2L else if (deltaKeys.contains(k)) 1L else 0L))).toMap
      assert(out == want, "merged snapshot diverges in the wide-bucket regime")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("graft.streaming.cdcBuckets", v)
        case None => spark.conf.unset("graft.streaming.cdcBuckets")
      }
      fs.delete(base, true); ()
    }
  }

  test("C38: a replay of a fully-SWEPT batch is still a no-op (_LAST_BATCH survives the sweep)") {
    val base = new org.apache.hadoop.fs.Path(
      graft.Artifacts.scratchBase(spark), "graft_cdc_replay_spec")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(base, true)
    val snap = new org.apache.hadoop.fs.Path(base, "snap").toString
    val snapP = new org.apache.hadoop.fs.Path(snap)
    val t0 = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
    def mkBatch(keys: Seq[Long]) = keys
      .map(k => (k, 10.0, t0.plusDays(k)))
      .toDF("o_custkey", "o_totalprice", "o_orderdate")
    val keys = Seq(1L, 2L, 3L)
    Streams.applyCdcBatch(spark, snap, mkBatch(keys), 0L)
    // batch 1 rewrites every bucket batch 0 touched → gen-0 fully
    // superseded and DELETED by the retention sweep
    Streams.applyCdcBatch(spark, snap, mkBatch(keys), 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(snapP, "gen-0")),
      "precondition: gen-0 should be swept")
    // a restored/rolled-back checkpoint replays batch 0: fs.exists(gen-0)
    // can no longer catch it — the high-water marker must
    val snapDir = new java.io.File(new java.net.URI("file:" + snap).getPath)
    def state(): Seq[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        f +: (if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Nil)
      walk(snapDir).map(f => f.getPath -> f.lastModified).sorted
    }
    val before = state()
    Streams.applyCdcBatch(spark, snap, mkBatch(keys), 0L)
    assert(state() == before, "replayed swept batch mutated the snapshot")
    val out = Streams.readCdcSnapshot(spark, snap)
      .select(col("o_custkey"), col("n_orders")).as[(Long, Long)]
      .collect().toMap
    assert(out == keys.map(_ -> 2L).toMap,
      s"double-applied a swept batch: $out")
    fs.delete(base, true); ()
  }

  test("C32: timer flush emits exactly the expired finals on top of the event-closed set") {
    val timed = Streams.streamingSessionTimers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val closedOnly = Streams.streamingSessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // event-closed sessions are a strict subset: timers ADD the expired
    // finals, never change or remove an event-closed emission
    assert(closedOnly.subsetOf(timed), "timer variant lost event-closed sessions")
    val extra = timed -- closedOnly
    assert(extra.nonEmpty, "no session was ever flushed by timer — vacuous")
    // every extra emission is a FINAL session whose ms-grain horizon sits
    // behind the final watermark; unexpired finals stay in state (both
    // branches non-vacuous)
    val ev = graft.operators.Tables.events(spark, sf)
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val wmMs = maxUs / 1000 - 3600000L
    extra.foreach { case (u, _, endUs, _) =>
      assert(endUs / 1000 + 1800000L < wmMs, s"user $u flushed before expiry")
    }
    val users = ev.select(countDistinct(col("user_id"))).head.getLong(0)
    assert(extra.size < users, "every final session expired — the unflushed branch is vacuous")
  }

  test("C35: MapState transition counts are dense per pair and conserve the event count") {
    val rows = Streams.streamingTypeTransitions(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("from_type"),
        r.getAs[String]("to_type"), r.getAs[Long]("n_so_far")))
    assert(rows.nonEmpty)
    val ev = graft.operators.Tables.events(spark, sf)
    val nEvents = ev.count()
    val nUsers = ev.select(countDistinct(col("user_id"))).head.getLong(0)
    // every event after a user's first emits exactly one transition
    assert(rows.length.toLong == nEvents - nUsers,
      s"${rows.length} emissions vs ${nEvents - nUsers}")
    // running counts are dense 1..n per (user, from, to) — the MapState
    // point-update never skips or repeats
    rows.groupBy(t => (t._1, t._2, t._3)).foreach { case (k, g) =>
      assert(g.map(_._4).sorted.toSeq == (1L to g.length).toSeq, s"$k not dense")
    }
    // and the final count per pair equals the batch lag/groupBy recompute
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = ev.withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("user_id"), col("prev"), col("event_type")).count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    rows.groupBy(t => (t._1, t._2, t._3)).foreach { case (k, g) =>
      assert(batch(k) == g.length.toLong, s"$k: ${g.length} vs ${batch(k)}")
    }
  }

  test("C34: batch-bootstrapped stream closes old-era sessions with their real state") {
    val got = Streams.streamingSessionizeBootstrap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty)
    val ev = graft.operators.Tables.events(spark, sf)
    val cutUs = (ev.agg(max(col("ts"))).head.getTimestamp(0).getTime
      - 2L * 3600 * 1000) * 1000
    // THE handover: at least one emitted session STARTED in the old era —
    // its start/count could only come from the seeded batch state
    assert(got.exists(_._2 <= cutUs), "no session spans the bootstrap cut")
    // and the emitted set is exactly the full-corpus sessions whose CLOSING
    // event (the next session's start) lands in the new era
    val all = graft.operators.Relational.eventsSession(spark, sf)
      .select(col("user_id"), unix_micros(col("session_start")).as("st"),
        unix_micros(col("session_end")).as("en"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = all.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val want = byUser.values.flatMap { ss =>
      ss.zip(ss.drop(1)).collect { case (s, nx) if nx._2 > cutUs => s }
    }.toSet
    assert(got == want, s"emitted ${got.size} vs characterized ${want.size}")
  }

  test("C33: burst detection fires exactly at the k-th in-horizon purchase") {
    // real corpus: non-vacuous and every alert's window count >= k
    val real = Streams.streamingBurstDetect(spark, sf).collect()
    assert(real.nonEmpty, "no burst on this corpus — vacuous gate")
    real.foreach(r => assert(r.getAs[Long]("n_in_window") >= Streams.BurstK))
    // planted timeline: purchases at 0h, 5h, 11h, 23h, 23.5h (12h horizon)
    // -> the 11h purchase is the 3rd in-horizon (alert, n=3); at 23h the
    // horizon (11h, 23h] holds only itself (strict >); at 23.5h two — no
    // further alerts. A sparse user never fires.
    import SparkSpecBase.spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(h: Double) = new java.sql.Timestamp(t0.getTime + (h * 3600000L).toLong)
    val dir = java.nio.file.Files.createTempDirectory("graft-burst").toString
    Seq((1L, 1L, "purchase", 1.0, at(0)), (2L, 1L, "purchase", 1.0, at(5)),
        (3L, 1L, "purchase", 1.0, at(11)), (4L, 1L, "purchase", 1.0, at(23)),
        (5L, 1L, "purchase", 1.0, at(23.5)),
        (6L, 2L, "purchase", 1.0, at(0)), (7L, 2L, "purchase", 1.0, at(20)),
        (8L, 1L, "click", 1.0, at(11.1)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val planted = Streams.streamingBurstDetect(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("n_in_window")))
    assert(planted.toSeq == Seq((1L, 3L, 3L)), s"planted: ${planted.toSeq}")
  }

  test("C14/C16: streaming alert and sketch == their batch twins") {
    val alertS = Streams.streamingRateAlert(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    val alertB = graft.operators.Signals.eventsRateAlert(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(alertS == alertB && alertB.nonEmpty)
    val cmsS = Streams.streamingFreqSketch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cmsB = graft.operators.Signals.freqSketchCms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cmsS == cmsB && cmsB.nonEmpty)
  }

  test("C13: streaming funnel == batch event_funnel") {
    val got = Streams.streamingFunnel(spark, sf).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[Long]("n_users"))).toMap
    val want = graft.operators.Analytics.eventFunnel(spark, sf).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[Long]("n_users"))).toMap
    assert(got == want, s"$got vs $want")
    assert(want(1) > 0 && want.size == 3)
  }

  test("C19: streaming top-k per window equals a batch recount and ranks correctly") {
    val got = Streams.streamingTopK(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getInt(3)))
    // batch recount straight off the batch events reader
    import org.apache.spark.sql.expressions.Window
    val want = graft.operators.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("hour_start")).orderBy(col("n").desc, col("event_type"))))
      .filter(col("rank") <= Streams.StreamTopK)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(got.toSet == want.toSet && got.nonEmpty)
    // within each window: dense ranks 1..k, counts non-increasing
    got.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).sameElements(1 to sorted.length))
      assert(sorted.map(_._3).zip(sorted.map(_._3).tail).forall { case (a, b) => a >= b })
    }
  }

  test("C18: streaming quantile histogram equals the batch estimates") {
    // exact integer (priority, bin) counts are order-independent, so the
    // drained grid — and therefore every estimate — must equal batch B36
    val got = Streams.streamingQuantileHist(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    val want = graft.operators.Analytics.approxQuantileHist(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(got.sameElements(want), s"${got.toSeq} vs ${want.toSeq}")
    // sane quantiles: p50 <= p90, both positive
    got.foreach { case (_, p50, p90) => assert(p50 > 0 && p50 <= p90) }
  }

  test("C17: streaming HLL estimate equals the batch sketch on the bounded source") {
    // the register table is a max-aggregate: order-independent, so draining
    // the stream must land on exactly the batch registers and estimate
    val got = Streams.streamingHllDistinct(spark, sf).collect().head
    val want = Relational.hllEstimate(
      Tables.events(spark, sf).select(col("user_id")), "user_id").collect().head
    assert(got == want, s"$got vs $want")
    // n (15) << m (256 registers) is below the raw-estimator regime, where
    // the sketch deliberately biases HIGH (the linear-counting branch is
    // omitted for oracle determinism — see Relational.hllEstimate): assert
    // the documented bias direction, not a tight bound
    val exact = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    val est = got.getDouble(0)
    assert(est >= exact.toDouble, s"estimate $est below exact $exact")
  }

  private def sinkViews(): Seq[String] =
    spark.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary &&
        (t.name.startsWith("graft_stream") || t.name.startsWith("graft_pipe_drain")))
      .map(_.name)

  test("drain: no key leaves a sink view behind, and each returned frame re-executes") {
    val in = Files.createTempDirectory("graft-drain-pipe").toString + "/in"
    graft.pipeline.Pipe.create(spark, Seq("a b", "b c")).writeText(in)
    val frames = Streams.queries.toSeq.sortBy(_._1).map { case (k, q) => k -> q(spark, sf) } :+
      ("pipe_drain" -> graft.pipeline.Pipe.drain(graft.pipeline.Pipe.readStreamText(spark, in)))
    assert(sinkViews().isEmpty, s"sink views left: ${sinkViews()}")
    frames.foreach { case (k, df) =>
      val n = df.count()
      val out = Files.createTempDirectory("graft-drain-rewrite").toString + "/out"
      df.write.parquet(out)
      assert(spark.read.parquet(out).count() == n, s"$k: second write lost rows")
    }
  }

  test("run: a failing stream stops its query and restores every conf it set") {
    val partsKey = "spark.sql.shuffle.partitions"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = (spark.conf.get(partsKey), spark.conf.getOption(provKey))
    val failing = spark.readStream.schema("user_id BIGINT").parquet(s"$sf/{events.parquet}")
      .as[Long].map(u => if (u > Long.MinValue) throw new IllegalStateException("boom") else u)
    val confs = Seq(partsKey -> "3", provKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    intercept[Exception](Streams.run(spark, failing.writeStream.format("noop"), confs: _*))
    assert(spark.streams.active.isEmpty, "a failed run left an active query")
    assert((spark.conf.get(partsKey), spark.conf.getOption(provKey)) == saved)
    intercept[Exception](Streams.drain(spark, "boom", failing, "append", confs: _*))
    assert(spark.streams.active.isEmpty && sinkViews().isEmpty)
    assert((spark.conf.get(partsKey), spark.conf.getOption(provKey)) == saved)
  }

  test("C23 streaming CUSUM drains to exactly the batch change-point report") {
    val stream = Streams.streamingCusumShift(spark, sf)
    val batch = graft.operators.Signals.eventsCusumShift(spark, sf)
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty,
      "stream drain diverged from the batch CUSUM fold")
    assert(batch.count() > 0)
  }

}
