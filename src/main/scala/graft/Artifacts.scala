package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Stored artifacts: the one place that builds, keys, names and reclaims
  * them ([[store]]), over a content fingerprint of their inputs
  * ([[fingerprint]]). Keying an artifact on the dataset *path* alone serves
  * stale answers when the files at that path are regenerated inside one
  * JVM — a long-lived session would keep routing queries through an index
  * built from the old corpus. The fingerprint is METADATA-ONLY (one
  * recursive file listing: name, length, mtime per file — no data read, no
  * parquet footer parse), so checking it per lookup costs microseconds
  * locally and one namenode listing on a real cluster.
  */
object Artifacts {

  /** Conf naming the default artifact base; see [[scratchBase]]. */
  private val ScratchConf = "graft.scratch.dir"

  /** Base directory for artifacts and scratch outputs with no location
    * conf of their own: `graft.scratch.dir`, else the driver's
    * java.io.tmpdir. On a multi-node deployment it MUST name a filesystem
    * every executor and the driver can reach (HDFS/object store):
    * artifacts are written by executors and re-read by driver-planned
    * scans, so a node-local path would scatter them.
    */
  def scratchBase(s: SparkSession): String =
    s.conf.getOption(ScratchConf)
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Build-once-per-generation stored artifact: returns the location of
    * the `kind` artifact of dataset `d`, building it into that location
    * with `build` the first time, and again whenever its inputs change.
    *
    *   - *Where.* Under the base named by `dirConf` (the site's own
    *     location conf, e.g. `graft.ivf.dir` or `spark.sql.warehouse.dir`),
    *     else [[scratchBase]]; every base follows scratchBase's shared-FS
    *     contract. The directory is `base/graft_<kind>_<hex>`, where the hex
    *     hashes `(kind, d, shaping, fingerprint)`: two datasets, two
    *     shaping settings or two input generations never share a directory.
    *   - *Key.* One entry per `(kind, d, shaping, base)` — the same
    *     tuple that names the directory, plus the resolved base, so
    *     repointing a location conf mid-session rebuilds under the new base.
    *     `shaping` lists every conf value that changes what `build` writes
    *     (cell count, sample size, file count, thresholds).
    *   - *Inputs.* The [[fingerprint]] is taken over `inputs`. A
    *     DERIVED artifact lists the locations of the upstream artifacts it
    *     reads among its inputs; a location this store returned enters by
    *     name, without a listing — it already carries the upstream's kind,
    *     shaping and fingerprint, so every conf that shaped the upstream
    *     shapes the derived artifact without being listed again.
    *   - *Generations.* A moved fingerprint builds a NEW directory and
    *     leaves the previous one on disk for lazily-held readers, recorded
    *     for [[sweepStale]].
    *
    * Each key has its own slot, so a build may resolve other artifacts
    * (its upstreams) while it holds its own.
    */
  def store(s: SparkSession, kind: String, d: String, inputs: Seq[String],
      shaping: Seq[Any] = Nil, dirConf: String = ScratchConf)(
      build: String => Unit): String = {
    val base = s.conf.getOption(dirConf).getOrElse(scratchBase(s))
    val id = (kind +: d +: shaping.map(_.toString)).mkString("@")
    val (upstream, data) = inputs.partition(issued.contains)
    val fp = (fingerprint(s, data: _*) +: upstream).mkString("|")
    val key = s"$id@$base"
    val slot = slots.computeIfAbsent(key, _ => new ConcurrentHashMap[String, Built]())
    cachedLocation(slot, key, fp) { fpv =>
      val dir = new Path(base, s"graft_${kind}_" + java.lang.Long.toHexString(
        graft.plans.MixHash.polyHash(s"$id@$fpv"))).toString
      build(dir)
      issued.add(dir)
      dir
    }
  }

  /** [[store]]'s entries, one single-entry slot per key. */
  private val slots = new ConcurrentHashMap[String, ConcurrentHashMap[String, Built]]()

  /** Every location [[store]] has built in this JVM. */
  private val issued = ConcurrentHashMap.newKeySet[String]()

  /** Metadata fingerprint of one or more dataset paths. Per-file hashes are
    * XOR-combined so the (filesystem-dependent) listing order cannot change
    * the result; a missing path contributes a distinct constant rather than
    * failing — the consumer's own read will surface the real error.
    *
    * Granularity caveat: (length, mtime) alone cannot distinguish an
    * in-place regeneration that lands identical file sizes within the
    * filesystem's mtime tick (1 s on some local FSes) — exactly the stale
    * read this abstraction exists to prevent. For `file:` paths we therefore
    * fold in a cheap CONTENT hint: the last 16 bytes of each file (for
    * parquet that covers the footer-length word + magic, which moves with
    * any row-group/stat change). One pread of 16 bytes per local file is
    * ~free; on remote filesystems (one RPC per open would not be) the
    * metadata-only form stands and mtime granularity there is millisecond.
    */
  def fingerprint(s: SparkSession, paths: String*): String = {
    var acc = 0x9e3779b97f4a7c15L
    paths.foreach { ps =>
      val p = new Path(ps)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) {
        acc ^= graft.plans.MixHash.polyHash(s"absent:$ps")
      } else {
        val local = fs.getScheme == "file"
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          val tail =
            if (local && f.getLen > 0) {
              // a file vanishing between the listing and this read (e.g. a
              // concurrent regeneration) must MOVE the fingerprint — forcing
              // a rebuild — not fail the lookup
              try {
                val n = math.min(16L, f.getLen).toInt
                val buf = new Array[Byte](n)
                val in = fs.open(f.getPath)
                try { in.readFully(f.getLen - n, buf) } finally in.close()
                java.util.Base64.getEncoder.encodeToString(buf)
              } catch { case _: java.io.IOException => "unreadable" }
            } else ""
          acc ^= graft.plans.MixHash.polyHash(
            s"${f.getPath.toString}|${f.getLen}|${f.getModificationTime}|$tail")
        }
      }
    }
    java.lang.Long.toHexString(acc)
  }

  /** A built artifact location plus the input fingerprint it was built
    * from. */
  private[graft] final case class Built(fingerprint: String, location: String)

  /** [[store]]'s primitive, build-once-per-(key, input-fingerprint):
    * returns the cached location while the inputs are unchanged, re-runs
    * `build` the moment the fingerprint moves. `compute` holds the map
    * bucket during the build, so concurrent callers of one key build once.
    *
    * `build` receives the fingerprint and must version its OUTPUT location
    * by it: a rebuild that overwrote the previous generation's files in
    * place would yank them out from under any lazily-held DataFrame still
    * referencing the old location — per-generation dirs keep in-flight
    * readers valid, at the cost of one small dir per in-JVM regeneration
    * (rare by definition).
    */
  private[graft] def cachedLocation(
      map: ConcurrentHashMap[String, Built], key: String, fp: String)(
      build: String => String): String =
    map.compute(key, (_, old) =>
      if (old != null && old.fingerprint == fp) old
      else {
        // a concurrent sweepStale must not run while a rebuild is in
        // flight: in an A→B→A cycle the dir build(fp) is re-creating is
        // still in `superseded` until the remove below, and a sweep in
        // that window would delete the just-rebuilt CURRENT generation
        // (r10 advice item 2). Builds share the read side; the sweep
        // needs the write side, so it can never interleave with a build.
        sweepLock.readLock().lock()
        try {
          val b = Built(fp, build(fp))
          // the replaced generation's dir stays on disk (a lazily-held
          // reader of the old location must stay valid) but is RECORDED so
          // a long-lived session can reclaim it via [[sweepStale]]
          if (old != null && old.location != b.location) {
            superseded.add(old.location); ()
          }
          // a fingerprint CYCLE (A→B→A with deterministic slugs) rebuilds
          // into a dir recorded as superseded during the A→B transition —
          // it is live again and must leave the sweep set BEFORE the lock
          // drops, or a sweep in the gap would delete the current
          // generation
          superseded.remove(b.location)
          b
        } finally sweepLock.readLock().unlock()
      }
    ).location

  /** On-disk locations of artifact generations this JVM has superseded
    * (rebuilt under a moved fingerprint). Kept until [[sweepStale]]. */
  private val superseded =
    java.util.Collections.newSetFromMap(
      new ConcurrentHashMap[String, java.lang.Boolean]())

  /** Guards the build-vs-sweep cycle race — see the note in
    * [[cachedLocation]]: builds hold the read side (concurrent builds are
    * fine), [[sweepStale]] needs the write side. */
  private val sweepLock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Opt-in reclamation for long-lived sessions: delete every artifact
    * generation this JVM superseded (the per-generation dirs
    * [[cachedLocation]] deliberately leaves on disk so lazily-held readers
    * of the old generation stay valid). Call it at a point where no frame
    * referencing a pre-rebuild artifact is still alive — the caller owns
    * that judgment, which is why the sweep never runs implicitly. Returns
    * the deleted locations. Live (current-generation) artifacts are never
    * touched: only locations REPLACED by a rebuild are recorded.
    */
  def sweepStale(s: SparkSession): Seq[String] = {
    // refuse to sweep while any rebuild is in flight: the set may contain a
    // location a concurrent A→B→A rebuild is re-creating right now (the
    // caller's quiescent-point contract, now enforced instead of assumed —
    // an empty result at a non-quiescent moment is safe, a deleted current
    // generation is not). tryLock, not lock: blocking here under a stuck
    // build would hang the caller; an empty sweep retries later.
    if (!sweepLock.writeLock().tryLock()) return Seq.empty
    try sweepStaleLocked(s)
    finally sweepLock.writeLock().unlock()
  }

  private def sweepStaleLocked(s: SparkSession): Seq[String] = {
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = superseded.iterator()
    while (it.hasNext) {
      val loc = it.next()
      // forget the location only AFTER a successful delete: a failed
      // delete (permission flip, unmounted volume) stays in the set so a
      // later sweep retries it, and one bad dir doesn't abort the rest
      val ok =
        try {
          val p = new Path(loc)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          true
        } catch { case _: java.io.IOException => false }
      if (ok) { it.remove(); dropped += loc }
    }
    dropped.toSeq
  }

  /** Generic build-once-per-(key, fingerprint) value cache — the
    * [[cachedLocation]] pattern for non-path values (e.g. the events
    * ts-type probe). One entry per key: a moved fingerprint REPLACES the
    * stale entry instead of accumulating beside it.
    */
  def cachedValue[V](
      map: ConcurrentHashMap[String, (String, V)], key: String, fp: String)(
      build: => V): V =
    map.compute(key, (_, old) =>
      if (old != null && old._1 == fp) old else (fp, build)
    )._2

  /** Fingerprint ledger for warehouse-TABLE artifacts (E7's corpus index,
    * B22's bucketed facts): those sites gate the build on
    * `catalog.tableExists`, which a fresh JVM fails (→ rebuild, correct)
    * but a long-lived JVM passes even after the source dataset was
    * regenerated. `tableStale` adds the fingerprint check; callers record
    * the build with `markTableBuilt`.
    *
    * The fingerprint is ALSO persisted beside the artifact (a
    * `_fingerprint` file inside the table's warehouse dir — underscore
    * prefix keeps Spark's file index from reading it as data): a fresh JVM
    * whose catalog still knows the table (persistent metastore) validates
    * the on-disk fingerprint instead of unconditionally rebuilding — the
    * cross-JVM reuse the in-memory ledger alone would lose.
    */
  private val tableFps = new ConcurrentHashMap[String, String]()

  private def fpFile(s: SparkSession, tbl: String): Path =
    new Path(new Path(s.conf.get("spark.sql.warehouse.dir"), tbl), "_fingerprint")

  def tableStale(s: SparkSession, tbl: String, fp: String): Boolean = {
    val mem = tableFps.get(tbl)
    if (mem != null) return mem != fp
    // fresh JVM: fall back to the fingerprint persisted beside the table
    val persisted =
      try {
        val f = fpFile(s, tbl)
        val fs = f.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(f)) None
        else {
          val in = fs.open(f)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim)
          finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    if (persisted.contains(fp)) { tableFps.put(tbl, fp); false } else true
  }

  /** Test-only: forget every in-JVM table fingerprint, simulating a fresh
    * JVM so the persisted `_fingerprint` fallback path is exercised. */
  private[graft] def clearTableLedgerForTest(): Unit = tableFps.clear()

  def markTableBuilt(s: SparkSession, tbl: String, fp: String): Unit = {
    val f = fpFile(s, tbl)
    val fs = f.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(f, true)
    try out.write(fp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    tableFps.put(tbl, fp); ()
  }
}
