package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in a fresh JVM: set up the session, run the workload's
  * keys as a closed loop with one client (the driver thread submits one key
  * and waits for it), then write each key's output for the digest check.
  *
  * Every call goes through the public registry `SparkEntry.queries(key)`.
  * Pass 0 starts with empty artifact, warehouse and checkpoint roots (the
  * launcher makes a fresh run root); later passes reuse what it built. The
  * seed only permutes the key order within each pass. Everything the run
  * measured goes to `<root>/result.json`; metrics are derived by run.py.
  *
  * Arguments: --workload --seed --warm-passes --trace --data --root --cpus.
  * The record also carries the keys' DuckDB oracle SQL, for pinning digests.
  */
object Main {
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  /** Heap in use after full collections: the lowest of five readings, each
    * after a collection and a pause for the cleaner threads that release
    * what the previous collection found unreachable. */
  private def heapAfterGcMb: Double = (1 to 5).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val warmPasses = args("warm-passes").toInt
    val traced = args("trace") == "1"
    val data = args("data")
    val root = new File(args("root")).getAbsoluteFile
    val cpus = args("cpus").toInt
    val keys = Workloads.keys(workload)
    val dirs = RunDirs(root)

    // set-up: JVM start to a ready session, then four more stop/start
    // cycles; run.py reports the median, so work moved into set-up shows
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer[Double]()
    val setupPhases = mutable.ArrayBuffer[(String, Double)]()
    var spark: SparkSession = null
    for (i <- 0 until 5) {
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = newSession(cpus, dirs)
      val t1 = System.nanoTime()
      spark.range(1000).selectExpr("sum(id)").collect()
      val t2 = System.nanoTime()
      val registry = graft.SparkEntry.queries
      require(keys.forall(registry.contains),
        s"unknown keys: ${keys.filterNot(registry.contains).mkString(",")}")
      if (i == 0) setupPhases ++= Seq("session_s" -> (t1 - t0) / 1e9,
        "first_query_s" -> (t2 - t1) / 1e9, "registry_s" -> secondsSince(t2))
      setups += (if (i == 0) (System.currentTimeMillis() - jvmStart) / 1e3 else secondsSince(t0))
    }
    val sc = spark.sparkContext
    val trace = if (traced) Some(new Trace) else None
    trace.foreach { t =>
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }

    val heap0 = heapAfterGcMb
    val load0 = loadAvg
    val rng = new Random(seed)
    val calls = mutable.ArrayBuffer[String]()
    val passes = mutable.ArrayBuffer[String]()
    val lastDf = mutable.Map[String, DataFrame]()
    for (pass <- 0 to warmPasses) {
      val order = rng.shuffle(keys)
      val gc0 = gcSeconds
      val p0 = System.nanoTime()
      order.foreach { key =>
        val call = s"$pass/$key"
        trace.foreach(_.current = call)
        sc.setLocalProperty(Trace.CallProp, call)
        sc.setJobGroup(s"perfbench:$call", key, interruptOnCancel = false)
        val dirsBefore = if (traced) dirs.artifactDirs else Set.empty[String]
        val bytesBefore = if (traced) dirs.artifactBytes else 0L
        var construct, plan, exec = Double.NaN
        var error = ""
        val t0 = System.nanoTime()
        try {
          val df = graft.SparkEntry.queries(key)(spark, data)
          construct = secondsSince(t0)
          val t1 = System.nanoTime()
          if (traced) df.queryExecution.executedPlan
          plan = secondsSince(t1)
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          exec = secondsSince(t2)
          lastDf(key) = df
        } catch {
          case e: Throwable =>
            error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
            System.err.println(s"[perfbench] $call failed: $error")
        }
        val total = secondsSince(t0)
        sc.clearJobGroup()
        sc.setLocalProperty(Trace.CallProp, null)
        val extra = trace.map { t =>
          PerfbenchBus.drain(sc)
          val newDirs = dirs.artifactDirs -- dirsBefore
          t.result(call) ++ Map(
            "artifacts.new_dirs" -> newDirs.size.toDouble,
            "artifacts.written_mb" -> (dirs.artifactBytes - bytesBefore) / 1048576.0,
            "cache.persisted_left" -> sc.getPersistentRDDs.size.toDouble)
        }.getOrElse(Map.empty)
        calls += Json.obj(
          "pass" -> pass, "key" -> key, "module" -> Workloads.module(key),
          "construct_s" -> construct, "plan_s" -> (if (traced) plan else Double.NaN),
          "exec_s" -> exec, "total_s" -> total, "error" -> error,
          "counters" -> Json.Raw(Json.obj(extra.toSeq.sortBy(_._1): _*)))
      }
      val wall = secondsSince(p0)
      val passGc = gcSeconds - gc0
      passes += Json.obj("pass" -> pass, "wall_s" -> wall, "gc_s" -> passGc,
        "heap_after_gc_mb" -> (if (traced) heapAfterGcMb else Double.NaN),
        "sink_views" -> sinkViews(spark))
    }
    trace.foreach(_ => PerfbenchBus.drain(sc))
    val heapEnd = heapAfterGcMb
    val diskBytes = dirs.artifactBytes
    val load1 = loadAvg

    // output check, outside the timed region: the frame each key returned in
    // the last pass must re-execute to the pinned digest
    val c0 = System.nanoTime()
    val outputs = mutable.ArrayBuffer[(String, String)]()
    val planHash = mutable.ArrayBuffer[(String, String)]()
    keys.sorted.foreach { key =>
      try {
        val df = lastDf.getOrElse(key, graft.SparkEntry.queries(key)(spark, data))
        planHash += key -> PlanHash(df.queryExecution.executedPlan.toString, root.toString)
        df.coalesce(1).write.mode("overwrite").parquet(new File(dirs.out, key).toString)
        outputs += key -> ""
      } catch {
        case e: Throwable =>
          outputs += key -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }

    val checkSeconds = secondsSince(c0)
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }

    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "data" -> data,
      "keys" -> keys, "modules" -> Workloads.modules.map(_._1),
      "setup_s" -> setups.toSeq, "setup_phases" -> Json.Raw(Json.obj(setupPhases.toSeq: _*)),
      "passes" -> passes.toSeq.map(Json.Raw),
      "calls" -> calls.toSeq.map(Json.Raw),
      "heap_after_setup_mb" -> heap0, "heap_end_mb" -> heapEnd,
      "artifact_disk_bytes" -> diskBytes.toDouble,
      "outputs" -> Json.Raw(Json.obj(outputs.toSeq: _*)), "check_s" -> checkSeconds,
      "oracle_sql" -> Json.Raw(Json.obj(oracles.toSeq.sortBy(_._1): _*)),
      "plan_hash" -> Json.Raw(Json.obj(planHash.toSeq: _*)),
      "host" -> Json.Raw(Json.obj("load_start" -> load0, "load_end" -> load1,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "local_width" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))))
    Files.write(Paths.get(root.toString, "result.json"), result.getBytes(StandardCharsets.UTF_8))
    sc.setLogLevel("ERROR")
    spark.stop()
  }

  private def newSession(cpus: Int, d: RunDirs): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", d.local.toString)
      .config("spark.sql.warehouse.dir", d.warehouse.toURI.toString)
      .config("graft.scratch.dir", d.scratch.toString)
    val withIndexes = RunDirs.IndexConfs.foldLeft(b) { case (bb, name) =>
      bb.config(s"graft.$name.dir", new File(d.index, name).toString)
    }
    val s = withIndexes.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Memory-sink views the program left registered in the session. */
  private def sinkViews(s: SparkSession): Int =
    s.catalog.listTables().collect().count(t => t.isTemporary && t.name.startsWith("graft_stream"))
}

/** The run root's layout. Everything a run writes lives under `root`, which
  * the launcher creates empty and deletes afterwards. `tmp` is the JVM's
  * java.io.tmpdir, where the program puts streaming checkpoints and
  * tmpdir-based scratch; `local` holds Spark's shuffle and block files and
  * `out` the output-check copies, so neither counts as artifact disk.
  */
final case class RunDirs(root: File) {
  val tmp = new File(root, "tmp")
  val scratch = new File(root, "scratch")
  val warehouse = new File(root, "warehouse")
  val index = new File(root, "index")
  val local = new File(root, "local")
  val out = new File(root, "out")
  Seq(tmp, scratch, warehouse, index, local, out).foreach(_.mkdirs())
  private def artifactRoots = Seq(tmp, scratch, warehouse, index)

  private def walk(f: File): Iterator[File] =
    Option(f.listFiles()).map(_.iterator).getOrElse(Iterator.empty)
      .flatMap(c => Iterator(c) ++ (if (c.isDirectory) walk(c) else Iterator.empty))

  def artifactBytes: Long = artifactRoots.iterator.flatMap(walk).filter(_.isFile).map(_.length).sum
  /** Directories at most two levels below an artifact root: one per
    * artifact (a table, an index generation, a checkpoint), not its parts. */
  def artifactDirs: Set[String] = {
    def dirsIn(f: File) = Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
    artifactRoots.flatMap(dirsIn).flatMap(d => d +: dirsIn(d)).map(_.getPath).toSet
  }
}

object RunDirs {
  val IndexConfs = Seq("ivf", "int8", "pq", "ivfpq", "graph")
}
