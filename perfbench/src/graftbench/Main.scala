package graftbench

import java.lang.management.ManagementFactory
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{MaintenanceTool, SparkEntry}
import graft.apdb.{ApdbConfig, ApdbSpark, DiaSim, MetricsLog, VisitPipeline}
import graft.geom.Generators

/** JVM side of the benchmark. Runs one workload against the program's
  * public entry points, timing each call from outside, and writes raw
  * records (one JSON object per line) for `perfbench/run.py`, which
  * computes the metrics, checks outputs and writes the span file.
  *
  * Arguments are `--name value` pairs: workload, seed, seconds, trace
  * (0|1), data (input table dir), work (scratch dir), out (record file),
  * keys (comma list), catalog (rows), warmup (untimed passes or visits).
  */
object Main {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with the listener's job and stage times. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val rec = new Records(args("out"))
    val cores = Runtime.getRuntime.availableProcessors()

    val (ser0, par0) = (Calibration.serial(), Calibration.parallel(cores))
    rec.emit("kind" -> "calibration", "when" -> "before",
      "serial_s" -> ser0, "parallel_s" -> par0)

    val setup0 = nowMs
    val spark = Sessions.build(workload, cores, args("work"))
    val jobs = new JobRecorder
    val aggs = new AggRecorder
    rec.emit("kind" -> "meta", "workload" -> workload, "seed" -> seed,
      "cores" -> cores, "traced" -> traced, "seconds" -> seconds,
      "spark_version" -> spark.version,
      "session" -> Sessions.settings(workload, cores))

    val ops = new Ops(spark, rec, jobs, aggs)
    try workload match {
      case "registry" =>
        val keys = args("keys").split(",").toSeq
        val data = args("data")
        for (_ <- 1 to args("warmup").toInt)
          keys.foreach(k => ops.key(k, data, pass = -1, traceThis = false))
        ops.setupDone((nowMs - setup0) / 1000)
        var pass = 0
        val t0 = nowMs
        val minPasses = if (traced) 2 else 1
        while (pass < minPasses || nowMs - t0 < seconds * 1000) {
          val order = new scala.util.Random(seed * 1000003L + pass).shuffle(keys)
          // traced runs trace half of each pass, each key in every
          // other pass, so traced and untraced calls pair up per key
          order.foreach(k => ops.key(k, data, pass,
            traceThis = traced && (pass + keys.indexOf(k)) % 2 == 1))
          pass += 1
        }
      case "visit_loop" =>
        Visits.run(spark, ops, args, seed, seconds, traced, setup0)
    } finally {
      if (traced) {
        jobs.write(rec, ops.tracedGroups.toSet)
        aggs.write(rec)
      }
      rec.emit("kind" -> "jvm", "peak_heap_mb" -> Jvm.peakHeapMb())
      spark.stop()
      val (ser1, par1) = (Calibration.serial(), Calibration.parallel(cores))
      rec.emit("kind" -> "calibration", "when" -> "after",
        "serial_s" -> ser1, "parallel_s" -> par1)
      rec.close()
    }
  }
}

/** Session settings per workload, copied from the legacy mains: the
  * registry workload uses `graft.Bench`'s AQE settings, `visit_loop`
  * uses `graft.ApSim`'s. `build` adds only the local and warehouse dirs,
  * which keep Spark's scratch files inside the benchmark's work dir. */
object Sessions {
  def settings(workload: String, cores: Int): Map[String, String] = {
    val common = Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.ui.enabled" -> "false")
    if (workload == "visit_loop") common ++ Map(
      "spark.sql.session.timeZone" -> "UTC")
    else common ++ Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m")
  }

  def build(workload: String, cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().appName(s"graftbench-$workload")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    settings(workload, cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One timed call per operation, recorded with its construct/action
  * split, GC time and (traced) job group. The recorders are attached
  * only for the span of a traced operation, so untraced operations,
  * also those of a traced run, run with no benchmark listener at all.
  * Attaching, and draining the listener bus before detaching, happen
  * outside the operation's timed span. */
final class Ops(spark: SparkSession, rec: Records, jobs: JobRecorder, aggs: AggRecorder) {
  private var nextId = 0
  val tracedGroups = scala.collection.mutable.ArrayBuffer.empty[String]
  private val sc = spark.sparkContext

  def setupDone(sec: Double): Unit = note("setup", "setup_s" -> sec)
  def note(kind: String, fields: (String, Any)*): Unit = rec.emit(("kind" -> kind) +: fields: _*)

  /** Runs `f` as operation `kind:name`; returns its result or the error. */
  def run[T](kind: String, name: String, pass: Int, traceThis: Boolean,
      extra: => Seq[(String, Any)] = Nil)(f: (() => Unit) => T): Either[Throwable, T] = {
    nextId += 1
    val group = s"op-$nextId"
    if (traceThis) {
      sc.addSparkListener(jobs)
      aggs.group = group
      spark.listenerManager.register(aggs)
      sc.setJobGroup(group, s"$kind:$name", false)
      tracedGroups += group
    }
    var split: Option[Double] = None
    val gc0 = Main.gcMs
    val s = Main.nowMs
    val out = try Right(f(() => split = Some(Main.nowMs))) catch { case e: Throwable => Left(e) }
    val e = Main.nowMs
    val gc = (Main.gcMs - gc0) / 1000.0
    if (traceThis) {
      sc.clearJobGroup()
      org.apache.spark.graftbench.BusDrain(sc)
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(aggs)
    }
    out.left.foreach(err => System.err.println(s"[graftbench] $kind $name failed: $err"))
    if (pass >= 0) rec.emit(Seq("kind" -> "op", "id" -> nextId, "group" -> group,
      "type" -> kind, "name" -> name, "pass" -> pass, "traced" -> traceThis,
      "start_ms" -> s, "split_ms" -> split, "end_ms" -> e, "gc_s" -> gc,
      "ok" -> out.isRight,
      "error" -> out.left.toOption.map(_.toString.take(300))) ++ extra: _*)
    out
  }

  /** One registry key: construct `fn(spark, dir)`, then `.count()`. */
  def key(name: String, dir: String, pass: Int, traceThis: Boolean): Unit = {
    var rows = -1L
    run("key", name, pass, traceThis, Seq("module" -> Ops.module(name), "rows" -> rows)) { split =>
      val df = SparkEntry.queries(name)(spark, dir)
      split()
      rows = df.count()
    }: Unit
  }
}

object Ops {
  private lazy val modules: Seq[(String, Set[String])] = Seq(
    "core" -> graft.queries.CoreQueries.queries.keySet,
    "geo" -> graft.queries.GeoQueries.queries.keySet,
    "dedup" -> graft.queries.DedupQueries.queries.keySet,
    "text" -> graft.queries.TextQueries.queries.keySet,
    "mining" -> graft.queries.MiningQueries.queries.keySet)
  def module(key: String): String =
    modules.collectFirst { case (m, ks) if ks.contains(key) => m }.getOrElse("other")
}

/** The AP workflow the way `graft.ApSim` drives it: a persisted
  * generated catalog, three survey fields visited in turn, visits back
  * to back, and one nightly maintenance job at the end. */
object Visits {
  def files(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f)
    }

  def run(spark: SparkSession, ops: Ops, args: Map[String, String], seed: Long,
      seconds: Double, traced: Boolean, setup0: Double): Unit = {
    val wh = s"${args("work")}/warehouse"
    val cfg = ApdbConfig(warehouseDir = wh, detectionFraction = 0.9)
    val catalog = DiaSim.genCatalog(spark, args("catalog").toLong, hemi = -1, seed = seed)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    catalog.count()
    val apdb = new ApdbSpark(spark, cfg)
    apdb.acquireWriter()
    apdb.makeSchema(drop = true)
    val warm = args("warmup").toInt
    // timed visits: one whole cycle of the three fields, then more
    // visits until `seconds` have passed; the schedule is long enough
    // for any run
    val schedule = VisitPipeline.visitTimes(Timestamp.valueOf("2026-01-01 01:00:00"),
      warm + 300, cfg.visitIntervalSec)
    def pointing(visitId: Int) =
      Generators.sphereXyz(1, hemi = -1, seed = 5000L + (visitId % 3)).head
    val metricsLog = if (traced) Some(new MetricsLog(wh)) else None
    val stats = scala.collection.mutable.ArrayBuffer.empty[VisitPipeline.VisitStats]
    val parquet = (f: java.io.File) => f.getName.endsWith(".parquet")
    var t0 = 0.0
    val times = schedule.iterator.takeWhile { case (visitId, _) =>
      visitId <= warm + 3 || Main.nowMs - t0 < seconds * 1000
    }.map { case (visitId, ts) =>
      val isWarm = visitId <= warm
      if (visitId == warm + 1) {
        ops.setupDone((Main.nowMs - setup0) / 1000)
        t0 = Main.nowMs
      }
      val traceThis = traced && !isWarm && visitId % 2 == 0
      val files0 = if (traceThis) files(new java.io.File(wh)).count(parquet) else 0
      var st: VisitPipeline.VisitStats = null
      val out = ops.run("visit", s"visit-$visitId", if (isWarm) -1 else visitId,
        traceThis, Seq(
          "visit" -> visitId,
          "n_sources" -> Option(st).map(_.nSources),
          "n_forced" -> Option(st).map(_.nForcedSources),
          "n_transients" -> Option(st).map(_.nTransients),
          "objects_read" -> Option(st).map(_.nObjectsRead),
          "objects_filtered" -> Option(st).map(_.nObjectsFiltered),
          "hist_src" -> Option(st).map(_.historySources),
          "hist_fsrc" -> Option(st).map(_.historyForced))) { _ =>
        st = VisitPipeline.visit(apdb, catalog, visitId, ts, pointing(visitId),
          metrics = if (traceThis) metricsLog else None)
        stats += st
      }
      if (traceThis) ops.note("visit_files", "visit" -> visitId,
        "files_written" -> (files(new java.io.File(wh)).count(parquet) - files0))
      out.left.foreach(e => if (isWarm) throw e)
      (visitId, ts)
    }.toList

    val nightCut = new Timestamp(times.last._2.getTime)
    ops.run("night", "nightly", 0, traced) { _ =>
      MaintenanceTool.runNightly(spark, apdbStore = Some(apdb), asOf = Some(nightCut))
    }: Unit
    metricsLog.foreach(_.close())

    // exactly-once checks through the public readers
    val versions = apdb.getDiaObjectsHistory
    val nVersions = versions.count()
    val nObjIds = versions.select("diaObjectId").distinct().count()
    val nLast = apdb.objectsLast.count()
    val nSrc = apdb.sources.count()
    val nFsrc = apdb.forcedSources.count()
    def perVisit(df: DataFrame): Map[Int, Long] =
      df.groupBy("visit").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val srcByVisit = perVisit(apdb.sources)
    val fsrcByVisit = perVisit(apdb.forcedSources)
    // the generator's own detection count per visit, in one job
    val expected = times.map { case (v, _) =>
      DiaSim.makeSources(spark, catalog, pointing(v), cfg, v)
        .agg(count(lit(1)).as("n")).withColumn("visit", lit(v))
    }.reduce(_ unionByName _).collect().map(r => r.getInt(1) -> r.getLong(0)).toMap
    stats.foreach { s =>
      ops.note("visit_check", "visit" -> s.visitId, "n_sources" -> s.nSources,
        "n_forced" -> s.nForcedSources,
        "stored_sources" -> srcByVisit.getOrElse(s.visitId, 0L),
        "stored_forced" -> fsrcByVisit.getOrElse(s.visitId, 0L),
        "generated_sources" -> expected.getOrElse(s.visitId, -1L))
    }
    val whFiles = files(new java.io.File(wh)).filter(parquet)
    ops.note("store", "versions" -> nVersions, "distinct_object_ids" -> nObjIds,
      "objects_last" -> nLast, "sources" -> nSrc, "forced" -> nFsrc,
      "sum_n_sources" -> stats.map(_.nSources).sum,
      "sum_n_forced" -> stats.map(_.nForcedSources).sum,
      "visits_stored" -> stats.size,
      "data_bytes" -> whFiles.map(_.length).sum,
      "files_after" -> apdb.fileCounts.values.sum,
      "metrics_log" -> s"$wh/metrics.log")
    apdb.releaseWriter()
    catalog.unpersist()
  }
}

/** `graft.Bench`'s fixed-work host calibration: a dependent xorshift
  * chain of 2e8 steps on one core, and the same chain on every core at
  * once. Information only; it never rescales a metric. */
object Calibration {
  private def chain(seed: Long, iters: Int): Long = {
    var x = seed
    var i = 0
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  def serial(): Double = {
    val t0 = System.nanoTime()
    if (chain(0x9E3779B97F4A7C15L, 200000000) == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }
  def parallel(n: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val threads = (0 until n).map { k =>
      val th = new Thread(() => sink.addAndGet(chain(0x9E3779B97F4A7C15L + k, 200000000)))
      th.start(); th
    }
    threads.foreach(_.join())
    if (sink.get() == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }
}

object Jvm {
  /** Sum of the heap pools' peak usage since JVM start, in MB. */
  def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
