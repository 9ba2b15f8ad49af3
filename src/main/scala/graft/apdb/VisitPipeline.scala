package graft.apdb

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geom._

/** Per-visit visit-processing pipeline — the reference's
  * `InMemoryExecutor.visit()` (`_executors.py:126-238`) restated as one
  * Spark job graph per visit:
  *
  *  detections → pad region → pruned snapshot read → exact filter →
  *  source-to-object match (broadcast join) → new object versions →
  *  forced photometry → history reads → store.
  *
  * The reference's fork/MPI tile processes become partition parallelism;
  * its DB round-trips become pruned Parquet scans inside the batch.
  */
object VisitPipeline {

  /** Result counters (the reference's per-visit metrics, A3 /
    * `metrics.md:15-19`). */
  final case class VisitStats(visitId: Int, nObjectsRead: Long,
      nObjectsFiltered: Long, nSources: Long, nForcedSources: Long,
      nTransients: Long, historySources: Long, historyForced: Long,
      /** True when the retry fence FINISHED a crashed attempt's commit
        * instead of re-running the visit — stored counts are exact,
        * read-phase counters are 0 (not recomputed). */
      recovered: Boolean = false)

  /** Persisted resume state (`visit_info.py:28-42`). */
  final case class VisitState(visitId: Int, visitTimeMillis: Long,
      lastObjectId: Long, lastSourceId: Long)

  object VisitStateStore {
    def write(dir: String, s: VisitState): Unit = {
      graft.EstateFs.mkdirs(dir)
      // atomic: a kill mid-write must leave the PREVIOUS state readable,
      // never a torn json (resume would then mis-parse or crash)
      graft.EstateFs.writeStringAtomic(s"$dir/visit_state.json",
        s"""{"visitId":${s.visitId},"visitTimeMillis":${s.visitTimeMillis},"lastObjectId":${s.lastObjectId},"lastSourceId":${s.lastSourceId}}""")
    }
    def read(dir: String): Option[VisitState] = {
      val f = s"$dir/visit_state.json"
      if (!graft.EstateFs.exists(f)) None
      else {
        val txt = graft.EstateFs.readString(f)
        def grab(k: String): Long =
          s""""$k":(-?\\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
        Some(VisitState(grab("visitId").toInt, grab("visitTimeMillis"),
          grab("lastObjectId"), grab("lastSourceId")))
      }
    }
  }

  /** Night-time visit stream (`ap_proto.py:66-81`): 45 s cadence,
    * skipping 06:00–20:00 UTC. */
  def visitTimes(start: Timestamp, count: Int,
      intervalSec: Long = 45L): Seq[(Int, Timestamp)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Timestamp)]
    var t = start.getTime
    var id = 1
    while (out.length < count) {
      val hour = (t / 3600000L) % 24
      if (hour < 6 || hour >= 20) { out += ((id, new Timestamp(t))); id += 1 }
      t += intervalSec * 1000L
    }
    out.toSeq
  }

  /** Process one visit end-to-end. Returns stats; mutates the store.
    *
    * With `metrics` attached, emits the reference's full per-visit record
    * family (`metrics.md` vocabulary): select_time per table,
    * insert_time / tile_store_time from the store (via the apdb sink),
    * select_query_stats fan-out counters, read_counts / store_counts
    * with the reference value keys, and the visit-level timers — so
    * log2csv-style tooling reconstructs the reference's visit CSV from
    * an engine run. */
  def visit(apdb: ApdbSpark, catalog: DataFrame, visitId: Int,
      visitTime: Timestamp, pointing: Vec3,
      metrics: Option[MetricsLog] = None): VisitStats =
    // the whole visit — fence, reads, store, state checkpoint — runs
    // under the warehouse's single-writer lease (round 15): two
    // pipeline processes interleaving staged appends and markers on one
    // warehouse have no upsert keys to reconcile them, so the second
    // gets the designed refusal instead (contention scenario H). A
    // run-scoped holder (ApSim) only pays a heartbeat here.
    apdb.withWriter {
      visitUnderLease(apdb, catalog, visitId, visitTime, pointing, metrics)
    }

  private def visitUnderLease(apdb: ApdbSpark, catalog: DataFrame,
      visitId: Int, visitTime: Timestamp, pointing: Vec3,
      metrics: Option[MetricsLog]): VisitStats = {
    val spark = apdb.spark
    val cfg = apdb.config
    // the pipeline speaks the DB column convention; a client-naming
    // facade would rename read results under it — fail loudly instead
    // of surfacing as an unresolved-column AnalysisException mid-visit
    require(!cfg.clientNaming,
      "VisitPipeline requires ApdbConfig(clientNaming = false); " +
        "client-convention access is for external catalogs via the facade")
    val pix = cfg.skyPix
    val tVisit0 = System.nanoTime()
    metrics.foreach(m => apdb.attachMetrics(m, visitId, visitTime))

    // -- mid-visit retry fence (round 14): a previous attempt at THIS
    // visit may have crashed anywhere in store()'s sequence (executor
    // loss killing a localCheckpoint mid-visit is the designed
    // single-retry exposure — Checkpoints.scala object doc). Two cases,
    // decided by the atomic merge-intent marker store() writes after
    // its last append:
    //  * intent PRESENT — every append of the crashed attempt is
    //    complete and exactly-once; only the DiaObjectLast merge and/or
    //    the state checkpoint are unfinished. FINISH the commit: redo
    //    the touched-bucket merge (idempotent per bucket), reconstruct
    //    the state scalars from the stored rows, advance the
    //    checkpoint. Re-RUNNING the visit here would double the appends
    //    and, worse, read a post-merge `latest` (nDiaSources would
    //    count this visit twice).
    //  * intent ABSENT — the crash predates the merge, so obj_last is
    //    untouched; scrub the partial appends by file provenance and
    //    recompute the visit from scratch (deterministic synthesis ⇒
    //    identical rows). The scrub walk runs ONLY when the attempt
    //    marker shows a previous attempt at this visit actually
    //    started — a first attempt pays one existence probe + one
    //    atomic marker write, nothing table-sized.
    // a compaction that crashed mid-commit must be repaired BEFORE the
    // stale-marker resolution below reads the history tables (a
    // mid-swap table reads as empty — resolving a stale intent against
    // it would rebuild buckets from nothing)
    apdb.recoverMaintenance()
    apdb.clearStaleIntents(visitTime)
    apdb.mergeIntent(visitTime) match {
      case Some(touched) =>
        apdb.redoObjLastMerge(visitTime, touched)
        val prior = VisitStateStore.read(cfg.warehouseDir)
          .getOrElse(VisitState(0, 0L, Schemas.TransientStartId - 1, 0L))
        val myVersions = apdb.versionsAt(visitTime)
        // every version row of THIS visit with a transient-space id IS a
        // new transient (old transients are never re-detected — they get
        // forced photometry at most, which writes no version rows), so
        // the stored rows give an EXACT count regardless of whether the
        // crashed attempt died before or after the state checkpoint;
        // id-delta arithmetic against `prior` would read 0 in the
        // post-checkpoint window. The high-water mark is their max (or
        // the prior mark, already advanced in that window).
        val isTrans = col("diaObjectId") >= Schemas.TransientStartId
        val rec = myVersions.agg(
          coalesce(max(when(isTrans, col("diaObjectId"))),
            lit(prior.lastObjectId)),
          coalesce(sum(when(isTrans, 1L).otherwise(0L)), lit(0L))).head()
        val newLastId = rec.getLong(0)
        val nRecTrans = rec.getLong(1).toInt
        val nRecSources = apdb.sourcesAtVisit(visitId).count()
        val nRecForced = apdb.forcedAtVisit(visitId).count()
        // step-5 parity: a clean run applies chunk retention inside
        // store(); without this, chunk partitions a clean run would
        // have dropped persist until the NEXT visit's store (partition
        // drops are idempotent, so re-applying is safe)
        apdb.dropExpiredChunks(visitTime): Unit
        VisitStateStore.write(cfg.warehouseDir, VisitState(visitId,
          visitTime.getTime, newLastId,
          visitId.toLong * 1000000L + nRecSources))
        // attempt marker FIRST, intent second: a crash between the two
        // deletes must leave (intent present, marker gone) — a redo
        // resolves that through this idempotent recovery path. The
        // reverse order leaves (intent gone, marker present), which a
        // redo reads as "crashed pre-merge": it would scrub the
        // COMMITTED version rows and recompute against the already-
        // merged obj_last, double-counting nDiaSources.
        apdb.clearAttempt(visitTime)
        apdb.clearMergeIntent(visitTime)
        // the crashed attempt never reached store()'s view refresh, and
        // the redo above rewrote obj_last's files — re-snapshot the SQL
        // views so registered-view readers can't hit deleted parquet
        // paths or pre-visit rows (registerViews' staleness guarantee)
        apdb.refreshViews()
        apdb.detachMetrics()
        // read-phase counters are not recomputed on recovery (the reads
        // were only consumed by the now-finished store) — flagged
        return VisitStats(visitId, 0L, 0L, nRecSources, nRecForced,
          nRecTrans, 0L, 0L, recovered = true)
      case None =>
        if (apdb.priorAttempt(visitTime)) apdb.scrubVisitAppends(visitTime)
        else apdb.markAttempt(visitTime)
    }

    // Track this visit's localCheckpoint frames so a FAILED visit
    // releases them too: the explicit success-path releases below never
    // run when store() throws (executor loss, fault injection), and an
    // in-process retry — the chaos probe, any catching caller — would
    // otherwise strand an FOV-sized block set per failed attempt
    // (ScaleSpec's leak guard caught the crash tests doing exactly
    // that). Release is idempotent, so the success path double-release
    // is a no-op.
    val checkpointed = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Dataset[_]]
    def tracked[T](ds: org.apache.spark.sql.Dataset[T])
        : org.apache.spark.sql.Dataset[T] = {
      checkpointed += ds; ds
    }
    def releaseTracked(): Unit = checkpointed.foreach { f =>
      scala.util.Try(
        org.apache.spark.sql.GraftColumnBridge.releaseLocalCheckpoint(f))
    }
    try {
    def timedSec[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val out = f
      (out, (System.nanoTime() - t0) / 1e9)
    }
    def timer(name: String, table: String, sec: Double): Unit =
      metrics.foreach(_.timer(visitTime, name, visitId, table, sec))
    def record(name: String, table: String, kv: Seq[(String, Double)]): Unit =
      metrics.foreach(_.record(visitTime, name, visitId, table, kv))

    // 1. DIA detections for this visit — timed separately because this
    //    stage contains the catalog access (cached scan, FOV-pruned
    //    persisted read, or regeneration), the term the 1000×-scale
    //    analysis decomposes on
    val (detections, detectSec) = timedSec {
      tracked(DiaSim.makeSources(spark, catalog, pointing, cfg, visitId)
        .localCheckpoint(true)) // one materialization; reused 4 times below
    }
    timer("detect_time", "all", detectSec)

    // 2. padded region (F5: exact dilation for circles, geom.py:300-301)
    val region = Circle(pointing, cfg.fovRad / 2)
    val padRad = math.toRadians(cfg.regionPaddingArcsec / 3600.0)
    val padded = region.padded(padRad)
    // history-prune region: one MORE padding level than the object read.
    // A matched object can sit up to padRad outside the FOV, and its
    // historical sources scatter up to another association radius around
    // the object — so a history row can lie ~2x padRad outside the FOV.
    // Pruning history scans with `padded` alone would rely on coarse-
    // bucket slop to cover that second offset; padding again makes the
    // bucket prune strictly result-identical to the ids-only contract.
    val historyRegion = padded.padded(padRad)

    // 3. spatial read: latest objects in envelope (S2), then exact
    //    region filter (F4) — two-phase. The pre-filter count rides the
    //    SAME scan as an observe metric: a separate latestRaw.count()
    //    would re-run the pruned parquet read a second time per visit.
    val obsRead = org.apache.spark.sql.Observation()
    val latestRaw = apdb.getDiaObjects(padded)
      .observe(obsRead, count(lit(1)).as("n"))
    val ((latest, nRead, nFiltered), objSelectSec) = timedSec {
      val l = tracked(latestRaw
        .where(SparkGeo.containsRaDec(padded, col("ra"), col("dec")))
        .localCheckpoint(true)) // small FOV-sized set; reused 3 times
      (l, obsRead.get("n").asInstanceOf[Long], l.count())
    }
    timer("select_time", "DiaObject", objSelectSec)

    // 4. transient ID assignment (stateful counter, ap_proto.py:329-332)
    val state = VisitStateStore.read(cfg.warehouseDir)
      .getOrElse(VisitState(0, 0L, Schemas.TransientStartId - 1, 0L))
    // Resume guard: a state persisted under an OLDER (smaller)
    // TransientStartId would keep allocating ids below the current
    // constant — still colliding with variable ids at billion-row
    // catalogs (the defect the 4e12 bump fixed), and id-space
    // classification (diaObjectId >= TransientStartId) would
    // misclassify its transients as variables. Refuse loudly; the
    // operator must rebuild the catalog or migrate its ids.
    require(state.lastObjectId >= Schemas.TransientStartId - 1,
      s"VisitPipeline: resumed lastObjectId ${state.lastObjectId} is " +
        s"below TransientStartId ${Schemas.TransientStartId} — this " +
        "catalog was written under an older id-space constant; rebuild " +
        "it (makeSchema(drop = true)) or migrate its transient ids " +
        "before resuming")
    // rank only within the transient partition so ids are 1..nTransients
    val wTrans = Window.partitionBy(col("is_transient"))
      .orderBy(col("x"), col("y"), col("z"))
    val nTransients = detections.where(col("is_transient")).count()
    val withIds = detections
      .withColumn("tid", when(col("is_transient"),
        row_number().over(wTrans) + state.lastObjectId).otherwise(col("diaObjectId")))
      .withColumn("diaObjectId", col("tid")).drop("tid")

    // 5. DiaSource rows (C1 xyz→radec, W2 deterministic IDs,
    //    _executors.py:375-430); single detector 0 in local mode — the
    //    cluster path partitions by tile and offsets by detector id.
    val (raC, decC) = SparkGeo.raDec(col("x"), col("y"), col("z"))
    val wSrc = Window.partitionBy(col("detector")).orderBy(col("ra"), col("dec"))
    val mjdNow = apdb.mjd(visitTime)
    val newSources = withIds
      .withColumn("ra", raC).withColumn("dec", decC)
      .withColumn("detector", lit(0))
      .withColumn("diaSourceId",
        lit(visitId.toLong * 1000000L) + row_number().over(wSrc))
      .withColumn("visit", lit(visitId))
      .withColumn("parentDiaSourceId", lit(0L))
      .withColumn("psFlux", lit(1.0))
      .withColumn("psFluxErr", lit(0.01))
      .withColumn("midpointMjdTai", lit(mjdNow))
      .withColumn("pixelId", SparkGeo.pixelIndexSky(pix, col("x"), col("y"), col("z")))
      .select(Schemas.diaSource.fieldNames.map(col).toSeq :+ col("is_transient"): _*)
      .transform(d => tracked(d.localCheckpoint(true)))
    val nSources = newSources.count()

    // 6. source-to-object match (J1: broadcast hash join replaces the
    //    reference's dict probe, _executors.py:315-323) → new versions
    val prior = latest.select(col("diaObjectId"),
      col("nDiaSources").as("prior_n"))
    val newObjects = newSources
      .join(broadcast(prior), Seq("diaObjectId"), "left_outer")
      .withColumn("nDiaSources", (coalesce(col("prior_n"), lit(0)) + 1).cast("int"))
      .withColumn("lastNonForcedSource", lit(visitTime))
      .select(col("diaObjectId"), col("ra"), col("dec"), col("nDiaSources"),
        col("lastNonForcedSource"), col("pixelId"))

    // 7. forced photometry (J5 anti-join + F6 eligibility + F7 projection,
    //    _executors.py:332-373): known objects NOT re-detected this visit,
    //    nDiaSources > 1, last detection within forcedCutoffDays
    val cutoffTs = new Timestamp(visitTime.getTime -
      cfg.forcedCutoffDays.toLong * 86400000L)
    // materialized once like latest/newSources: store() alone executes
    // the frame three times (one isEmpty probe, then the append and the
    // mirror as concurrent jobs of its wave) and the stats count makes
    // four — an FOV-sized anti-join re-run four times inside the 45 s
    // budget
    val forced = latest
      .join(newSources.select(col("diaObjectId")), Seq("diaObjectId"), "left_anti")
      .where(col("nDiaSources") > 1 &&
        col("lastNonForcedSource") > lit(cutoffTs))
      .select(col("diaObjectId"), col("ra"), col("dec"),
        lit(visitId).as("visit"), lit(0).as("detector"),
        lit(mjdNow).as("midpointMjdTai"), col("pixelId"))
      .transform(d => tracked(d.localCheckpoint(true)))

    // 8. history reads (S3/S4 + J2 semi-join, _executors.py:205-217),
    //    gated by the source-read duty cycle (_executors.py:162-164):
    //    read iff visit % period < round(period * duty_cycle)
    val matchedIds = newObjects.select(col("diaObjectId"))
    val doReadSrc = visitId % cfg.srcReadPeriod <
      math.round(cfg.srcReadPeriod * cfg.srcReadDutyCycle)
    val (histSrc, histFsrc, histSec) =
      if (!doReadSrc) (0L, 0L, 0.0)
      else {
        // ids came from the padded-region read, so every history row
        // lies inside the DOUBLY-padded FOV (object offset + source
        // scatter, see historyRegion above) — pass it so the history
        // scan bucket-prunes to FOV size instead of table size (the
        // r9 soak's one growing term)
        val (hs, srcSelectSec) =
          timedSec(apdb.getDiaSources(matchedIds, visitTime,
            region = Some(historyRegion)).count())
        timer("select_time", "DiaSource", srcSelectSec)
        val (hf, fsrcSelectSec) =
          timedSec(apdb.getDiaForcedSources(matchedIds, visitTime,
            region = Some(historyRegion)).count())
        timer("select_time", "DiaForcedSource", fsrcSelectSec)
        (hs, hf, srcSelectSec + fsrcSelectSec)
      }
    // whole read phase (`metrics.md` tile_read_time; single tile locally)
    timer("tile_read_time", "all", objSelectSec + histSec)

    // 9. store (S5) — emits tile_store_time + per-table insert_time
    //    through the attached sink
    apdb.store(visitTime, newObjects, newSources.drop("is_transient"), forced)

    // 10. checkpoint state (T3), then retire the markers — the intent
    //     must outlive the state write so a crash between the merge and
    //     here stays recoverable, and the attempt marker must go BEFORE
    //     the intent (a crash between the deletes then leaves intent-
    //     present, which a redo resolves through the idempotent
    //     recovery path; the reverse leaves marker-only, which a redo
    //     reads as "crashed pre-merge" and scrubs COMMITTED rows —
    //     see the recovery branch comment)
    val maxSrcId = visitId.toLong * 1000000L + nSources
    VisitStateStore.write(cfg.warehouseDir, VisitState(visitId,
      visitTime.getTime, state.lastObjectId + nTransients, maxSrcId))
    apdb.clearAttempt(visitTime)
    apdb.clearMergeIntent(visitTime)

    val nForced = forced.count()
    // reference-keyed counter records (`log2csv.py:134-151` consumers)
    record("read_counts", "DiaObject",
      Seq("objects" -> nRead.toDouble, "objects_filtered" -> nFiltered.toDouble,
        "row_count" -> nRead.toDouble))
    record("read_counts", "DiaSource",
      Seq("sources" -> histSrc.toDouble, "row_count" -> histSrc.toDouble))
    record("read_counts", "DiaForcedSource",
      Seq("forcedsources" -> histFsrc.toDouble, "row_count" -> histFsrc.toDouble))
    record("store_counts", "all",
      Seq("objects" -> nSources.toDouble, "sources" -> nSources.toDouble,
        "forcedsources" -> nForced.toDouble,
        "row_count" -> (2 * nSources + nForced).toDouble))
    // release this visit's checkpoint blocks NOW: every consumer above
    // has run, and without the explicit release each visit strands an
    // FOV-sized block set until a driver GC triggers the ContextCleaner
    // — at 100× scale that built tens of GB of dead blocks and the
    // eviction storms showed up as 2-3x visit-latency spikes (round-5
    // soak, visits 22-26). The tracked list covers EVERY frame this
    // visit checkpointed — a new tracked() call site is released here
    // automatically instead of needing a matching hand-written release
    releaseTracked()
    val totalSec = (System.nanoTime() - tVisit0) / 1e9
    // single-tile local mode: per-tile == per-visit == total
    timer("tile_visit_time", "all", totalSec)
    timer("visit_processing_time", "all", totalSec)
    timer("total_visit_time", "all", totalSec)
    apdb.detachMetrics()

    VisitStats(visitId, nRead, nFiltered, nSources, nForced, nTransients,
      histSrc, histFsrc)
    } catch {
      case e: Throwable =>
        releaseTracked() // a failed visit must not strand FOV-sized blocks
        apdb.detachMetrics()
        throw e
    }
  }
}
