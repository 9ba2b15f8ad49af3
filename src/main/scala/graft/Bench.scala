package graft
object Bench {

  /** Fixed CPU-reference loop (single-threaded integer work, no JIT
    * surprises at this size): the host this benchmark runs on drifts
    * measurably between rounds (VERDICT r5 saw a uniform ~1.25× per-key
    * inflation), so every bench line carries `calibration_s` — compare
    * rounds on `time / calibration_s`, not raw seconds. */
  private def chain(seed: Long, iters: Int): Long = {
    // xorshift chain: each step depends on the last, so the JIT can
    // neither vectorize nor fold it to a closed form
    var x = seed
    var i = 0
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    x
  }

  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val x = chain(0x9E3779B97F4A7C15L, 200000000)
      if (x == 42L) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    once() // JIT warm-up pass, discarded
    val runs = Seq.fill(3)(once())
    runs.min // min = least-interrupted sample of the fixed work
  }

  /** All-cores companion to [[calibrate]]: the single-threaded figure was
    * IDENTICAL across r5/r6 (0.42 s) while driver totals moved 28%, which
    * means the drift is co-tenant multi-core contention, not per-core
    * speed (VERDICT r6 "what's wrong" #2). This runs the same fixed
    * xorshift chain on every core at once and reports the wall time for
    * ALL of them to finish — contention inflates it proportionally, so
    * `time / calibration_par_s` normalizes the parallel parts of a query
    * the way `time / calibration_s` normalizes the serial parts. */
  private def calibratePar(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    def once(): Double = {
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
    once() // warm-up, discarded
    val runs = Seq.fill(3)(once())
    runs.min
  }

  /** The committed record band (bench_record.json): ([serial lo, hi],
    * [par lo, hi]) — absent when the file is missing or unparseable
    * (ad-hoc checkouts), in which case no gating applies. */
  private def recordBand(): Option[(Array[Double], Array[Double])] =
    scala.util.Try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_RECORD", "bench_record.json"))), "UTF-8")
      def band(key: String): Array[Double] = {
        val m = (s""""$key":\\s*\\[([0-9.]+),\\s*([0-9.]+)\\]""").r
          .findFirstMatchIn(txt).get
        Array(m.group(1).toDouble, m.group(2).toDouble)
      }
      (band("calibration_band_s"), band("calibration_par_band_s"))
    }.toOption

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val calibration = calibrate()
    val calibrationPar = calibratePar()
    // Calibration gate (VERDICT r13 next #2): r13's stamped artifact
    // was a degraded-host snapshot (+46% calibration, 32 keys inflated
    // behind unchanged code) that needed judge-side forensics to
    // un-read as a regression. The band's LOWER edge is the
    // least-contended observation of the fixed work; a run measuring
    // >20% above it is co-loaded and must say so itself: the artifact
    // self-stamps degraded_host:true and every key gets a THIRD run
    // (min-of-3 floor) so per-key numbers carry the best evidence the
    // window allows. The stamp is information, not suppression — the
    // run still lands, honestly labeled.
    val band = recordBand()
    val degradedHost = band.exists { case (ser, par) =>
      calibration > ser(0) * 1.2 || calibrationPar > par(0) * 1.2
    }
    val perKeyRuns = if (degradedHost) 3 else 2
    if (degradedHost)
      System.err.println(f"[bench] DEGRADED HOST: calibration $calibration%.3f" +
        f"/${calibrationPar}%.3f s vs record band " +
        band.map { case (s, p) => s"[${s(0)},${s(1)}]/[${p(0)},${p(1)}]" }.getOrElse("?") +
        " — stamping degraded_host:true and using min-of-3 per key")
    val spark = MasterConf.session(cpus)
    // warm up codegen/JIT + the file index of every table so the first
    // timed query doesn't absorb one-time session costs
    try {
      spark.range(1000000L).agg(org.apache.spark.sql.functions.sum("id")).count()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        graft.queries.Tables.t(spark, sfDir, t).count()
      }
      // Warm the typed-Dataset ANN kernel path (encoder codegen, the
      // BoundedTopK mapPartitions heap, float-array scoring JIT): the
      // judge isolated ~1.3–1.7 s of one-time cost that otherwise lands
      // on whichever ANN key the registry iterates first (VERDICT r6
      // "what's wrong" #1 — x14 looked 4× slower in r6 purely because
      // r6's new keys moved it to the front of the Map). One throwaway
      // run of the brute-force kernel absorbs it outside the timers.
      SparkEntry.queries("x3_topk_similarity")(spark, sfDir).count()
    } catch { case _: Throwable => }
    // failures are recorded as -1 s (never near-zero timings that would
    // flatter the total) and reported in the JSON + on stderr
    val selected = // optional args = key filter for local iteration
      if (args.isEmpty) SparkEntry.queries
      else {
        // a typo'd key must fail loudly, never print a green 0.0s total
        val unknown = args.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) {
          System.err.println(s"[bench] unknown key(s): ${unknown.mkString(", ")}")
          spark.stop(); sys.exit(1)
        }
        SparkEntry.queries.filter { case (k, _) => args.contains(k) }
      }
    // Per-key min-of-two (VERDICT r7 "next" #2): each new expression
    // family (ANN kernels in r6, the z-order/hilbert codegen family in
    // r7) pays one-time codegen/JIT on whichever registry key happens to
    // run it first, so single-shot timings depend on Map iteration order.
    // Running every key twice back-to-back and reporting the min makes
    // the record the PLAN's cost, structurally, instead of chasing each
    // new family with another warm-up line. Both raw runs are preserved
    // in bench_full.json for drift audits.
    val results = selected.map { case (name, fn) =>
      def once(): Double = {
        // (Deliberately NO System.gc() here: forcing a full GC before
        // each timed run was measured r9 and made every key ~20% slower
        // — post-full-GC execution pays reallocation/ref-processing
        // costs inside the timed region. The r8 x60 warm-run anomaly
        // (run 2 = 3× run 1, walk-order dependent, unreproducible in
        // isolation or at r9 HEAD) matches a major GC landing mid-run;
        // min-of-two absorbs it.)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
      }
      // min-of-N (N=2 normally, 3 on a degraded host): a key whose
      // FIRST run fails records -1 without burning further runs; a
      // flaky later run keeps the valid measurements (ADVICE r8).
      val runs = scala.collection.mutable.ArrayBuffer[Double](once())
      while (runs.length < perKeyRuns && runs.head >= 0) runs += once()
      val okRuns = runs.filter(_ >= 0)
      val sec = if (okRuns.isEmpty) -1.0 else okRuns.min
      (name, sec, runs.toSeq)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ok = results.collect { case (_, v, _) if v >= 0 => v }
    val failures = results.count(_._2 < 0)
    val total = if (ok.nonEmpty) ok.sum else 0.0
    // The stdout line must survive the driver's 2000-char stdout-tail
    // capture to be parseable in BENCH_r{N}.json (VERDICT r11 #8: r11's
    // tail kept 62 of 155 keys and parsed=null). Full-precision
    // full-name map goes to bench_full.json below; stdout carries every
    // key under its unique leading token ("x108", "a1"; full name kept
    // on the rare collision) at 2-decimal seconds — ~1.8 KB for 155
    // keys, inside the window.
    val shortNames = {
      // minimal-unique token prefix: start at the leading token, extend
      // only the colliding groups one token at a time ("j3" →
      // "j3_pixel_range" vs "j3_range_join_htm"/"j3_range_join_q3c")
      val keys = results.map { case (k, _, _) => k }.toSeq
      val toks = keys.map(k => k -> k.split("_")).toMap
      var depth = keys.map(_ -> 1).toMap
      def pref(k: String) = toks(k).take(depth(k)).mkString("_")
      var changed = true
      while (changed) {
        changed = false
        keys.groupBy(pref).valuesIterator.foreach { grp =>
          if (grp.size > 1) grp.foreach { k =>
            if (depth(k) < toks(k).length) {
              depth = depth.updated(k, depth(k) + 1); changed = true
            }
          }
        }
      }
      keys.map(k => k -> pref(k)).toMap
    }
    def us(fmt: String, v: Double): String =
      fmt.formatLocal(java.util.Locale.US, v)
    val qsShort = results.map { case (k, v, _) =>
      "\"" + shortNames(k) + "\":" + (if (v < 0) "-1" else us("%.2f", v))
    }.mkString("{", ",", "}")
    val bandJson = band.map { case (s, p) =>
      s""","calibration_band_s":[${s(0)},${s(1)}],"calibration_par_band_s":[${p(0)},${p(1)}]"""
    }.getOrElse("")
    val line = s"""{"metric":"total","value":${us("%.2f", total)},"unit":"sec","queries":$qsShort,"n_keys":${results.size},"queries_file":"bench_full.json","failures":$failures,"calibration_s":${us("%.3f", calibration)},"calibration_par_s":${us("%.3f", calibrationPar)},"degraded_host":$degradedHost,"per_key_runs":$perKeyRuns,"sf":"$sfDir"}"""
    println(line)
    // Full record to a file (VERDICT r7 "next" #3): the driver's stdout
    // capture truncates to a tail (59 of 151 keys survived in r7), which
    // blocks complete round-over-round audits. Write the whole per-key
    // map — min plus both raw runs — where the driver can pick it up.
    val runsJson = results.map { case (k, _, rs) =>
      s"\"" + k + "\":" + rs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Round + time stamp (VERDICT r12 next #6): Bench overwrites
    // bench_full.json every invocation, so an unstamped file reads as
    // "whichever run happened last" in a round-over-round audit. The
    // round guess is 1 + the highest BENCH_r<N>.json the driver has
    // already landed in the cwd (this run's record precedes its own
    // artifact); ad-hoc runs outside the repo root stamp round -1.
    val round = {
      val re = "BENCH_r(\\d+)\\.json".r
      Option(new java.io.File(".").list()).map(_.toSeq).getOrElse(Seq.empty)
        .collect { case re(n) => n.toInt }
        .maxOption.map(_ + 1).getOrElse(-1)
    }
    val stamp = {
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd'T'HH:mm:ss'Z'")
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      fmt.format(new java.util.Date())
    }
    val full = s"""{"metric":"total","value":$total,"unit":"sec","round":$round,"written_at":"$stamp","queries":$qs,"runs":$runsJson,"failures":$failures,"calibration_s":$calibration,"calibration_par_s":$calibrationPar,"degraded_host":$degradedHost,"per_key_runs":$perKeyRuns$bandJson,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable => System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
