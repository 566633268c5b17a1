package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints TWO JSON lines (full report first, then a compact
  * totals-only summary as the very last line, sized to survive any bounded
  * stdout tail capture) and writes BOTH to committed files — the full
  * per-query report to `SPARK_GRAFT_BENCH_OUT` and the compact summary to
  * the fixed path `BENCH_SUMMARY.json` — so cross-round per-query diffs are
  * a `jq` call and the driver's summary parse never depends on log
  * scraping (r8 verdict #3: sbt's `[info] ` stdout prefix defeated the
  * driver's JSON parse three rounds running; a side file has no prefix).
  *
  * Timing semantics: `value` is the best-WARM total (cold totals carried
  * alongside as `value_cold`) — one-shot timings on deep pipelines are
  * 60-70% codegen/JIT warm-up, so warm is the cross-round comparable
  * number. `stream_*` queries report the MEDIAN of >= 3 warm runs (their
  * state-store setup carries ±3x session noise, so a single best-of is not
  * signal) plus the final micro-batch's state-store row counts.
  *
  * A query that throws is never reported as a healthy fast time: every
  * failed run records its exception class, failed runs are excluded from
  * the warm statistic, and the summary line carries the failure count.
  *
  * Suspicious rows SELF-ADJUDICATE on two per-query triggers (streams
  * excluded — their median-of-3+ protocol already absorbs state-store
  * setup noise): (A) warm>cold inversion — any batch query whose warm
  * statistic exceeds 1.5x its cold time by more than 0.3 s (r8 verdict
  * #1: three rounds of single-warm-run captures produced inversions that
  * manual isolated re-runs kept refuting); (B) cross-ROUND regression —
  * warm more than 3x the prior committed round's warm for the same query
  * after normalizing by the calibration ratio (r9 verdict #3: the
  * inversion-only trigger missed the slow-both-ways class —
  * sample_stratified 14x with cold slow too, so no inversion fired); (C)
  * cross-ROUND COLD regression with the same cost weighting (r11 verdict
  * #4: a 172 s cold — 20x prior — escaped both warm-keyed triggers). The
  * STREAM class self-adjudicates as a GROUP (r12 verdict #4): if the
  * class median of calib-normalized warm ratios vs the prior round
  * exceeds 2x, every stream row re-runs solo and the solo medians
  * substitute — r12's ~3x in-suite inflation of byte-unchanged stream
  * rows was hand-folded in prose; the machinery owns it now. The prior
  * file is `SPARK_GRAFT_PRIOR` or the newest `BENCH_LOCAL_r*.json` that
  * is not this run's output.
  *
  * Triggered rows are re-timed SOLO at the end of the suite — after a
  * full drain and an explicit GC, so the ContextCleaner has reclaimed the
  * suite's broadcast/shuffle debris — with one cold and THREE warm runs,
  * calib re-measured before the phase and after EVERY block
  * (`"readjudicated": {cold, runs, warm, calib_sec, calib_sec_after}`;
  * a failed re-run is null, never a healthy-looking time). The folded
  * statistic is the solo MEDIAN; a solo median WORSE than the in-suite
  * number beyond the block's own measured drift is flagged
  * `readjudication_suspect` and NOT folded (r12 verdict #3: the old
  * min-of-2 fold pushed a 10x-noise-inflated solo warm into the driver's
  * headline — solo is not automatically cleaner). The in-suite `warm`
  * stays in `value` (cross-round comparability); `value_adjudicated` —
  * the total with accepted solo medians folded in — is the HEADLINE the
  * driver handshake should read (r10 verdict #3: the raw total overstated
  * by 83 s of refuted noise). The cross-round trigger is cost-weighted
  * and MONOTONE in prior cost (r15 ADVICE: the old 3x mid-tier made
  * [1,2) s rows the blind spot): queries whose prior warm is >= 1 s
  * (calibration-normalized) trigger at 2x with a 0.3 s floor, and
  * SUB-SECOND rows at 1.5x with a 0.15 s jitter floor (r14 verdict #3:
  * seven 1.5-2.1x sub-second regressions sailed under both the 3x factor
  * and the 0.3 s absolute floor and had to be adjudicated by prose — for
  * cheap rows the ratio is the signal).
  */
object Bench {

  /** Self-adjudication trigger predicate — pure and static so a spec can
    * replay committed bench files against it. Four triggers:
    * (A) in-suite warm>cold inversion; (B) cross-round WARM regression,
    * cost-weighted and monotone (2x for prior warm >= 1 s normalized,
    * 1.5x + 0.15 s floor for sub-second rows — r14 verdict #3 /
    * r15 ADVICE);
    * (C) cross-round COLD regression, same cost weighting (r11 verdict #4:
    * corpus_clean_incr's 172 s cold — 20x its r10 cold — sailed past both
    * warm-keyed triggers because nothing looked at cold-vs-prior-cold);
    * (D) a NEW query — present in this run, absent from a non-empty prior
    * file — readjudicates unconditionally once if it costs over the 0.3 s
    * jitter floor (r16: sim_ivfpq_batch's first committed in-suite warm
    * was 22.9 s against a 12.7 s solo median, and no prior-keyed trigger
    * COULD fire on a row with no prior — the first committed number of
    * any query deserves one solo block).
    * Streams have their own tier (r16 verdict #2): the inversion trigger
    * (A) stays off — their median-of-3+ protocol absorbs the state-store
    * setup noise that would fire it every round — but the cross-round
    * WARM compare (B) applies with the same monotone factors, because
    * that protocol is blind to genuine round-over-round regressions (the
    * r16 driver window read stream_pattern at 5.8x its prior and no
    * trigger COULD examine it).
    */
  private[graft] def shouldReadjudicate(
      isStream: Boolean, hasErr: Boolean, noWarm: Boolean,
      cold: Double, warmStat: Double,
      priorWarm: Option[Double], priorCold: Option[Double],
      calibRatio: Double, newQuery: Boolean = false): Boolean = {
    if (hasErr || noWarm) false
    else if (isStream) {
      // STREAM tier (r16 verdict #2): streams were excluded from every
      // per-query trigger, so a genuine cross-round stream regression
      // (the driver window's stream_pattern at 5.8x its prior) could
      // never be examined by machinery. Their median-of-3+ protocol
      // absorbs IN-SUITE state-store setup noise, so the inversion
      // trigger stays off — but the CROSS-ROUND compare of committed
      // medians uses the same monotone cost-weighted factors as batch
      // rows, re-adjudicating via one solo median-of-3 block. Cold stays
      // untriggered for streams (cold includes one-time checkpoint-dir
      // setup, the noise class the median protocol exists to absorb).
      priorWarm.exists { p =>
        val pn = p * calibRatio
        val (factor, floor) = if (pn >= 1.0) (2.0, 0.3) else (1.5, 0.15)
        !p.isNaN && p > 0 && warmStat > factor * pn && warmStat - pn > floor
      }
    }
    else if (newQuery && warmStat > 0.3) true
    else {
      def regressed(now: Double, prior: Option[Double]): Boolean =
        prior.exists { p =>
          val pn = p * calibRatio
          // cost-weighted tiers, MONOTONE in prior cost (r15 ADVICE: the
          // old three-tier ladder made [1,2) s the LEAST sensitive tier
          // at 3x — a 1.9 s -> 5.5 s regression stayed quiet while a
          // 0.9 s -> 1.4 s one fired). The sub-second tier is r14
          // verdict #3: seven byte-unchanged rows regressed 1.5-2.1x
          // (json_extract 0.39 -> 0.84) and escaped both the 3x factor
          // AND the 0.3 s absolute floor — for rows under ~1 s the ratio
          // IS the signal, so they trigger at 1.5x with only a jitter
          // floor (0.15 s) to keep 50 ms wobble from re-running the
          // suite; everything at or above 1 s triggers at 2x.
          val (factor, floor) =
            if (pn >= 1.0) (2.0, 0.3)
            else (1.5, 0.15)
          !p.isNaN && p > 0 && now > factor * pn && now - pn > floor
        }
      val inversion = warmStat > 1.5 * cold && warmStat - cold > 0.3
      inversion || regressed(warmStat, priorWarm) || regressed(cold, priorCold)
    }
  }

  private[graft] def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted; s(s.size / 2) // upper median — the stream fold's pick
  }

  /** GROUP-level stream trigger (r12 verdict #4): streams are excluded
    * from the per-query triggers (their ±3x state-store setup noise would
    * fire the inversion trigger every round), but r12 showed the class
    * inflating ~3x IN-SUITE as a group on byte-unchanged rows — solo
    * medians at parity — and the fold was hand-written prose. If the
    * MEDIAN calib-normalized warm ratio vs the prior round across the
    * stream class exceeds 2x, the whole class re-runs solo and the solo
    * medians substitute. Median, not any single row: one genuinely
    * regressed stream should fire a future per-query mechanism, not drag
    * the whole class through a re-run.
    */
  private[graft] def streamGroupRegressed(ratios: Seq[Double]): Boolean =
    ratios.nonEmpty && medianOf(ratios) > 2.0

  /** Fold decision for one readjudicated row (r12 verdict #3, pure for
    * spec replay): the solo warm statistic is the MEDIAN of the >= 3 solo
    * warm runs (min hid nothing when all solo runs landed in a bad host
    * window, and a single lucky min is not evidence either); a solo
    * median WORSE than the in-suite number by more than the measured
    * host drift (max of the block's before/after calib over the suite
    * calib) plus the 0.3 s jitter floor is SUSPECT — the r12 driver run
    * folded a 10x-noise-inflated 65.8 s solo warm into the headline on
    * the assumption that solo == cleaner, which that round disproved.
    * Returns (folded warm or None to keep the in-suite number, suspect).
    */
  private[graft] def foldReadjudicated(inSuiteWarm: Double,
      soloWarms: Seq[Double], suiteCalib: Double,
      calibBefore: Double, calibAfter: Double): (Option[Double], Boolean) =
    if (soloWarms.isEmpty) (None, false)
    else {
      val solo = medianOf(soloWarms)
      val drift =
        if (suiteCalib > 0) math.max(1.0, math.max(calibBefore, calibAfter) / suiteCalib)
        else 1.0
      val suspect = solo > inSuiteWarm * drift + 0.3
      if (suspect) (None, true) else (Some(solo), false)
    }

  /** Inter-query heap drain, one step (pure but for the injected
    * `drain`, which collects and returns the used-heap fraction after).
    * The drain fires every 15 queries, and also whenever used heap is
    * above 60% of max — unless an earlier drain left it above 60%: a live
    * set no collection reclaims would otherwise force a full GC after
    * every query, so the step backs off to the 15-query cadence until a
    * reading drops below the threshold. Returns the back-off flag for
    * the next step.
    */
  private[graft] def heapDrain(i: Int, usedFrac: Double, backedOff: Boolean)(
      drain: () => Double): Boolean = {
    val pressure = usedFrac > 0.6
    if (i % 15 == 14 || (pressure && !backedOff)) drain() > 0.6
    else backedOff && pressure
  }

  /** The round number this run's local report should be named for —
    * derived from the repo's own committed artifacts instead of a
    * hard-coded constant (r13 verdict #1: the default output name was the
    * literal "BENCH_LOCAL_r12.json", so the driver's r13 run overwrote
    * round 12's committed artifact and broke the spec that replayed it).
    * One authoritative rule: the CURRENT round is one past the newest
    * round any driver/judge artifact records — the VERDICT.md header
    * ("# VERDICT — round N", written when round N closes) and the
    * `BENCH_rN.json` / `CORRECTNESS_rN.json` files (written by the driver
    * for round N). Max of all signals + 1, so a stale VERDICT can never
    * pull the name backwards onto a committed file; overshooting is
    * harmless (a fresh name), undershooting is the clobber this fixes.
    * Pure (inputs passed in) so a spec can replay it.
    */
  private[graft] def deriveRound(verdictFirstLine: Option[String],
                                 artifactNames: Seq[String]): Option[Int] = {
    val fromVerdict = verdictFirstLine.flatMap(l =>
      "round\\s+(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toInt))
    val artifactRx = "^(?:BENCH|CORRECTNESS)_r0*(\\d+)\\.json$".r
    val fromArtifacts = artifactNames.collect {
      case artifactRx(n) => n.toInt
    }
    (fromVerdict.toSeq ++ fromArtifacts).maxOption.map(_ + 1)
  }

  /** The mains' one JSON string literal: escapes the quote, the backslash
    * and ALL control chars (< 0x20). A tab or CR in hand-written oracle
    * SQL would otherwise make a reader's `json.load` fail, and a
    * leak description carries an RDD name, which for a cached DataFrame is
    * a multi-line PLAN string — raw newlines in it corrupted a committed
    * bench file.
    */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jnum(d: Double): String = {
    val r = math.rint(d * 1000) / 1000 // 1 ms resolution keeps lines compact
    if (r.isNaN || r.isInfinite) "null" else BigDecimal(r).underlying.toPlainString
  }

  /** One timed execution: noop sink consumes every row and column, so the
    * timing includes all expression work (count() lets Catalyst prune the
    * projection and under-measures map-only queries). Failures are timed
    * too, but carry their exception class. `leaks` is the post-run residue
    * sweep: persisted RDDs the query left behind AFTER the engine's own
    * [[Residue.drain]] released everything tracked — r5/r6 spent two
    * rounds forensically attributing warm>cold inversions to exactly this
    * class of leak, so now every run names its leaker immediately.
    */
  private final case class Run(sec: Double, err: Option[String],
                               leaks: Seq[String], heapMb: Long, storageMb: Long,
                               gcSec: Double, spillMb: Long)

  /** Per-query aggregate over cold + warm runs. */
  private final case class QueryResult(name: String, cold: Run, warm: Seq[Run],
                                       stateRows: Option[(Long, Long, Long)]) {
    def isStream: Boolean = name.startsWith("stream_")
    private def okWarm: Seq[Double] = warm.filter(_.err.isEmpty).map(_.sec)
    /** Best warm (batch) / median warm (stream); falls back to cold when no
      * warm run succeeded — but then `err` is set, so the number is visibly
      * untrustworthy rather than silently "fast".
      */
    def warmStat: Double = {
      val ok = okWarm
      if (ok.isEmpty) cold.sec
      else if (isStream) { val s = ok.sorted; s(s.size / 2) }
      else ok.min
    }
    def err: Option[String] = (cold.err.toSeq ++ warm.flatMap(_.err)).headOption
    def failedRuns: Int = (cold.err.toSeq ++ warm.flatMap(_.err)).size
    def leaks: Seq[String] = (cold.leaks ++ warm.flatMap(_.leaks)).distinct
  }

  def main(args: Array[String]): Unit = {
    // S12 job-argument resolution: --KEY on the CLI beats the env var beats
    // the default (JobArgs mirrors getResolvedOptions)
    val opts = JobArgs.resolve(args.toSeq, required = Nil,
      defaults = Map(
        "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.1",
        "SPARK_GRAFT_CPUS" -> "4",
        // comma-separated query-name filter for A/B timing a subset
        "SPARK_GRAFT_ONLY" -> "",
        // extra timed runs per query after the cold one; 0 = cold-only
        // quick mode (streams then skip their median protocol too)
        "SPARK_GRAFT_WARM" -> "1",
        // where the full per-query report lands (committed to the repo);
        // the default derives the round from the committed artifacts so a
        // round-N run can never clobber round-(N-1)'s file ([[deriveRound]])
        "SPARK_GRAFT_BENCH_OUT" -> {
          val verdictLine = scala.util.Try(
            Files.readAllLines(Paths.get("VERDICT.md")).get(0)).toOption
          val names = Option(new java.io.File(".").listFiles())
            .getOrElse(Array.empty).toSeq.map(_.getName)
          deriveRound(verdictLine, names)
            .map(r => s"BENCH_LOCAL_r$r.json")
            .getOrElse("BENCH_LOCAL_head.json")
        },
        // prior round's committed full report, for the cross-round
        // regression trigger; "" = newest BENCH_LOCAL_r*.json that is not
        // the current output file
        "SPARK_GRAFT_PRIOR" -> ""))
    val sfDir = opts("SPARK_GRAFT_SF_DIR")
    val cpus = opts("SPARK_GRAFT_CPUS")
    val warmRuns = opts("SPARK_GRAFT_WARM").toInt.max(0)
    val only = SparkEntry.queryFilter(opts("SPARK_GRAFT_ONLY"))
    // A filtered A/B run must not clobber the committed full-suite report:
    // unless the caller picked an output path explicitly, partial runs land
    // in an uncommitted scratch file.
    val benchOutExplicit =
      JobArgs.parse(args.toSeq).contains("SPARK_GRAFT_BENCH_OUT") ||
        sys.env.contains("SPARK_GRAFT_BENCH_OUT")
    val benchOut =
      if (only.isDefined && !benchOutExplicit) "BENCH_LOCAL_partial.json"
      else opts("SPARK_GRAFT_BENCH_OUT")
    val streamMinWarm = 3 // median needs >= 3 samples to mean anything
    // BENCH_SUMMARY.json is written ONCE, at END of run, via temp-file +
    // atomic rename (r11 verdict #7: the old delete-at-startup left a
    // mid-run `git add -A` able to commit the DELETION — which happened at
    // 32199b1). Staleness is now detected by the `written_at_epoch_ms`
    // field instead of by the file's absence; a crashed run leaves the
    // prior summary intact but visibly old.
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: session/codegen init + parquet footers, so the first measured
    // query reflects the query, not JVM startup.
    Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t).count() catch { case _: Throwable => () }
    }

    // Host-drift calibration (r7 verdict #7): one fixed, deterministic,
    // CPU-bound kernel — 32M xxhash64 rows generated in-memory, zero I/O,
    // zero shuffle — timed FIRST every run (best of 2, after the table
    // warm-up so codegen init is paid). Cross-round per-query comparisons
    // normalize against this number mechanically instead of adjudicating
    // "box-speed drift" by prose.
    def calibrate(): Double = {
      import org.apache.spark.sql.functions.{sum => fsum, xxhash64, col}
      def once(): Double = {
        val t0 = System.nanoTime()
        // modulus keeps the ANSI sum within long range (raw xxhash64
        // values are full-range longs; 32M of them overflow)
        spark.range(0L, 32L * 1024 * 1024, 1, cpus.toInt)
          .select(fsum(xxhash64(col("id")) % 1000003L))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once(); math.min(once(), once())
    }
    val calibSec = calibrate()

    // Memory-pressure telemetry (r16 verdict #3): per-run task-summed GC
    // time and spill bytes, from the task-end listener. Two same-tree r16
    // windows disagreed 15-70% on heavy rows and the CPU-only calibration
    // kernel cannot tell bandwidth/GC load from plan drift — the gc/spill
    // series lets a reader (and the memory_pressure flag on solo blocks)
    // adjudicate that class from the file instead of burning a solo
    // re-run. Listener-bus delivery is async, so a run's tail events can
    // attribute to the next run — this is telemetry, never a timing input.
    val gcAcc = new java.util.concurrent.atomic.AtomicLong()    // ms
    val spillAcc = new java.util.concurrent.atomic.AtomicLong() // bytes
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          gcAcc.addAndGet(m.jvmGCTime)
          spillAcc.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })

    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Run = {
      val gc0 = gcAcc.get(); val spill0 = spillAcc.get()
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case t: Throwable => Some(t.getClass.getSimpleName) }
      val sec = (System.nanoTime() - t0) / 1e9
      // leak guard (outside the timed region): release every tracked
      // materialization, then name any persisted RDD still standing. The
      // drain runs between COLD and WARM too — a cache surviving into the
      // next run would let "warm" read the previous run's blocks instead
      // of recomputing, and residue would contaminate every later query.
      val leaks = Residue.drain(spark)
      // pressure telemetry (r7 verdict #1): the leak guard sees persisted
      // RDDs, but broadcast blocks, shuffle files, and state-store maps are
      // only reclaimed by the GC-driven ContextCleaner — invisible to the
      // residue sweep. Reporting post-drain heap + storage occupancy per
      // run makes THAT degradation class visible in the bench row, so a
      // cross-round warm>cold inversion can be adjudicated from the file
      // (pressure climbing query-over-query) instead of by re-running.
      val (heapMb, storageMb) = Residue.pressure(spark)
      Run(sec, err, leaks, heapMb, storageMb,
        (gcAcc.get() - gc0) / 1000.0, (spillAcc.get() - spill0) >> 20)
    }

    val rt = Runtime.getRuntime
    def usedHeapFrac: Double = (rt.totalMemory() - rt.freeMemory()).toDouble / rt.maxMemory()
    var drainBackedOff = false
    val results: Seq[QueryResult] = SparkEntry.selected(only)
      .zipWithIndex
      .map { case ((name, fn), i) =>
        graft.streaming.Streaming.lastStateRows = None
        val cold = timeOnce(fn)
        val n =
          if (warmRuns == 0) 0
          else if (name.startsWith("stream_")) warmRuns.max(streamMinWarm)
          else warmRuns
        val warm = (1 to n).map(_ => timeOnce(fn))
        // suite-order interference guard (r10 verdict #4): broadcast
        // blocks, codegen classes, and state-store maps are reclaimed by
        // the GC-driven ContextCleaner, which falls behind a 180-query
        // suite — heap climbed monotonically to ~13 GB and warm>cold
        // inversions clustered late-suite. An explicit GC every 15
        // queries (outside any timed region) keeps the cleaner drained,
        // so late queries are timed against the same heap the early ones
        // saw instead of against the suite's accumulated debris.
        // r18: the fixed cadence still let the heavy batch rows leave
        // multi-GB garbage for their successors (sim_ivfpq_batch read
        // 33 s in-suite with 89 s task-summed GC while its own solo
        // block read 13.9/4.0 s) — the drain now ALSO fires whenever
        // used heap crosses 60% of max, so a heavy row's successor is
        // timed against a collected heap, not the predecessor's garbage.
        // Still outside every timed region; timing semantics unchanged.
        // A live set that no drain brings under the threshold backs the
        // drain off to the fixed cadence ([[heapDrain]]).
        drainBackedOff = heapDrain(i, usedHeapFrac, drainBackedOff) { () =>
          System.gc(); Thread.sleep(150); usedHeapFrac
        }
        QueryResult(name, cold, warm, graft.streaming.Streaming.lastStateRows)
      }

    // ---- self-adjudication triggers (see class doc) ----
    // Trigger A (r8 #1): in-suite warm>cold inversion.
    // Trigger B (r9 #3): CROSS-ROUND regression — warm > 3x the prior
    // committed round's warm for the same query, normalized by the calib
    // ratio so a slower box doesn't fire every row. r9 proved the
    // inversion-only trigger blind to the slow-both-ways class
    // (sample_stratified 14x, window_range 8.9x — cold slowed too, so no
    // inversion fired and the regressions shipped unadjudicated).
    val prior: (Double, Map[String, (Double, Double)]) = {
      val explicit = Option(opts("SPARK_GRAFT_PRIOR")).filter(_.nonEmpty)
      val path = explicit.orElse {
        val rx = "BENCH_LOCAL_r(\\d+)\\.json".r
        Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .flatMap(f => f.getName match {
            case rx(n) if f.getName != benchOut => Some((n.toInt, f.getName))
            case _ => None
          }).sortBy(-_._1).headOption.map(_._2)
      }
      path.flatMap { p =>
        try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = om.readTree(Files.readAllBytes(Paths.get(p)))
          val calib = root.path("calib_sec").asDouble(0.0)
          val qs = root.path("queries")
          val m = scala.collection.mutable.Map[String, (Double, Double)]()
          val names = qs.fieldNames()
          while (names.hasNext) {
            val n = names.next()
            m(n) = (qs.path(n).path("warm").asDouble(Double.NaN),
                    qs.path(n).path("cold").asDouble(Double.NaN))
          }
          Some((calib, m.toMap))
        } catch { case _: Throwable => None }
      }.getOrElse((0.0, Map.empty))
    }
    val (priorCalib, priorMap) = prior
    val calibRatio = if (priorCalib > 0) calibSec / priorCalib else 1.0
    val perQuery = results.filter { r =>
      val p = priorMap.get(r.name)
      shouldReadjudicate(r.isStream, r.err.isDefined, r.warm.isEmpty,
        r.cold.sec, r.warmStat, p.map(_._1), p.map(_._2), calibRatio,
        newQuery = priorMap.nonEmpty && !priorMap.contains(r.name))
    }
    // Group-level stream trigger (r12 verdict #4): the class median of
    // calib-normalized warm ratios vs the prior round decides whether the
    // WHOLE stream class re-runs solo — r12's in-suite stream inflation
    // (~3x on byte-unchanged rows, solo medians at parity) was
    // hand-adjudicated in prose; now the machinery owns that class.
    val streamRatios = results.filter(r => r.isStream && r.err.isEmpty)
      .flatMap { r =>
        priorMap.get(r.name).map(_._1)
          .filter(p => !p.isNaN && p > 0 && calibRatio > 0)
          .map(p => r.warmStat / (p * calibRatio))
      }
    val streamGroup = streamGroupRegressed(streamRatios)
    // distinct: a stream row can now fire BOTH its per-query cross-round
    // trigger (r16 verdict #2) and the group tier — one solo block each
    val toReadjudicate = (perQuery ++
      (if (streamGroup) results.filter(r => r.isStream && r.err.isEmpty) else Nil))
      .distinctBy(_.name)
    // Calib is re-measured BEFORE the solo phase and AFTER every block
    // (r12 verdict #3): the r12 driver's corpus_clean_incr solo block
    // landed entirely inside a bad host window, and with calib only
    // measured before the phase the noise-hit adjudication was
    // indistinguishable from a real regression from the file alone.
    var adjCalib = if (toReadjudicate.nonEmpty) calibrate() else calibSec
    val readjudicated: Map[String, (Run, Seq[Run], Double, Double)] =
      toReadjudicate.map { r =>
        Residue.drain(spark)
        System.gc() // let the ContextCleaner reclaim broadcast/shuffle debris
        Thread.sleep(200)
        val fn = SparkEntry.queries(r.name)
        val calibBefore = adjCalib
        val block = (timeOnce(fn), (1 to 3).map(_ => timeOnce(fn)))
        val calibAfter = calibrate()
        adjCalib = calibAfter // the next block's "before"
        r.name -> (block._1, block._2, calibBefore, calibAfter)
      }.toMap

    val totalWarm = results.map(_.warmStat).sum
    // adjudication-aware headline (r10 verdict #3: the summary said
    // 323.7 s while its own readjudicated rows proved 240.8 s — the
    // in-suite total double-counts noise the isolated re-runs already
    // refuted). For any row with a successful solo re-run, the MEDIAN of
    // its >= 3 solo warms is the authoritative number — UNLESS the solo
    // median is worse than the in-suite number by more than the block's
    // own measured host drift, in which case the re-run itself is the
    // suspect and the in-suite number stands (foldReadjudicated; r12
    // verdict #3 — the old min-of-2 fold pushed a 10x-noise-inflated
    // solo warm into the headline). `value` keeps the raw in-suite total
    // for cross-round comparability; `value_adjudicated` is the headline.
    val folded: Map[String, (Option[Double], Boolean)] = results.flatMap { r =>
      readjudicated.get(r.name).map { case (_, w, cb, ca) =>
        r.name -> foldReadjudicated(r.warmStat,
          w.filter(_.err.isEmpty).map(_.sec), calibSec, cb, ca)
      }
    }.toMap
    val totalWarmAdj = results.map { r =>
      folded.get(r.name).flatMap(_._1).getOrElse(r.warmStat)
    }.sum
    val totalCold = results.map(_.cold.sec).sum
    val failures = results.filter(_.err.isDefined)
    // memory-pressure attribution (r17 verdict #6): a row whose in-suite
    // number exceeds its solo median with MOST of the delta being GC time
    // the solo block did not pay — computed once, used by both the
    // per-row flag and the summary's mem_pressure_rows list, so the
    // loaded-window class (parallel_reports 20.7 s in-suite vs 4.6 s
    // solo) is named in the LAST line the driver tails, not only in the
    // full per-query file
    val memPressure: Set[String] = results.flatMap { r =>
      readjudicated.get(r.name).flatMap { case (_, w, _, _) =>
        val ok = w.filter(_.err.isEmpty)
        if (ok.isEmpty) None
        else {
          val soloMed = medianOf(ok.map(_.sec))
          val soloGc = medianOf(ok.map(_.gcSec))
          val bestWarm = (r.warm.filter(_.err.isEmpty) :+ r.cold).minBy(_.sec)
          if (r.warmStat > soloMed &&
              (bestWarm.gcSec - soloGc) > 0.5 * (r.warmStat - soloMed))
            Some(r.name)
          else None
        }
      }
    }.toSet

    // ---- full per-query report: one committed file + one stdout line ----
    val queriesJson = results.map { r =>
      val fields = Seq(
        Some("\"cold\":" + jnum(r.cold.sec)),
        Some("\"warm\":" + jnum(r.warmStat)),
        Some("\"runs\":" + r.warm.map(w => jnum(w.sec)).mkString("[", ",", "]")),
        // memory-pressure telemetry (r16 verdict #3): per-run task-summed
        // GC seconds (cold first, then the warm runs, parallel to `runs`)
        // and spilled MB when any run spilled — the signal that separates
        // "the host was under memory pressure" from "the plan drifted"
        // without a solo re-run
        Some("\"gc_cold\":" + jnum(r.cold.gcSec) +
          ",\"gc_runs\":" + r.warm.map(w => jnum(w.gcSec)).mkString("[", ",", "]")),
        {
          val spill = r.cold.spillMb + r.warm.map(_.spillMb).sum
          if (spill > 0) Some("\"spill_mb\":" + spill) else None
        },
        r.err.map(e => "\"err\":" + jstr(e) + ",\"failed_runs\":" + r.failedRuns),
        if (r.leaks.nonEmpty)
          Some("\"leaks\":" + r.leaks.map(jstr).mkString("[", ",", "]"))
        else None,
        r.stateRows.map { case (t, u, b) =>
          s""""state_rows_total":$t,"state_rows_updated":$u,"state_bytes":$b""" },
        readjudicated.get(r.name).map { case (c, w, cb, ca) =>
          // a throwing re-run is never reported as a healthy time (r9
          // advice): warm is null unless some warm re-run succeeded, the
          // cold re-run carries its own err marker, and failed re-runs
          // are counted explicitly
          val ok = w.filter(_.err.isEmpty).map(_.sec)
          val med = if (ok.nonEmpty) jnum(medianOf(ok)) else "null"
          val suspect = folded.get(r.name).exists(_._2)
          val nFailed = w.count(_.err.isDefined) + c.err.size
          "\"readjudicated\":{\"cold\":" +
            (if (c.err.isEmpty) jnum(c.sec) else "null") +
            ",\"runs\":" + w.map(x =>
              if (x.err.isEmpty) jnum(x.sec) else "null").mkString("[", ",", "]") +
            ",\"warm\":" + med +
            // calib measured immediately before AND after this block's
            // solo runs, so a host-drift-polluted adjudication is
            // auditable (and auto-flagged) from the block alone
            ",\"calib_sec\":" + jnum(cb) +
            ",\"calib_sec_after\":" + jnum(ca) +
            // solo-block GC series, parallel to runs (r16 verdict #3)
            ",\"gc_runs\":" + w.map(x =>
              if (x.err.isEmpty) jnum(x.gcSec) else "null").mkString("[", ",", "]") +
            // memory_pressure: the in-suite number exceeded the solo one
            // and MOST of that delta is GC time the solo block did not
            // pay — the loaded-window class (sim_ivf_batch 38.5 s
            // in-suite vs 6.9 s solo, r16) named from the file itself
            (if (memPressure.contains(r.name))
              ",\"memory_pressure\":true" else "") +
            // suspect: the solo median is WORSE than in-suite beyond the
            // measured drift — flagged and NOT folded into
            // value_adjudicated (the in-suite number stands)
            (if (suspect) ",\"readjudication_suspect\":true" else "") +
            (if (nFailed > 0) ",\"failed_runs\":" + nFailed +
              ",\"err\":" + jstr((c.err.toSeq ++ w.flatMap(_.err)).head)
             else "") + "}"
        },
        // post-drain pressure after this query's LAST run: heap live-set
        // and block-manager storage occupancy (broadcast blocks etc. that
        // the residue sweep cannot free). A climbing series across the
        // file = the ContextCleaner-lag degradation class.
        {
          val last = (r.warm.lastOption.getOrElse(r.cold))
          Some(s""""heap_mb":${last.heapMb},"storage_mb":${last.storageMb}""")
        }
      ).flatten
      jstr(r.name) + ":" + fields.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total_warm","value":${jnum(totalWarm)},"unit":"sec",""" +
      s""""value_adjudicated":${jnum(totalWarmAdj)},""" +
      s""""value_cold":${jnum(totalCold)},"warm_runs":$warmRuns,""" +
      s""""stream_min_warm":$streamMinWarm,"cpus":$cpus,"sf":${jstr(sfDir)},""" +
      s""""calib_sec":${jnum(calibSec)},""" +
      s""""n_queries":${results.size},"n_failed":${failures.size},""" +
      s""""n_leaking":${results.count(_.leaks.nonEmpty)},""" +
      s""""n_readjudicated":${readjudicated.size},""" +
      s""""n_suspect":${folded.count(_._2._2)},""" +
      s""""stream_group_readjudicated":$streamGroup,""" +
      s""""queries":$queriesJson}"""
    Files.write(Paths.get(benchOut), (fullJson + "\n").getBytes(StandardCharsets.UTF_8))
    println(fullJson)

    // ---- compact summary: LAST line, < 1 KB, survives tail capture ----
    // A small stable headline subset keeps the driver-contract "queries"
    // field present without blowing the line past the capture window.
    val headline = Seq("q1_agg", "star_denorm", "q5_region_revenue",
      "parallel_reports", "incr_star_e2e", "dedup_minhash_lsh", "sim_topk",
      "stream_window_agg")
    val byName = results.map(r => r.name -> r).toMap
    val headJson = headline.flatMap(n => byName.get(n))
      .map(r => jstr(r.name) + ":" + jnum(r.warmStat)).mkString("{", ",", "}")
    // ADDITIVE summary fields (r17 verdict #6): the raw `queries` map is
    // untouched (the driver's per-query compare stays valid cross-round);
    // `queries_adjudicated` carries the accepted solo medians for any
    // headline row that re-adjudicated, and `mem_pressure_rows` names
    // every row whose in-suite reading the GC series attributes to
    // memory pressure — so a loaded-window blowup is named in the
    // summary line itself instead of by judge archaeology in the full
    // per-query file.
    val headAdjJson = headline.flatMap(n => byName.get(n))
      .flatMap(r => folded.get(r.name).flatMap(_._1)
        .map(v => jstr(r.name) + ":" + jnum(v)))
      .mkString("{", ",", "}")
    val memPressureJson = memPressure.toSeq.sorted.map(jstr)
      .mkString("[", ",", "]")
    val errJson = failures.take(5)
      .map(r => jstr(r.name) + ":" + jstr(r.err.get)).mkString("{", ",", "}")
    val summaryJson =
      s"""{"metric":"total_warm","value":${jnum(totalWarm)},"unit":"sec",""" +
      s""""value_adjudicated":${jnum(totalWarmAdj)},""" +
      s""""value_cold":${jnum(totalCold)},"n_queries":${results.size},""" +
      s""""n_failed":${failures.size},"errors":$errJson,""" +
      s""""n_leaking":${results.count(_.leaks.nonEmpty)},""" +
      s""""n_readjudicated":${readjudicated.size},""" +
      s""""n_suspect":${folded.count(_._2._2)},""" +
      s""""stream_group_readjudicated":$streamGroup,""" +
      s""""calib_sec":${jnum(calibSec)},""" +
      s""""queries":$headJson,""" +
      s""""queries_adjudicated":$headAdjJson,""" +
      s""""mem_pressure_rows":$memPressureJson,"sf":${jstr(sfDir)},""" +
      s""""bench_file":${jstr(benchOut)},""" +
      s""""written_at_epoch_ms":${System.currentTimeMillis()},""" +
      """"note":"value=raw in-suite best-warm total (median-of-3+ for stream_*); value_adjudicated folds the solo MEDIAN for re-run rows (suspect re-runs flagged, not folded) and is the headline; READER CONTRACT: check written_at_epoch_ms >= your run start before trusting this file - a crashed run leaves the prior summary intact but visibly old; full per-query warm/cold/err in bench_file"}"""
    // fixed-path side file: the machine-readable hand-off (stdout carries
    // sbt's [info] prefix; this file never does). Partial A/B runs skip it
    // so a filtered run can't masquerade as the committed full suite.
    // Written via temp-file + ATOMIC rename, and ONLY here at end of run —
    // no startup delete, so the file never transits a deleted state a
    // mid-run `git add -A` could commit (r11 verdict #7); readers check
    // `written_at_epoch_ms` for staleness instead of existence.
    if (only.isEmpty)
      graft.sources.AtomicFile.publish(Paths.get("BENCH_SUMMARY.json"))(
        _.write((summaryJson + "\n").getBytes(StandardCharsets.UTF_8)))
    // stop FIRST, then print: Spark's async daemons (e.g. the state-store
    // maintenance thread) can log a stack trace during shutdown, and a
    // trace landing AFTER the summary would displace it as the process's
    // last stdout line — the exact failure the driver's tail parse had
    // with sbt's [info] prefix (r9 verdict #4)
    spark.stop()
    println(summaryJson)
  }
}
