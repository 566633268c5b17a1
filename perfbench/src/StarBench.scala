package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.operators.{IncrementalStarJob, ParallelReports, StarPipeline}
import graft.sources.{BookmarkStore, IncrementalReader}

/** Incremental star-ETL benchmark: drives `IncrementalStarJob.run` as a
  * scheduler would, one run per tick over a growing append-only fact table,
  * from one closed-loop caller (the next run starts when the previous one
  * and its consumer read have returned).
  *
  * {{{
  * StarBench --workload incr_tick|backfill --seed N --seconds S
  *           --trace 0|1 --work DIR --cores C --trace-out FILE
  * }}}
  *
  * Every repeat starts from a fresh table directory, bookmark store and
  * target, built from files generated before any timed region. With
  * `--trace 0` the job is timed from outside; with `--trace 1` repeats
  * alternate between the job itself and a traced rebuild of it from the
  * same public calls, which yields the per-layer numbers and writes every
  * span and listener record to the trace-out file. The last stdout line is
  * one JSON object of metrics; the line before it holds details.
  */
object StarBench {
  val Ctx = "star_job"

  /** A workload. With `deltaRows` > 0 the bookmark starts at the base
    * fact's max and each of a repeat's `runs` follows the arrival of one
    * delta file of about `deltaRows` rows; with 0 the bookmark starts
    * empty and the one run ingests the base fact. `repeatS` is the nominal
    * length of one repeat on a 4-core machine: `--seconds` / `repeatS`
    * fixes the number of repeats, so a run's sample count, and with it the
    * tail percentile, depends on its arguments alone.
    */
  final case class Shape(runs: Int, deltaRows: Int, repeatS: Double, warmupRuns: Int) {
    def incremental: Boolean = deltaRows > 0
  }

  val shapes: Map[String, Shape] = Map(
    "incr_tick" -> Shape(runs = 8, deltaRows = 6000, repeatS = 12.0, warmupRuns = 5),
    "backfill" -> Shape(runs = 1, deltaRows = 0, repeatS = 6.0, warmupRuns = 1))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int, traceOut: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(shapes.contains(w), s"unknown workload '$w' (have ${shapes.keys.toSeq.sorted.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), need("cores").toInt, Paths.get(need("trace-out")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[${args.cores}]", args.cores)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try new StarBench(spark, args, sessionS).run()
    finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (r - lo)
    }
  }

  /** The highest of the percentiles 50, 75, 90, 95, 99 and 99.9 with at
    * least ten samples beyond it; below 20 samples none has, and the tail
    * is the largest sample (percentile 100). Returns (value, percentile, n).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (100 - p) / 100 >= 10).getOrElse(100.0)
    (percentile(xs, p), p, n)
  }

  def json(m: Iterable[(String, Any)]): String = m.map { case (k, v) =>
    val jv = v match {
      case d: Double if d.isNaN || d.isInfinite => "null"
      case s: String => "\"" + s + "\""
      case (d: Double, u: String) => s"""{"value": $d, "unit": "$u"}"""
      case nested: Map[_, _] => json(nested.asInstanceOf[Map[String, Any]])
      case xs: Seq[_] => xs.mkString("[", ", ", "]")
      case other => other.toString
    }
    s""""$k": $jv"""
  }.mkString("{", ", ", "}")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq
    all.reverse.foreach(Files.deleteIfExists)
  }
}

/** One run sample: job wall time, the consumer read after it, rows. */
final case class Sample(runS: Double, readS: Double, rowsRead: Long, onTime: Long)

/** What a traced run saw besides its spans: table files before it, rows it
  * read, target files it wrote and JVM GC time during it.
  */
final case class RunInfo(record: Boolean, filesInTable: Int, rowsRead: Long, filesWritten: Int,
                         gcS: Double)

final class StarBench(spark: SparkSession, args: StarBench.Args, sessionS: Double) {
  import StarBench._

  private val shape = shapes(args.workload)
  private val genStart = System.nanoTime()
  private val inputs = new Inputs(spark, args.seed, Files.createDirectories(args.work.resolve("gen")))
  private val deltas: IndexedSeq[Delta] = {
    // the tables are independent: write them concurrently
    val tables = scala.concurrent.Future { inputs.supplier; inputs.part; inputs.baseMaxKey }(
      scala.concurrent.ExecutionContext.global)
    val ds =
      if (!shape.incremental) IndexedSeq.empty
      else inputs.deltas(math.max(shape.runs, shape.warmupRuns), shape.deltaRows)
    scala.concurrent.Await.result(tables, scala.concurrent.duration.Duration.Inf)
    ds
  }
  private val genS = (System.nanoTime() - genStart) / 1e9

  private var attempted = 0
  private var failed = 0
  private var mismatches = 0L
  private val notes = mutable.ArrayBuffer.empty[String]
  private var repeatSeq = 0

  private var heapPeak = 0L
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  // ---------------------------------------------------------------- repeats

  /** A fresh deployment of the job: table directory (hard links to the
    * generated files), bookmark store and target.
    */
  private final class Repeat(val record: Boolean) {
    repeatSeq += 1
    val root: Path = args.work.resolve(s"repeat-$repeatSeq")
    val sf: Path = root.resolve("sf")
    val target: Path = root.resolve("target")
    val store = new BookmarkStore(root.resolve("state").toString)
    private val fact = Files.createDirectories(sf.resolve("lineitem.parquet"))
    var applied = 0 // delta files linked so far
    val samples = mutable.ArrayBuffer.empty[Sample]

    private val t0 = System.nanoTime()
    Seq("supplier" -> inputs.supplier, "part" -> inputs.part).foreach { case (t, src) =>
      val dst = Files.createDirectories(sf.resolve(s"$t.parquet"))
      Files.list(src).iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .foreach(f => Files.createLink(dst.resolve(f.getFileName), f))
    }
    Files.createLink(fact.resolve("lineitem-base.parquet"), inputs.baseFact)
    if (shape.incremental) store.commit("lineitem", Ctx, inputs.baseMaxKey)
    val setupS: Double = (System.nanoTime() - t0) / 1e9

    /** Link the next delta file into the fact table: it "arrives". */
    def appendDelta(): Unit = {
      Files.createLink(fact.resolve(f"lineitem-${applied + 1}%06d.parquet"), deltas(applied).file)
      applied += 1
    }

    def filesInTable: Int = Files.list(fact).iterator().asScala.count(_.toString.endsWith(".parquet"))

    def targetFiles: Int =
      if (!Files.exists(target)) 0
      else Files.walk(target).iterator().asScala.count(_.toString.endsWith(".parquet"))

    /** On-time rows the job should have ingested so far. */
    def onTimeRows: Long =
      if (!shape.incremental) Inputs.BaseRows else deltas.take(applied).map(_.onTimeRows).sum

    def expectedBookmark: Long =
      if (applied == 0) inputs.baseMaxKey else deltas(applied - 1).maxOnTimeKey

    def sink(name: String, df: DataFrame): Unit =
      df.write.mode("append").parquet(target.resolve(name).toString)

    def delete(): Unit = deleteTree(root)
  }

  /** The consumer view of `incr_star_e2e`: re-aggregate appended partials. */
  private def consumerView(target: Path): DataFrame =
    spark.read.parquet(target.resolve("supplier_report").toString)
      .groupBy(col("s_suppkey"), col("s_name"), col("register_date"))
      .agg(round(sum(col("total")), 2).as("total"))
      .orderBy(col("s_suppkey"), col("register_date"))

  /** Run the job once (untraced or traced), then the consumer read; both
    * timed from outside. Returns false when the run failed.
    */
  private def tick(rep: Repeat, traced: Option[TracedJob], record: Boolean): Boolean = {
    if (shape.incremental) rep.appendDelta()
    attempted += 1
    LiveHeap.reset() // every run starts without the previous run's garbage
    try {
      val t0 = System.nanoTime()
      val res = traced match {
        case None => IncrementalStarJob.run(spark, rep.sf.toString, rep.store, Ctx)(rep.sink)
        case Some(t) => t.run(rep)
      }
      val t1 = System.nanoTime()
      consumerView(rep.target).write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val before = rep.samples.map(_.onTime).sum
      val sample = Sample((t1 - t0) / 1e9, (t2 - t1) / 1e9, res.rowsRead, rep.onTimeRows - before)
      rep.samples += sample
      if (record) samples(traced.isDefined) += sample
      if (record && traced.isEmpty) heapPeak = math.max(heapPeak, LiveHeap.high)
      true
    } catch {
      case NonFatal(e) =>
        failed += 1
        notes += s"run failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        false
    }
  }

  private val samples = Map(false -> mutable.ArrayBuffer.empty[Sample],
    true -> mutable.ArrayBuffer.empty[Sample])
  private val setups = mutable.ArrayBuffer.empty[Double]

  /** A whole repeat of `runs` ticks with its row-count and bookmark
    * checks; returns the repeat (not yet deleted) or None when a run failed.
    */
  private def repeat(runs: Int, traced: Option[TracedJob], record: Boolean): Option[Repeat] = {
    val rep = new Repeat(record)
    if (record && traced.isEmpty) setups += rep.setupS
    val ok = (0 until runs).forall(_ => tick(rep, traced, record))
    if (ok) { checkCounts(rep); Some(rep) } else { rep.delete(); None }
  }

  // ---------------------------------------------------------------- checks

  private val supplierDim = spark.read.parquet(inputs.supplier.toString)

  /** From-scratch supplier report over the on-time rows of the first `n`
    * delta files (the whole base fact when the bookmark starts empty).
    */
  private def expectedView(n: Int): DataFrame = {
    val fact =
      if (!shape.incremental) spark.read.parquet(inputs.baseFact.toString)
      else spark.read.parquet(deltas.take(n).map(_.file.toString): _*)
        .filter(col("l_orderkey") >= Inputs.OnTimeKeyBase)
    fact.join(supplierDim, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"), to_date(col("l_shipdate")).as("register_date"))
      .agg(sum(col("l_extendedprice")).as("expected"))
  }

  private def mismatch(what: String): Unit = {
    mismatches += 1
    if (notes.size < 20) notes += what
  }

  /** Rows ingested and the final bookmark against the generator's record. */
  private def checkCounts(rep: Repeat): Unit = {
    val rows = rep.samples.map(_.rowsRead).sum
    if (rows != rep.onTimeRows) mismatch(s"rowsRead $rows != on-time rows ${rep.onTimeRows}")
    val bm = rep.store.get("lineitem", Ctx)
    if (!bm.contains(rep.expectedBookmark)) mismatch(s"bookmark $bm != ${rep.expectedBookmark}")
  }

  /** The consumer view against a from-scratch recompute, within one cent
    * per appended partial per group. A full recompute costs about a run,
    * so it checks the last measured repeat.
    */
  private def checkView(rep: Repeat): Unit = {
    val got = spark.read.parquet(rep.target.resolve("supplier_report").toString)
      .groupBy(col("s_suppkey"), col("s_name"), col("register_date"))
      .agg(sum(col("total")).as("got"), count(lit(1)).as("partials"))
    val bad = got.join(expectedView(rep.applied), Seq("s_suppkey", "s_name", "register_date"), "full_outer")
      .filter(col("got").isNull || col("expected").isNull ||
        abs(col("got") - col("expected")) > col("partials") * 0.01 + 1e-6)
      .count()
    if (bad > 0) { mismatches += bad - 1; mismatch(s"$bad consumer-view groups differ from recompute") }
  }

  /** Same target rows (per group: partial count exact, total within a cent
    * per partial) and the same bookmark after two repeats over one input.
    */
  private def equivalent(a: Repeat, b: Repeat): Unit = {
    if (a.store.get("lineitem", Ctx) != b.store.get("lineitem", Ctx))
      mismatch("traced rebuild committed a different bookmark")
    if (a.samples.map(_.rowsRead) != b.samples.map(_.rowsRead))
      mismatch("traced rebuild read different row counts")
    Seq("supplier_report" -> Seq("s_suppkey", "s_name", "register_date"),
      "part_brand_report" -> Seq("p_brand", "register_date")).foreach { case (name, keys) =>
      def agg(r: Repeat, tag: String) = spark.read.parquet(r.target.resolve(name).toString)
        .groupBy(keys.map(col): _*).agg(sum(col("total")).as(s"t_$tag"), count(lit(1)).as(s"n_$tag"))
      val bad = agg(a, "a").join(agg(b, "b"), keys, "full_outer")
        .filter(col("n_a").isNull || col("n_b").isNull || col("n_a") =!= col("n_b") ||
          abs(col("t_a") - col("t_b")) > col("n_a") * 0.01 + 1e-6)
        .count()
      if (bad > 0) mismatch(s"traced rebuild: $bad $name groups differ")
    }
  }

  // ---------------------------------------------------------------- driver

  def run(): Unit = {
    val tracer = if (args.trace) Some(new TracedJob(spark)) else None
    val t0 = System.nanoTime()
    val warm = (None +: tracer.toSeq.map(Some(_))).flatMap(t => repeat(shape.warmupRuns, t, record = false))
    warm.foreach(_.delete())
    val warmupS = (System.nanoTime() - t0) / 1e9

    val repeats = math.max(1, math.round(args.seconds / shape.repeatS).toInt)
    val measureStart = System.nanoTime()
    if (!args.trace) (1 to repeats).foreach { i =>
      repeat(shape.runs, None, record = true).foreach { r => if (i == repeats) checkView(r); r.delete() }
    } else {
      val pairs = math.max(1, repeats / 2)
      (1 to pairs).foreach { i =>
        val a = repeat(shape.runs, None, record = true)
        val b = repeat(shape.runs, tracer, record = true)
        if (i == pairs) a.foreach(checkView)
        for (x <- a; y <- b) equivalent(x, y)
        (a ++ b).foreach(_.delete())
      }
    }
    val measureS = (System.nanoTime() - measureStart) / 1e9

    val plain = samples(false).toSeq
    val runs = plain.map(_.runS)
    val (tailV, tailP, n) = if (runs.isEmpty) (Double.NaN, Double.NaN, 0) else tail(runs)
    // set-up: session start, the cold warm-up repeats (never in run_s) and
    // the median repeat's fresh deployment (table links, store, bookmark)
    val setupS = sessionS + warmupS + median(setups.toSeq)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "run_s.p50" -> (median(runs), "s"),
      "run_s.tail" -> (tailV, "s"),
      "rows_per_s" -> (plain.map(_.onTime).sum / runs.sum, "rows/s"),
      "read_s.p50" -> (median(plain.map(_.readS)), "s"),
      "heap_peak_mb" -> (heapPeak / 1048576.0, "MB"))
    val layers = tracer.map(_.metrics(median(runs), args.traceOut)).getOrElse(Seq.empty)
    val detail = Seq(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "failed_ratio" -> (failed.toDouble / math.max(attempted, 1), "ratio"),
      "mismatches" -> (mismatches.toDouble, "count"),
      "run_s.tail_percentile" -> tailP, "run_s.n" -> n,
      "session_s" -> sessionS, "warmup_s" -> warmupS, "repeat_setup_s.p50" -> median(setups.toSeq),
      "gen_s" -> genS, "measure_s" -> measureS,
      "on_time_rows" -> plain.map(_.onTime).sum,
      "late_rows_per_repeat" -> deltas.take(shape.runs).map(_.lateRows).sum,
      "run_s.samples" -> runs, "read_s.samples" -> plain.map(_.readS),
      "notes" -> notes.map(_.replaceAll("[\"\\\\\n]", " ")).mkString("; "))
    println(json(Seq("detail" -> (detail ++ e2e ++ layers).toMap)))
    val result = Seq(
      "correct" -> (mismatches == 0 && failed == 0 && runs.nonEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> (if (args.trace) layers else e2e).toMap)
    println(json(result))
  }

  // ---------------------------------------------------------------- traced rebuild

  /** `IncrementalStarJob.run` rebuilt from the same public calls in the
    * same order, with a span around each call and each report's sink.
    */
  final class TracedJob(spark: SparkSession) {
    private val tracer = new Tracer(spark.sparkContext)
    private val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    private val perRun = mutable.Map.empty[Int, RunInfo]
    private var runId = 0

    def run(rep: Repeat): IncrementalStarJob.RunResult = {
      runId += 1
      tracer.run = runId
      val files = rep.filesInTable
      val written = rep.targetFiles
      val gc0 = gcSeconds
      val res = tracer.span("job") {
        val reader = new IncrementalReader(spark, rep.sf.toString, rep.store)
        val keyCol = Tables.bookmarkKey("lineitem")
        val delta = tracer.span("sources.read")(reader.read("lineitem", Ctx))
        val newMax = tracer.span("sources.maxkey")(reader.maxKey(delta, keyCol))
        val denorm = tracer.span("star.plan")(StarPipeline.denormalizedFrom(delta,
          Tables.supplier(spark, rep.sf.toString), Tables.part(spark, rep.sf.toString)).cache())
        try {
          def spec(name: String, pool: String, build: DataFrame => DataFrame) =
            ParallelReports.ReportSpec(name, pool, df => tracer.span(s"reports.$name") {
              val r = build(df)
              tracer.span("sink.write")(rep.sink(name, r))
              r
            })
          val specs = Seq(spec("supplier_report", "1", StarPipeline.supplierReport),
            spec("part_brand_report", "2", StarPipeline.partBrandReport))
          val results = tracer.span("reports.fanout")(ParallelReports.run(spark, denorm, specs)(identity))
          tracer.span("sources.commit")(newMax.foreach(rep.store.commit("lineitem", Ctx, _)))
          val rows = tracer.span("sources.read")(delta.count())
          IncrementalStarJob.RunResult(rows, newMax, results.map(_._1))
        } finally tracer.span("star.unpersist")(denorm.unpersist(blocking = true))
      }
      perRun(runId) = RunInfo(rep.record, files, res.rowsRead, rep.targetFiles - written, gcSeconds - gc0)
      res
    }

    /** Per-layer medians over the measured traced runs, plus tracing
      * overhead; writes every span and listener record to `out`.
      */
    def metrics(untracedP50: Double, out: Path): Seq[(String, (Double, String))] = {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val spans = tracer.spans.groupBy(_.run)
      val jobs = listener.jobs.asScala.toSeq
      val stages = listener.stages.asScala.toSeq
      write(out, spans.values.flatten.toSeq.sortBy(_.id), jobs, stages)
      val measured = perRun.keys.toSeq.sorted.filter(perRun(_).record)
      val rows = measured.flatMap(r => spans.get(r).map(s => runMetrics(s, jobs, stages, perRun(r))))
      val traced = median(samples(true).map(_.runS).toSeq)
      rows.headOption.toSeq.flatten.map { case (name, (_, unit)) =>
        name -> (median(rows.map(_.collectFirst { case (`name`, (v, _)) => v }.get)), unit)
      } ++ Seq(
        "trace.run_s.p50" -> (traced, "s"),
        "trace.overhead_s" -> (traced - untracedP50, "s"))
    }

    /** One JSON object per line: spans (times in epoch ms), then jobs and
      * stages with the span they were attributed to.
      */
    private def write(out: Path, spans: Seq[Span], jobs: Seq[JobRecord], stages: Seq[StageRecord]): Unit = {
      val lines = spans.map(s => json(Seq("span" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start_ms" -> tracer.epochMs(s.startNs), "end_ms" -> tracer.epochMs(s.endNs)))) ++
        jobs.map(j => json(Seq("job_span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs))) ++
        stages.map(t => json(Seq("stage_span" -> t.span, "tasks" -> t.tasks, "run_ms" -> t.runMs,
          "input_records" -> t.inputRecords, "shuffle_bytes" -> t.shuffleBytes, "cached" -> t.cached)))
      Files.createDirectories(out.toAbsolutePath.getParent)
      Files.write(out, lines.asJava)
    }

    private def runMetrics(spans: Seq[Span], jobs: Seq[JobRecord], stages: Seq[StageRecord],
                           info: RunInfo): Seq[(String, (Double, String))] = {
      val RunInfo(_, files, rowsRead, written, gcS) = info
      val ids = spans.map(_.id).toSet
      val root = spans.find(_.name == "job").get
      def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
      // the shared cache is built inside the report threads' jobs
      val fanoutIds = spans.filter(s => s.layer == "sink" ||
        (s.layer == "reports" && s.name != "reports.fanout")).map(_.id).toSet
      val myStages = stages.filter(s => ids(s.span))
      val myJobs = jobs.filter(j => ids(j.span))
      val children = spans.groupBy(_.parent)
      def self(s: Span) = s.seconds - Tracer.covered(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs) / 1e9, math.min(c.endNs, s.endNs) / 1e9)))
      val selfByLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(self).sum }
      val rootMs = (tracer.epochMs(root.startNs), tracer.epochMs(root.endNs))
      val jobCover = Tracer.covered(myJobs.map(j =>
        (math.max(j.startMs.toDouble, rootMs._1), math.min(j.endMs.toDouble, rootMs._2)))) / 1e3
      val fanout = total("reports.fanout")
      val reportSpans = total("reports.supplier_report") + total("reports.part_brand_report")
      Seq(
        "sources.read_s" -> (total("sources.read"), "s"),
        "sources.maxkey_s" -> (total("sources.maxkey"), "s"),
        "sources.commit_s" -> (total("sources.commit"), "s"),
        "sources.records_read_per_row" ->
          (myStages.map(_.inputRecords).sum.toDouble / math.max(rowsRead, 1), "records/row"),
        "sources.files_in_table" -> (files.toDouble, "count"),
        "star.plan_s" -> (total("star.plan"), "s"),
        "star.shuffle_bytes" ->
          (myStages.filter(s => fanoutIds(s.span) && !s.cached).map(_.shuffleBytes).sum.toDouble, "bytes"),
        "reports.fanout_s" -> (fanout, "s"),
        "reports.supplier_report_s" -> (total("reports.supplier_report"), "s"),
        "reports.part_brand_report_s" -> (total("reports.part_brand_report"), "s"),
        "reports.overlap" -> (reportSpans / fanout, "ratio"),
        "sink.write_s" -> (total("sink.write"), "s"),
        "sink.files_written" -> (written.toDouble, "count"),
        "spark.jobs" -> (myJobs.size.toDouble, "count"),
        "spark.stages" -> (myStages.size.toDouble, "count"),
        "spark.tasks" -> (myStages.map(_.tasks).sum.toDouble, "count"),
        "spark.task_s" -> (myStages.map(_.runMs).sum / 1e3, "s"),
        "spark.gc_s" -> (gcS, "s"),
        "spark.driver_idle_s" -> (root.seconds - jobCover, "s")) ++
        Seq("job", "sources", "star", "reports", "sink").map(l =>
          s"self.${l}_s" -> (selfByLayer.getOrElse(l, 0.0), "s"))
    }
  }
}
