package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-STAGE wall-clock profile of one declared query (r14 verdict
  * next-round #4: `corpus_clean_incr`'s solo runs spread 5.5-18.0 s
  * within one adjudication block, and the stage-count-bound explanation
  * needed a stage-level profile to name which stage wobbles instead of
  * prose). A SparkListener records every completed stage's
  * submission→completion wall time and its call-site name; the query
  * runs `iters` times (cold + warm), and the report groups stages by
  * call site with per-iteration min/median/max — so a 3× within-block
  * spread is attributed to a NAMED stage (or shown to be spread evenly,
  * which is the scheduler-jitter verdict).
  *
  * Usage: `runMain graft.StageProfile <query> [iters]` with
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` env as in [[Bench]].
  * Output lines are `[stage-prof]`-prefixed; totals per iteration first,
  * then the per-call-site table sorted by total time descending.
  */
object StageProfile {

  def main(args: Array[String]): Unit = {
    val query = args.headOption.getOrElse("corpus_clean_incr")
    val iters = if (args.length > 1) args(1).toInt else 6
    val fn = SparkEntry.selected(SparkEntry.queryFilter(query)) match {
      case Seq((_, f)) => f
      case _ => throw new IllegalArgumentException(s"StageProfile profiles one query, got '$query'")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // (iteration, stage call-site name, wall millis)
    val rows = new ConcurrentLinkedQueue[(Int, String, Long)]()
    @volatile var iteration = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val i = ev.stageInfo
        val dur = for { s <- i.submissionTime; c <- i.completionTime } yield c - s
        // task count in the label: a dominant stage that runs on ONE task
        // while the session has 32 cores is a parallelism defect the
        // wall-clock alone cannot distinguish from an expensive stage
        rows.add((iteration, s"[tasks=${i.numTasks}] ${i.name}", dur.getOrElse(-1L)))
      }
    })

    val iterSecs = (1 to iters).map { it =>
      iteration = it
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Residue.drain(spark)
      println(f"[stage-prof] iteration $it%2d: $sec%8.3f s")
      sec
    }

    // give straggler stage-completed events a moment to land
    Thread.sleep(500)
    val all = rows.asScala.toSeq
    // per-iteration attribution: how much wall time was inside executor
    // stages at all, and how big was the single worst stage? A worst
    // iteration whose stage-sum ≈ its wall has a genuinely slow stage to
    // name; one whose gap (wall - stage-sum) dominates spent the time on
    // the DRIVER — planning, codegen/JIT, scheduling barriers — the
    // stage-count-bound class no single stage can explain.
    iterSecs.zipWithIndex.foreach { case (wall, idx) =>
      val it = idx + 1
      val ms = all.filter(_._1 == it).map(_._3)
      val sum = ms.sum / 1000.0
      val top = if (ms.isEmpty) 0.0 else ms.max / 1000.0
      println(f"[stage-prof] iter $it%2d: wall=$wall%7.3f stages=${ms.size}%3d " +
        f"stage_sum=$sum%7.3f top_stage=$top%6.3f driver_gap=${wall - sum}%7.3f")
    }
    def fmt(ms: Seq[Long]): String = {
      val s = ms.sorted
      f"n=${s.size}%3d min=${s.head / 1000.0}%7.3f med=${s(s.size / 2) / 1000.0}%7.3f max=${s.last / 1000.0}%7.3f sum=${s.sum / 1000.0}%8.3f"
    }
    println(s"[stage-prof] query=$query sf=$sfDir iters=$iters cpus=$cpus")
    println("[stage-prof] per call-site (all iterations pooled, sorted by total):")
    all.groupBy(_._2).toSeq
      .map { case (name, rs) => (name, rs.map(_._3)) }
      .sortBy { case (_, ms) => -ms.sum }
      .foreach { case (name, ms) =>
        println(s"[stage-prof]   ${fmt(ms)}  $name")
      }
    // the wobble attribution: for each call site, how much of the
    // worst-vs-best ITERATION gap does its own max-min explain?
    val worst = iterSecs.max
    val best = iterSecs.min
    println(f"[stage-prof] iteration spread: best=$best%.3f s worst=$worst%.3f s")
    spark.stop()
  }
}
