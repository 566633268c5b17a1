package graft.operators

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-level parallel fan-out with FAIR scheduler pools — the
  * "Parallelism" half of the reference (SURVEY.md §2 S11).
  *
  * Mirrors `glue_rds_to_redshift.py:50-55,61,73` + `scheduler.xml:3-12`:
  * N report jobs run concurrently from driver threads over one shared
  * (cached) frame, each pinned to a named FAIR pool via the thread-confined
  * `spark.scheduler.pool` local property so no report's stages starve
  * another's. Fixes the reference's defects: futures are awaited and
  * failures propagate (D4); the pool property is always reset in `finally`
  * (D8); thread-pool threads are reused, so set-and-clear is mandatory.
  *
  * At cluster scale this is how one cached 100 TB-derived frame feeds many
  * downstream reports without serializing them: FAIR pools interleave task
  * scheduling across the jobs while each job's stages still run fully
  * distributed.
  */
object ParallelReports {

  final case class ReportSpec(name: String, pool: String,
                              build: DataFrame => DataFrame)

  /** One driver-thread branch of [[fanOut]]: `work` runs with its Spark
    * jobs in FAIR pool `pool` (None: the calling thread's pool).
    */
  final case class Branch[+T](name: String, pool: Option[String], work: () => T)

  /** Run every report over `shared` concurrently; returns (name, result)
    * pairs in spec order. `action` is what "running" means (default: the
    * terminal action the caller wants, e.g. write or collect-to-rows);
    * it executes on the report's dedicated driver thread inside its pool.
    */
  def run[T](spark: SparkSession, shared: DataFrame, specs: Seq[ReportSpec])
            (action: DataFrame => T): Seq[(String, T)] =
    fanOut(spark, specs.map(spec =>
      Branch(spec.name, Some(spec.pool), () => spec.name -> action(spec.build(shared)))))

  /** Driver threads [[fanOut]] may use however few cores the JVM reports. */
  private val MinDriverThreads = 8

  private val PoolKey = "spark.scheduler.pool"

  /** Run every branch on a driver thread; returns their results in
    * branch order. The caller's pool and job group are read once, on the
    * calling thread, and two rules make a nested fan-out (a sweep inside a
    * fleet branch) safe:
    *
    *   - A branch with `pool = None` runs in the CALLER's pool (the default
    *     pool when the caller has none), so a nested fan-out stays in the
    *     FAIR pool its enclosing branch was pinned to.
    *   - A fan-out cancels only a job group it created. From a thread with
    *     no job group (the star tick, [[Fleet.maintainAll]]) the branches
    *     share a fresh cancellable group: when any branch fails, the
    *     group's running AND not-yet-submitted jobs are cancelled and
    *     every sibling is awaited before the first failure is rethrown, so
    *     no branch's job outlives the call — none can race the caller's
    *     cleanup (e.g. an unpersist in the caller's finally). From a thread
    *     that already carries a group (a fleet branch), the branches run in
    *     THAT group and a failure awaits every sibling and rethrows without
    *     cancelling: the enclosing fan-out's cancel still reaches the
    *     nested jobs, and a nested failure never cancels the outer
    *     siblings, whose cancellation errors would otherwise mask it.
    *
    * The pool holds min(branches, session parallelism,
    * max(driver cores, [[MinDriverThreads]])) threads: more in-flight jobs
    * than cores only adds scheduler contention, and the threads and job
    * groups are a DRIVER-side cost — a cluster's `defaultParallelism` (all
    * executor cores, often hundreds) bounds nothing there. The floor keeps
    * a small fan-out whole: a branch thread blocks on its jobs rather than
    * computing, and a JVM under a container CPU quota reports fewer cores
    * than the session runs (1 or 2), which would otherwise queue the star
    * job's stats pass behind a report. Excess branches queue and run in
    * waves.
    */
  def fanOut[T](spark: SparkSession, branches: Seq[Branch[T]]): Seq[T] = {
    val sc = spark.sparkContext
    val callerPool = Option(sc.getLocalProperty(PoolKey))
    val callerGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val groupId = callerGroup.getOrElse("graft-reports-" + java.util.UUID.randomUUID())
    val threads = Seq(branches.size, sc.defaultParallelism,
      math.max(Runtime.getRuntime.availableProcessors, MinDriverThreads)).min
    val executor = Executors.newFixedThreadPool(math.max(threads, 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(executor)
    try {
      val futures = branches.map { b =>
        Future {
          sc.setLocalProperty(PoolKey, b.pool.orElse(callerPool).orNull)
          sc.setJobGroup(groupId, s"graft report ${b.name}", interruptOnCancel = true)
          try b.work()
          finally {
            sc.clearJobGroup()
            sc.setLocalProperty(PoolKey, null)
          }
        }
      }
      try Await.result(Future.sequence(futures), Duration.Inf)
      catch {
        case t: Throwable =>
          if (callerGroup.isEmpty) sc.cancelJobGroupAndFutureJobs(groupId)
          futures.foreach(Await.ready(_, Duration.Inf))
          throw t
      }
    } finally executor.shutdown()
  }

  /** FAIR-mode session config; `fairscheduler.xml` replicates the
    * reference's `scheduler.xml:1-13` pool weights/minShares. The resource
    * may live inside a jar, which Hadoop's Path can't address — copy it to
    * a temp file and hand Spark the plain path.
    */
  def fairConfig: Map[String, String] = {
    val alloc = Option(getClass.getResourceAsStream("/fairscheduler.xml")).map { in =>
      val tmp = java.nio.file.Files.createTempFile("fairscheduler", ".xml")
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.toFile.deleteOnExit()
      tmp.toString
    }
    Map("spark.scheduler.mode" -> "FAIR") ++
      alloc.map("spark.scheduler.allocation.file" -> _)
  }
}
