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
    * jobs in FAIR pool `pool` (None: the default pool).
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

  /** Run every branch on its own driver thread; returns their results in
    * branch order. All branches share one cancellable job group: when any
    * branch fails, the group's running AND not-yet-submitted jobs are
    * cancelled and every sibling is awaited before the first failure is
    * rethrown, so no branch's job outlives the call — none can race the
    * caller's cleanup (e.g. an unpersist in the caller's finally).
    */
  def fanOut[T](spark: SparkSession, branches: Seq[Branch[T]]): Seq[T] = {
    val executor = Executors.newFixedThreadPool(math.max(branches.size, 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(executor)
    val sc = spark.sparkContext
    val groupId = "graft-reports-" + java.util.UUID.randomUUID()
    try {
      val futures = branches.map { b =>
        Future {
          sc.setLocalProperty("spark.scheduler.pool", b.pool.orNull)
          sc.setJobGroup(groupId, s"graft report ${b.name}", interruptOnCancel = true)
          try b.work()
          finally {
            sc.clearJobGroup()
            sc.setLocalProperty("spark.scheduler.pool", null)
          }
        }
      }
      try Await.result(Future.sequence(futures), Duration.Inf)
      catch {
        case t: Throwable =>
          sc.cancelJobGroupAndFutureJobs(groupId)
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
