package graft.sources

/** Driver-thread fan-out for era-boundary SWEEPS (r17): a recall sweep
  * evaluates a handful of independent (nprobe / shortlist) settings, each
  * one a small chain of Spark jobs ending in a metadata-sized collect —
  * run serially, every setting's stage tail leaves the session idle
  * before the next setting's jobs are even submitted. Spark's scheduler
  * runs jobs from several driver threads concurrently (the
  * [[graft.operators.ParallelReports]] S11 shape), so independent sweep
  * settings overlap: one setting's stragglers back-fill with the next
  * setting's stages. Results are deterministic — each setting's probe is
  * a pure function of the frozen index and the query sample; only the
  * JOB interleaving changes, never a value.
  *
  * Failure discipline: `Await.result` rethrows the first failed setting
  * after the pool stops accepting work — a sweep that cannot measure a
  * setting fails the maintenance run loudly, exactly as the serial loop
  * did.
  */
private[graft] object SweepFanout {

  def foreach[A](items: Seq[A])(run: A => Unit): Unit =
    if (items.sizeIs <= 1) items.foreach(run)
    else {
      // pool capped at the session's parallelism (r17 verdict #4): a
      // sweep grid wider than the core count gains nothing from more
      // in-flight jobs than cores — excess settings queue and overlap in
      // waves. The session is the one the settings' jobs run on; a
      // caller thread with no active or default session gets one thread
      // per item instead of an exception.
      import org.apache.spark.sql.SparkSession
      val cap = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(s => math.min(items.size, s.sparkContext.defaultParallelism))
        .getOrElse(items.size)
      val executor =
        java.util.concurrent.Executors.newFixedThreadPool(cap.max(1))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(executor)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          items.map(a => scala.concurrent.Future(run(a)))),
        scala.concurrent.duration.Duration.Inf): Unit
      finally executor.shutdown()
    }
}
