package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites; one per suite via lazy val.
  *
  * Every test drains [[Residue]] on exit: operators pin/cut
  * materializations that the engine frees at end-of-query, and the suites
  * must exercise the same hygiene or block residue from one test
  * contaminates the timings and plans of the next (the r5/r6 bench
  * failure mode, in miniature).
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, counted by a listener. */
  def jobsDuring[T](body: => T): (Int, T) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (jobs.get, out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  override protected def afterEach(): Unit = {
    Residue.drain(spark)
    super.afterEach()
  }
}
