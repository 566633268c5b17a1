package graft

import java.util.concurrent.CountDownLatch
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.operators.{ParallelReports, StarPipeline}

/** Parallelism semantics (SURVEY.md §2 S11, §5 item 3): concurrent ≡
  * sequential; the pool-local property is set inside each task and cleared
  * after (reference defect D8 fixed); FAIR mode is live in the session.
  */
class ParallelReportsSpec extends SparkSuite {

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("FAIR scheduler mode is active with the reference pool allocation") {
    assert(spark.sparkContext.getSchedulingMode.toString == "FAIR")
  }

  test("two concurrent reports equal their sequential runs") {
    val shared = StarPipeline.denormalized(spark, sf).cache()
    val specs = Seq(
      ParallelReports.ReportSpec("supplier", "1", StarPipeline.supplierReport),
      ParallelReports.ReportSpec("part_brand", "2", StarPipeline.partBrandReport))
    val concurrent = ParallelReports.run(spark, shared, specs)(canon).toMap
    assert(concurrent("supplier") == canon(StarPipeline.supplierReport(shared)))
    assert(concurrent("part_brand") == canon(StarPipeline.partBrandReport(shared)))
    shared.unpersist()
  }

  test("pool property set during task, cleared afterwards, per thread") {
    val shared = StarPipeline.denormalized(spark, sf)
    val seen = ParallelReports.run(spark, shared,
      Seq(ParallelReports.ReportSpec("a", "1", identity),
          ParallelReports.ReportSpec("b", "2", identity))) { _ =>
      spark.sparkContext.getLocalProperty("spark.scheduler.pool")
    }.toMap
    assert(seen == Map("a" -> "1", "b" -> "2"))
    assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool") == null)
  }

  test("a failing report propagates instead of being swallowed (defect D4)") {
    val shared = StarPipeline.denormalized(spark, sf)
    intercept[RuntimeException] {
      ParallelReports.run(spark, shared,
        Seq(ParallelReports.ReportSpec("boom", "1",
          _ => throw new RuntimeException("report failed"))))(_.count())
    }
  }

  test("a failing branch cancels its siblings' jobs and awaits them before rethrowing") {
    val sc = spark.sparkContext
    val siblingStarted = new CountDownLatch(1)
    intercept[RuntimeException] {
      ParallelReports.fanOut(spark, Seq(
        ParallelReports.Branch("slow", Some("1"), () => {
          siblingStarted.countDown()
          sc.parallelize(1 to 4, 4).map { i => Thread.sleep(30000); i }.count()
        }),
        ParallelReports.Branch("boom", Some("2"), () => {
          siblingStarted.await()
          throw new RuntimeException("branch failed")
        })))
    }
    // the slow sibling's tasks would run 30 s: an empty job list right
    // after the rethrow means its job was cancelled, not left running
    eventually(timeout(1.second)) {
      ListenerBusDrain(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
    }
  }
}
