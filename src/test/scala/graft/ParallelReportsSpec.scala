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

  test("a nested fan-out's None branches keep the enclosing branch's pool") {
    val sc = spark.sparkContext
    val seen = ParallelReports.fanOut(spark, Seq(
      ParallelReports.Branch("outer", Some("fleet-x"), () =>
        ParallelReports.fanOut(spark, Seq("i1", "i2").map(n =>
          ParallelReports.Branch(n, None, () => sc.getLocalProperty("spark.scheduler.pool")))))))
    assert(seen.flatten === Seq("fleet-x", "fleet-x"))
    assert(sc.getLocalProperty("spark.scheduler.pool") == null)
  }

  private def slowJob(): Long = spark.sparkContext.parallelize(1 to 4, 4)
    .map { i => Thread.sleep(30000); i }.count()

  private def drained(): Unit = eventually(timeout(1.second)) {
    ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  private def awaitActiveJob(): Unit = eventually(timeout(10.seconds)) {
    assert(spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty)
  }

  test("an outer failure cancels the jobs of a nested fan-out, which runs in the outer group") {
    val innerStarted = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      ParallelReports.fanOut(spark, Seq(
        ParallelReports.Branch("a", Some("1"), () => {
          ParallelReports.fanOut(spark, Seq(ParallelReports.Branch("a-inner", None, () => {
            innerStarted.countDown()
            slowJob()
          })))
          ()
        }),
        ParallelReports.Branch("b", Some("2"), () => {
          innerStarted.await()
          awaitActiveJob() // fail only once the nested job is really running
          throw new IllegalStateException("outer sibling failed")
        })))
    }
    assert(err.getMessage === "outer sibling failed")
    // the nested tasks would sleep 30 s: returning well before that means
    // the outer cancel reached the nested job
    assert((System.nanoTime() - t0) / 1e9 < 20.0)
    drained()
  }

  test("a nested failure surfaces as the root cause, not as an outer sibling's cancellation") {
    val siblingStarted = new CountDownLatch(1)
    val err = intercept[IllegalStateException] {
      ParallelReports.fanOut(spark, Seq(
        ParallelReports.Branch("a", Some("1"), () => {
          siblingStarted.await()
          awaitActiveJob()
          ParallelReports.fanOut(spark, Seq(ParallelReports.Branch("a-inner", None, () =>
            throw new IllegalStateException("nested branch failed"))))
          ()
        }),
        ParallelReports.Branch("b", Some("2"), () => {
          siblingStarted.countDown()
          slowJob()
          ()
        })))
    }
    assert(err.getMessage === "nested branch failed")
    drained()
  }
}
