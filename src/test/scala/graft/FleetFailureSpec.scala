package graft

import java.util.concurrent.CountDownLatch
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.operators.{Fleet, ParallelReports}
import graft.sources.InvertedIndex

/** The fleet walk's failure path: a failing maintenance action must not
  * leave a sibling's Spark job running behind the rethrown error, and a
  * failing recall-sweep setting must not leave its siblings running
  * behind the sweep's rethrown error.
  */
class FleetFailureSpec extends SparkSuite {

  test("a failing action rethrows, and a sibling's long job is cancelled before maintainAll returns") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val store = new InvertedIndex(spark, TempDirs.create("fleet-fail"))
    store.bootstrap(docs.filter(col("doc_id") < 250))
    store.append(docs.filter(col("doc_id") >= 250)) // fragmented: due
    val sc = spark.sparkContext
    val siblingStarted = new CountDownLatch(1)
    val slow = Fleet.Entry("slow", store, () => {
      siblingStarted.countDown()
      sc.parallelize(1 to 4, 4).map { i => Thread.sleep(30000); i }.count()
      store
    })
    val boom = Fleet.Entry("boom", store, () => {
      siblingStarted.await()
      // fail only once the sibling's job is really running
      eventually(timeout(10.seconds)) {
        assert(sc.statusTracker.getActiveJobIds.nonEmpty)
      }
      throw new IllegalStateException("maintenance failed")
    })
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Fleet.maintainAll(spark, Seq(slow, boom), maxLag = 0L, maxFragments = 1)
    }
    assert(err.getMessage === "maintenance failed")
    // the sibling's tasks would sleep 30 s: returning well before that,
    // with no active job left, means its job was cancelled and awaited
    assert((System.nanoTime() - t0) / 1e9 < 20.0)
    eventually(timeout(1.second)) {
      ListenerBusDrain(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
    }
  }

  test("a failing sweep setting rethrows only after its sibling settings have finished") {
    val siblingStarted = new CountDownLatch(1)
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      ParallelReports.fanOut(spark, Seq(
        ParallelReports.Branch("1", None, () => {
          siblingStarted.countDown()
          Thread.sleep(2000)
          siblingDone.set(true)
        }),
        ParallelReports.Branch("2", None, () => {
          siblingStarted.await()
          throw new IllegalStateException("setting failed")
        })))
    }
    assert(err.getMessage === "setting failed")
    assert(siblingDone.get, "foreach rethrew while a sibling setting was still running")
  }
}
