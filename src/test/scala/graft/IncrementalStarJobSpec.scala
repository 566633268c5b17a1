package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.operators.{IncrementalStarJob, StarPipeline}
import graft.sources.BookmarkStore

/** End-to-end incremental job: run 1 over the initial fact table, new
  * rows "arrive", run 2 processes only the delta; a failed sink never
  * advances the bookmark (SURVEY.md §7.3 transactionality).
  */
class IncrementalStarJobSpec extends SparkSuite {

  /** A private sf dir whose lineitem we can grow between runs. */
  private def stagingDir(): String = {
    val dir = Files.createTempDirectory("incr-job").toString
    Seq("supplier", "part").foreach { t =>
      Tables.load(spark, sf, t).write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private def writeFact(dir: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

  test("second run processes only newly-arrived fact rows; totals match one full run") {
    val dir = stagingDir()
    val store = new BookmarkStore(Files.createTempDirectory("incr-bm").toString)
    val full = Tables.lineitem(spark, sf)
    val cutoff = 15000L
    writeFact(dir, full.filter(col("l_orderkey") <= cutoff))

    var sunk = Map.empty[String, Long].withDefaultValue(0L)
    def sink(name: String, df: DataFrame): Unit =
      synchronized { sunk += name -> (sunk(name) + df.count()) }

    val r1 = IncrementalStarJob.run(spark, dir, store)(sink)
    assert(r1.rowsRead == full.filter(col("l_orderkey") <= cutoff).count())
    assert(store.get("lineitem", "star_job").contains(
      full.filter(col("l_orderkey") <= cutoff).agg(max("l_orderkey")).head().getLong(0)))

    // new rows arrive
    writeFact(dir, full)
    val r2 = IncrementalStarJob.run(spark, dir, store)(sink)
    assert(r2.rowsRead == full.filter(col("l_orderkey") > cutoff).count())
    assert(r1.rowsRead + r2.rowsRead == full.count())

    // a third run sees nothing new
    val r3 = IncrementalStarJob.run(spark, dir, store)(sink)
    assert(r3.rowsRead == 0 && r3.committed.isEmpty)
  }

  test("a failing sink aborts the run and leaves the bookmark untouched") {
    val dir = stagingDir()
    val store = new BookmarkStore(Files.createTempDirectory("incr-bm2").toString)
    writeFact(dir, Tables.lineitem(spark, sf))

    intercept[Exception] {
      IncrementalStarJob.run(spark, dir, store) { (name, df) =>
        if (name == "part_brand_report") throw new RuntimeException("sink down")
        df.count()
      }
    }
    assert(store.get("lineitem", "star_job").isEmpty,
      "failed sink must not advance the bookmark")
    // the sibling report and the stats pass were cancelled and awaited:
    // no job of the failed run outlives it
    eventually(timeout(1.second)) {
      ListenerBusDrain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    }

    // recovery: the rerun re-reads the same delta and commits
    val r = IncrementalStarJob.run(spark, dir, store)((_, df) => df.count())
    assert(r.rowsRead == Tables.lineitem(spark, sf).count())
    assert(store.get("lineitem", "star_job").nonEmpty)
  }

  test("a delta row matching no dimension row is still counted and covered by the bookmark") {
    val dir = stagingDir()
    val store = new BookmarkStore(Files.createTempDirectory("incr-bm3").toString)
    val full = Tables.lineitem(spark, sf)
    val orphanKey = full.agg(max("l_orderkey")).head().getLong(0) + 100
    val orphan = full.limit(1)
      .withColumn("l_orderkey", lit(orphanKey))
      .withColumn("l_suppkey", lit(-1L).cast(full.schema("l_suppkey").dataType))
      .withColumn("l_partkey", lit(-1L).cast(full.schema("l_partkey").dataType))
    writeFact(dir, full.unionByName(orphan))

    var supplierRows = -1L
    val r = IncrementalStarJob.run(spark, dir, store) { (name, df) =>
      if (name == "supplier_report") supplierRows = df.count()
    }
    assert(r.rowsRead == full.count() + 1, "rowsRead counts the raw delta, not the joined rows")
    assert(r.committed.contains(orphanKey))
    assert(store.get("lineitem", "star_job").contains(orphanKey))
    assert(supplierRows == StarPipeline.supplierReport(StarPipeline.denormalizedFrom(full,
        Tables.supplier(spark, dir), Tables.part(spark, dir))).count(),
      "the unjoinable row never reaches a report")
  }

  test("a fact file landing during a run is neither counted nor committed; the next run ingests it") {
    val dir = stagingDir()
    val store = new BookmarkStore(Files.createTempDirectory("incr-bm4").toString)
    val full = Tables.lineitem(spark, sf)
    val cutoff = 15000L
    writeFact(dir, full.filter(col("l_orderkey") <= cutoff))
    val staged = Files.createTempDirectory("incr-arrival").resolve("late")
    full.filter(col("l_orderkey") > cutoff).coalesce(1).write.parquet(staged.toString)
    val arrival = Files.list(staged).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val landed = Paths.get(dir, "lineitem.parquet", "part-arrived.parquet")

    var sunk = Map.empty[String, Long]
    val r1 = IncrementalStarJob.run(spark, dir, store) { (name, df) =>
      synchronized { if (!Files.exists(landed)) Files.createLink(landed, arrival) }
      val n = df.count()
      synchronized { sunk += name -> n }
    }
    assert(Files.exists(landed))
    val before = full.filter(col("l_orderkey") <= cutoff)
    assert(r1.rowsRead == before.count())
    assert(r1.committed.contains(before.agg(max("l_orderkey")).head().getLong(0)))
    assert(sunk("part_brand_report") ==
      StarPipeline.partBrandReport(StarPipeline.denormalizedFrom(before,
        Tables.supplier(spark, dir), Tables.part(spark, dir))).count(),
      "the reports saw the run's file snapshot too")

    val r2 = IncrementalStarJob.run(spark, dir, store)((_, df) => { df.count(); () })
    assert(r2.rowsRead == full.filter(col("l_orderkey") > cutoff).count())
    assert(store.get("lineitem", "star_job").contains(full.agg(max("l_orderkey")).head().getLong(0)))
  }
}
