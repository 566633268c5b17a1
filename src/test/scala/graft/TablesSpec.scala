package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The catalog's job-free repeat loads and the file-index spread guard:
  * a cached schema makes a location's second load start no Spark job, and
  * `Tables.spread` decides exactly as `df.rdd.getNumPartitions < cores`
  * did — without planning, and without starting a job.
  */
class TablesSpec extends SparkSuite {

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (Int, T) = {
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

  private def par = spark.sparkContext.defaultParallelism

  private def planned(df: DataFrame): Int = df.rdd.getNumPartitions

  test("a second load of one location starts no Spark job and returns an equal schema") {
    val dir = TempDirs.create("tables-schema")
    Tables.supplier(spark, sf).write.parquet(s"$dir/supplier.parquet")
    val (firstJobs, first) = jobsDuring(Tables.load(spark, dir, "supplier"))
    assert(firstJobs >= 1, "the first load resolves the schema from the footers")
    val (secondJobs, second) = jobsDuring(Tables.load(spark, dir, "supplier"))
    assert(secondJobs == 0)
    assert(second.schema == first.schema)
    assert(second.schema == spark.read.parquet(s"$dir/supplier.parquet").schema)
    assert(second.collect().toSeq.map(_.toString).sorted ==
      Tables.supplier(spark, sf).collect().toSeq.map(_.toString).sorted)
  }

  test("spread decides as the planned scan's partition count on a single file and a multi-file scan") {
    val multi = TempDirs.create("tables-multi")
    Tables.lineitem(spark, sf).repartition(2 * par).write.parquet(s"$multi/lineitem.parquet")
    val parted = TempDirs.create("tables-parted")
    Tables.lineitem(spark, sf).write.partitionBy("l_returnflag").parquet(s"$parted/lineitem.parquet")
    val cases = Seq(
      "one-row-group single file" -> Tables.lineitem(spark, sf),
      "byte-range-split single file" ->
        Tables.lineitem(spark, java.nio.file.Paths.get(sf).resolveSibling("sf0.1").toString),
      "multi-file scan" -> Tables.lineitem(spark, multi),
      "partitioned scan" -> Tables.lineitem(spark, parted),
      "partition-pruned scan" -> Tables.lineitem(spark, parted).filter(col("l_returnflag") === "R"))
    cases.foreach { case (what, df) =>
      assert(Tables.scanPartitions(df).contains(planned(df)), what)
    }
    val single = Tables.lineitem(spark, sf)
    assert(planned(single) < par && !(Tables.spread(single, col("l_orderkey")) eq single))
    val wide = Tables.lineitem(spark, multi)
    assert(planned(wide) >= par && (Tables.spread(wide, col("l_orderkey")) eq wide))
  }

  test("spread decides as before at the star-denorm, dedup and bloom call sites") {
    val lastKey = Tables.lineitem(spark, sf).agg(max("l_orderkey")).head().getLong(0) / 2
    val sites = Seq(
      "star denorm delta" -> Tables.lineitem(spark, sf).filter(col("l_orderkey") > lastKey),
      "documents % 10" -> Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0),
      "docs % 50 != 0" -> Tables.documents(spark, sf).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 50 =!= 0))
    val (jobs, decided) = jobsDuring(sites.map { case (what, df) => what -> Tables.scanPartitions(df) })
    assert(jobs == 0, "computing the spread decision must start no Spark job")
    sites.zip(decided).foreach { case ((what, df), (_, parts)) =>
      assert(parts.contains(planned(df)), what)
      assert(parts.exists(_ < par) == planned(df) < par, what)
    }
  }

  test("spread returns an input that is not a single file scan unchanged") {
    val agg = Tables.lineitem(spark, sf).groupBy(col("l_suppkey")).count()
    val local = spark.range(10).toDF("id")
    val joined = Tables.supplier(spark, sf).join(Tables.nation(spark, sf),
      col("s_nationkey") === col("n_nationkey"))
    Seq(agg, local, joined).foreach { df =>
      assert(Tables.scanPartitions(df).isEmpty)
      assert(Tables.spread(df, lit(1)) eq df)
    }
  }
}
