package graft

import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{BpeVocabStore, DsirModelStore, LmStore}
import graft.streaming.MaterializedAgg

/** The stores that commit through a [[graft.sources.GenerationLedger]]
  * without being an index: the fit-once model stores and the
  * [[MaterializedAgg]] view state. Pinned from the outside: the slot
  * names and top-level directories a fit leaves (the on-disk format a
  * reopened store reads), that a failed write commits nothing and its
  * retry applies, and that the view state keeps only two generations.
  */
class LedgeredStoresSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)
    .filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("lang"), col("text"))

  private def slots(dir: String): Map[String, String] = {
    val f = Paths.get(dir, "bookmarks.properties")
    val p = new Properties()
    if (Files.exists(f)) { val in = Files.newInputStream(f); try p.load(in) finally in.close() }
    p.asScala.toMap
  }

  private def listing(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).toSeq.sorted

  /** Fails every Spark job that reads `c`. */
  private def poison(c: String)(df: DataFrame): DataFrame = {
    val boom = udf((s: String) => { if (s != "\u0000") throw new IllegalStateException("write failed"); s })
    df.withColumn(c, boom(col(c).cast("string")))
  }

  // (name, fit into a dir and report `committed`, slots, top-level dirs);
  // the lists are the on-disk format an already-fitted root is reopened
  // with, so they must not change
  private val fitCases: Seq[(String, (String, DataFrame) => Boolean, Seq[String], Seq[String])] = Seq(
    ("lm", (dir, d) => { val s = new LmStore(spark, dir); s.fit(d); s.committed },
      Seq("fit::bigram_lm", "vocab::bigram_lm"), Seq("bookmarks.properties", "ctx", "lm")),
    ("dsir", (dir, d) => {
      val s = new DsirModelStore(spark, dir, buckets = 64); s.fit(d, col("lang") === "en"); s.committed
    }, Seq("fit::dsir_model", "param.buckets::dsir_model"), Seq("bookmarks.properties", "model")),
    ("bpe", (dir, d) => { val s = new BpeVocabStore(spark, dir, rounds = 2); s.fit(d); s.committed },
      Seq("fit::bpe_vocab", "param.rounds::bpe_vocab"), Seq("bookmarks.properties", "merges")))

  fitCases.foreach { case (name, fit, slotNames, dirs) =>
    test(s"$name: a fit whose write throws commits no slot; the retry fits and pins slot and dir names") {
      val dir = TempDirs.create(s"fit-once-$name")
      intercept[Exception] { fit(dir, poison("text")(docs)) }
      assert(slots(dir).isEmpty, "a failed fit must leave no slot at all")
      assert(fit(dir, docs))
      val committed = slots(dir)
      assert(committed.keys.toSeq.sorted === slotNames)
      assert(committed.collect { case (k, v) if k.startsWith("fit::") => v }.toSeq === Seq("0"))
      assert(listing(dir) === dirs)
    }
  }

  test("materialized view: a failed state write changes nothing, its redelivery applies; two generations stay") {
    val dir = TempDirs.create("mview-ledger")
    val m = new MaterializedAgg(dir, Seq("k"), "v")
    def rows = m.view(spark).get.select("k", "n", "total").as[(String, Long, Double)].collect().toSet
    m.sink(Seq(("a", 1.0)).toDF("k", "v"), 0L)
    val pointer = m.currentPointer()
    val before = rows
    val b1 = Seq(("a", 2.0), ("b", 3.0)).toDF("k", "v")
    intercept[Exception] { m.sink(poison("v")(b1).withColumn("v", col("v").cast("double")), 1L) }
    assert(m.currentPointer() === pointer && pointer === Some((0L, 0L)))
    assert(rows === before)
    m.sink(b1, 1L)
    assert(m.currentPointer() === Some((1L, 1L)))
    assert(rows === Set(("a", 2L, 3.0), ("b", 1L, 3.0)))
    (2L to 4L).foreach(id => m.sink(Seq(("c", id.toDouble)).toDF("k", "v"), id))
    assert(m.currentPointer() === Some((4L, 4L)))
    assert(listing(dir) === Seq("bookmarks.properties", "v3", "v4"))
    assert(rows === Set(("a", 2L, 3.0), ("b", 1L, 3.0), ("c", 3L, 9.0)))
  }
}
