package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One generated append-only delta file of the fact table. */
final case class Delta(file: Path, onTimeRows: Long, lateRows: Long, maxOnTimeKey: Long)

/** Seeded star-schema inputs shaped like the sf0.1 testdata: a 600k-row
  * `lineitem` fact in ONE file with ONE row group, `supplier` (1k rows) and
  * `part` (20k rows), plus append-only `lineitem` delta files.
  *
  * Every column is a hash of (seed, row index), so the same seed gives the
  * same files and a delta row can be "resampled" from base row `i` without
  * reading the base back: its foreign keys resolve by construction.
  *
  * Keys: base `l_orderkey` is uniform in [0, 150000). Delta rows carry
  * ascending, gapped keys above the base (four lines per key, gaps of one
  * to four within a delta, larger between deltas), so each delta's keys
  * lie strictly above every earlier one. A seeded ~1% of each delta's
  * rows are late arrivals with keys below
  * [[Inputs.LateKeyBound]], under every bookmark the benchmark commits:
  * the job drops them by design.
  */
final class Inputs(spark: SparkSession, seed: Long, dir: Path) {
  import Inputs._

  private def h(salt: Int, cols: Column*): Column = xxhash64(lit(seed) +: lit(salt) +: cols: _*)
  private def pick(n: Long, salt: Int, cols: Column*): Column = pmod(h(salt, cols: _*), lit(n))

  /** Base fact row `i`'s columns except the key columns. */
  private def factBody(i: Column): Seq[Column] = {
    val qty = (pick(50, 5, i) + 1).cast("double")
    Seq(
      pick(PartRows, 2, i).as("l_partkey"),
      pick(SupplierRows, 3, i).as("l_suppkey"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + pick(110000, 6, i) / 100.0), 2).as("l_extendedprice"),
      (pick(11, 7, i) / 100.0).as("l_discount"),
      (pick(9, 8, i) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pick(3, 9, i) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (pick(2, 10, i) + 1).cast("int")).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1995-01-02")), pick(2499, 11, i).cast("int"))
        .cast("timestamp").as("l_shipdate"))
  }

  private def factColumns(key: Column, line: Column, src: Column): Seq[Column] =
    Seq(key.as("l_orderkey"), line.cast("int").as("l_linenumber")) ++ factBody(src)

  private def writeOne(df: DataFrame, name: String): Path = {
    val out = dir.resolve(name)
    df.coalesce(1).write.parquet(out.toString)
    out
  }

  /** Data files (not markers) directly under a written table directory. */
  private def dataFiles(table: Path): Seq[Path] =
    Files.list(table).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)

  lazy val supplier: Path = writeOne(spark.range(SupplierRows).select(
    col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    pick(25, 30, col("id")).cast("int").as("s_nationkey"),
    round(pick(1100000, 31, col("id")) / 100.0 - 1000.0, 2).as("s_acctbal")), "supplier.parquet")

  lazy val part: Path = writeOne(spark.range(PartRows).select(
    col("id").as("p_partkey"),
    concat_ws(" ", element_at(array(Seq("large", "hot", "small", "medium", "tiny").map(lit): _*),
      (pick(5, 40, col("id")) + 1).cast("int")),
      element_at(array(Seq("ring", "bolt", "nut", "gear", "pin").map(lit): _*),
        (pick(5, 41, col("id")) + 1).cast("int"))).as("p_name"),
    concat(lit("Brand#"), (pick(25, 42, col("id")) + 1).cast("string")).as("p_brand"),
    element_at(array(Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO").map(lit): _*),
      (pick(6, 43, col("id")) + 1).cast("int")).as("p_type"),
    (pick(50, 44, col("id")) + 1).cast("int").as("p_size"),
    round(lit(900.0) + pick(100000, 45, col("id")) / 100.0, 2).as("p_retailprice")), "part.parquet")

  /** The base fact: one file, one row group (like the committed testdata). */
  lazy val baseFact: Path = dataFiles(writeOne(spark.range(BaseRows).select(
    factColumns(pick(BaseKeySpan, 1, col("id")), pick(7, 4, col("id")) + 1, col("id")): _*),
    "lineitem_base")).head

  /** Max `l_orderkey` of the base fact, by an aggregate the job never runs. */
  lazy val baseMaxKey: Long = spark.read.parquet(baseFact.toString)
    .agg(max(col("l_orderkey"))).head().getLong(0)

  /** `n` delta files of about `rows` on-time rows each, in append order.
    * Delta `d` owns row slots [d * slot, (d + 1) * slot) of one range and
    * the key range above `OnTimeKeyBase + d * KeyStride`; its size and
    * late share are hashes of (seed, d). One Spark job writes every file
    * and one aggregate records them, all before any timed region.
    */
  def deltas(n: Int, rows: Int): IndexedSeq[Delta] = {
    val slot = rows + rows / 10
    val d = floor(col("id") / slot)
    val j = pmod(col("id"), lit(slot.toLong))
    // whole keys per delta (four lines each), so no key straddles two files
    val size = floor((lit(rows - rows / 20) + pick(rows / 10 + 1, 20, d)) / 4) * 4
    val late = lit(rows / 200) + pick(rows / 100 + 1, 21, d)
    val q = floor(j / 4)
    val onTime = j < size
    val key = when(onTime, lit(OnTimeKeyBase) + d * (4L * slot) + q * 2 + pick(2, 22, d, q) + floor(q / 3))
      .otherwise(pick(LateKeyBound, 23, d, j)) // ascending and gapped / late
    val line = when(onTime, pmod(j, lit(4)) + 1).otherwise(pick(7, 24, d, j) + 1)
    val out = dir.resolve("deltas")
    spark.range(n.toLong * slot).filter(j < size + late)
      .select(d.cast("int").as("d") +: factColumns(key, line, pick(BaseRows, 25, d, j)): _*)
      .repartition(col("d")).write.partitionBy("d").parquet(out.toString)
    val onTimeRow = col("l_orderkey") >= OnTimeKeyBase
    val stats = spark.read.parquet(out.toString).groupBy(col("d"))
      .agg(sum(onTimeRow.cast("long")), sum((!onTimeRow).cast("long")), max(col("l_orderkey")))
      .collect().map(r => r.getInt(0) -> r).toMap
    (0 until n).map { k =>
      val r = stats(k)
      Delta(dataFiles(out.resolve(s"d=$k")).head, r.getLong(1), r.getLong(2), r.getLong(3))
    }
  }
}

object Inputs {
  val BaseRows = 600000L
  val SupplierRows = 1000L
  val PartRows = 20000L
  val BaseKeySpan = 150000L
  /** First on-time delta key; above every base key. */
  val OnTimeKeyBase = 1000000L
  /** Late rows' keys lie below this, under every committed bookmark. */
  val LateKeyBound = 100000L
}
