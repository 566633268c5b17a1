package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's star-schema ETL (SURVEY.md §2 S2-S8) re-expressed
  * Spark-first on the testdata role mapping (FIXTURES.md §B): `lineitem` is
  * the fact (reference `tbl_trialRegister`), `supplier` and `part` are the
  * two dimensions (reference `tbl_Users` / `tbl_Subscriptions`).
  *
  * Shape (reference `glue_rds_to_redshift.py:44-48`): rename fact FKs to
  * avoid post-join collisions -> chained inner equi-join fact ⋈ dim1 ⋈ dim2
  * -> project the denormalized columns -> cache the reports' columns once,
  * share them across reports.
  *
  * Scale notes (100 TB discipline):
  *  - Dimensions are orders of magnitude smaller than the fact, so both
  *    joins are explicitly `broadcast()` — zero shuffle of the fact table.
  *    On a real cluster the fact is only ever read and aggregated in place.
  *  - The projection is declared before any action so Catalyst prunes the
  *    parquet scan to exactly the needed columns (check ReadSchema).
  *  - [[cachedReportInput]] materializes, once for the two reports
  *    (reference S6), only the [[reportColumns]] of the denormalized
  *    frame: the narrowing is declared before the cache, so Catalyst
  *    prunes the fact scan and both dimension broadcasts to what the
  *    reports read, and the cache holds 5 of the 11 projected columns.
  *    Reports then aggregate with map-side partial aggregation and only
  *    shuffle their few group keys.
  */
object StarPipeline {

  /** Columns kept by the projection (reference S4's SelectFields). */
  val projected: Seq[String] = Seq(
    "l_orderkey", "l_linenumber", "trn_partkey", "trn_suppkey",
    "paid_amount", "register_date", "s_name", "s_nationkey",
    "p_brand", "p_type", "p_size")

  /** Rename fact FK columns (reference S2, `rename_field` at :44). */
  def renamed(fact: DataFrame): DataFrame = fact
    .withColumnRenamed("l_partkey", "trn_partkey")
    .withColumnRenamed("l_suppkey", "trn_suppkey")

  /** rename -> join x2 -> project over an injected fact frame — lets the
    * incremental job feed a bookmark-filtered delta (S1) through the same
    * pipeline.
    */
  def denormalizedFrom(rawFact: DataFrame, supplier: DataFrame, part: DataFrame): DataFrame = {
    // scale-adaptive spread (r18, guide §2.5): a single-row-group fact
    // file scans as ONE real task, so the rename/join/project kernel —
    // and the shared cache parallel_reports materializes from it — ran
    // single-threaded (measured ~1.8 s of parallel_reports' ~3.8 s).
    // Tables.spread is a no-op whenever the scan already splits >= cores,
    // so a production-scale fact is never shuffled here; the broadcast
    // joins above keep the zero-fact-shuffle property either way.
    val fact = renamed(Tables.spread(rawFact, col("l_orderkey")))
      .withColumn("paid_amount", col("l_extendedprice"))
      .withColumn("register_date", to_date(col("l_shipdate")))
    fact
      .join(broadcast(supplier), fact("trn_suppkey") === supplier("s_suppkey"), "inner")
      .join(broadcast(part), fact("trn_partkey") === part("p_partkey"), "inner")
      .select(projected.map(col): _*)
  }

  /** rename -> join x2 -> project: the denormalized frame (S2+S3+S4). */
  def denormalized(spark: SparkSession, sfDir: String): DataFrame =
    denormalizedFrom(Tables.lineitem(spark, sfDir),
      Tables.supplier(spark, sfDir), Tables.part(spark, sfDir))

  /** The columns [[supplierReport]] and [[partBrandReport]] read: their
    * group keys and the summed measure.
    */
  val reportColumns: Seq[String] = Seq("trn_suppkey", "s_name", "register_date", "paid_amount", "p_brand")

  /** `denorm` narrowed to [[reportColumns]] and cached: the one frame both
    * reports share. The caller unpersists it once the reports are done.
    */
  def cachedReportInput(denorm: DataFrame): DataFrame =
    denorm.select(reportColumns.map(col): _*).cache()

  /** Report A (reference "users report", :62 intended semantics):
    * group by supplier identity + date, SUM(paid_amount).
    */
  def supplierReport(denorm: DataFrame): DataFrame = denorm
    .groupBy(col("trn_suppkey").as("s_suppkey"), col("s_name"), col("register_date"))
    .agg(round(sum(col("paid_amount")), 2).as("total"))

  /** Report B (reference "subscriptions report", :74 intended semantics):
    * group by part dimension attributes + date, SUM(paid_amount).
    */
  def partBrandReport(denorm: DataFrame): DataFrame = denorm
    .groupBy(col("p_brand"), col("register_date"))
    .agg(round(sum(col("paid_amount")), 2).as("total"))
}
