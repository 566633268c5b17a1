package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, unix_micros, unix_timestamp}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Per-table catalog metadata (SURVEY.md §1.1): where the table lives
  * relative to a scale-factor root, and — for append-only tables — the
  * ascending key that job bookmarks track. Dimension tables have no
  * bookmark key: they are snapshot-replaced, not incrementally appended.
  */
final case class TableMeta(name: String, location: String,
                           bookmarkKey: Option[String] = None)

/** Catalog over the driver-generated testdata (TESTDATA.md).
  *
  * The reference resolves table *names* through the Glue Data Catalog
  * (`glue_rds_to_redshift.py:28,32,37`) rather than declaring schemas in
  * code; this object is the Spark-native analogue — name ->
  * (schema, location, bookmark key). Schemas are schema-on-read from
  * parquet footers, resolved on the driver without a Spark job (see
  * [[schema]]) once per (sfDir, table) and cached for the life of the
  * JVM; every [[load]] reads through the cached schema, so no load
  * starts a job to resolve it, and only a location's first load reads a
  * footer. A JVM-lifetime cache does not outlive one run of a job that
  * starts a fresh JVM per run (the reference's Glue job), so that first
  * footer read is on every production run's path. A location keeps ONE
  * schema: rewriting a table in place with different columns needs a
  * new location. All reads go through here so that column
  * pruning / predicate pushdown stay visible in one place, and so
  * incremental readers resolve bookmark keys from the catalog instead of
  * hard-coding them at call sites.
  */
object Tables {
  val meta: Map[String, TableMeta] = Seq(
    TableMeta("region", "region.parquet"),
    TableMeta("nation", "nation.parquet"),
    TableMeta("customer", "customer.parquet"),
    TableMeta("supplier", "supplier.parquet"),
    TableMeta("part", "part.parquet"),
    TableMeta("orders", "orders.parquet", bookmarkKey = Some("o_orderkey")),
    TableMeta("lineitem", "lineitem.parquet", bookmarkKey = Some("l_orderkey")),
    TableMeta("events", "events.parquet", bookmarkKey = Some("event_id")),
    TableMeta("documents", "documents.parquet", bookmarkKey = Some("doc_id")),
    TableMeta("embeddings", "embeddings.parquet", bookmarkKey = Some("vec_id"))
  ).map(t => t.name -> t).toMap

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Catalog-declared bookmark key for an incrementally-scanned table. */
  def bookmarkKey(name: String): String =
    meta.get(name).flatMap(_.bookmarkKey).getOrElse(
      throw new IllegalArgumentException(
        s"table '$name' has no bookmark key in the catalog"))

  private def path(sfDir: String, name: String): String =
    s"$sfDir/${meta.get(name).map(_.location).getOrElse(s"$name.parquet")}"

  /** Scan of `name` under `sfDir` with the catalog schema: no Spark job,
    * and no footer read after the location's first load.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(path(sfDir, name))

  private val schemaCache = new ConcurrentHashMap[(String, String), StructType]()

  /** Footer-resolved schema, cached per (sfDir, table): equal to
    * `spark.read.parquet(location).schema` but resolved without a Spark
    * job. Spark's own file index lists the location and infers its
    * partition columns; the one footer Spark's (non-merging) inference
    * reads — `_common_metadata`, else `_metadata`, else the first data
    * file by path — is read on the driver and converted by Spark's
    * converter; the data columns then become nullable and the partition
    * columns are merged in as `HadoopFsRelation` does. Spark's inference
    * reads that same single footer, inside a one-task job. A location
    * with no file fails with Spark's `UNABLE_TO_INFER_SCHEMA`.
    */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    schemaCache.computeIfAbsent((sfDir, name), _ => footerSchema(spark, path(sfDir, name)))

  private def footerSchema(spark: SparkSession, location: String): StructType = {
    val (_, fs, _) = fileScan(spark.read.schema(new StructType()).parquet(location).queryExecution.analyzed)
      .getOrElse(throw new IllegalStateException(s"$location is not a file scan"))
    val files = fs.location match {
      case index: PartitioningAwareFileIndex => index.allFiles().sortBy(_.getPath.toString)
      case other => throw new IllegalStateException(s"unexpected file index ${other.getClass}")
    }
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = summaries.iterator.flatMap(name => files.find(_.getPath.getName == name)).nextOption()
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> fs.fileFormat.toString)))
    val session = fs.sparkSession
    val input = HadoopInputFile.fromStatus(file, session.sessionState.newHadoopConfWithOptions(fs.options))
    val footer = new Footer(file.getPath,
      ParquetFooterReader.readFooter(input, ParquetMetadataConverter.SKIP_ROW_GROUPS))
    val dataSchema = ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(session.sessionState.conf))
    fs.copy(dataSchema = nullable(dataSchema).asInstanceOf[StructType])(session).schema
  }

  /** `t` with every field, element and map value nullable — what Spark's
    * (package-private) `asNullable` makes of an inferred data schema.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** SCALE-ADAPTIVE INPUT SPREAD (r18; guide §2.5 "input skew: one huge
    * unsplittable file — repartition immediately after the read"). The
    * committed testdata ships ONE parquet row group per table, so a scan
    * yields one REAL task regardless of session cores (byte-range splits
    * beyond the row group come up empty), and every CPU-heavy map kernel
    * above it — shingle/minhash signatures, the star denorm projection —
    * runs single-threaded until its first exchange (measured:
    * dedup_minhash_lsh spent ~0.9 s/run of a ~2.3 s query in one-task
    * kernel stages on a 32-core session; parallel_reports materialized
    * its shared cache through one real task for ~1.8 s of a ~3.8 s
    * query).
    *
    * Hash-repartitions on `key` ONLY when the scan's split count is below
    * the session's parallelism: a production-scale input already split
    * into >= cores partitions is returned untouched, so this never adds a
    * data-sized shuffle where the scan parallelizes by itself — the
    * guard is plan-derived (split count), never a row count or a box
    * constant. The split count comes from [[scanPartitions]], i.e. from
    * the scan's already-listed files, never from `df.rdd`: deciding plans
    * nothing and starts no job (under AQE `df.rdd` would also run any
    * upstream exchange). An input that is not a single file scan under
    * filters and projections is returned unchanged. HASH placement on a
    * stable key, not round-robin:
    * deterministic under task retries (guide §2.5's SPARK-38388 note)
    * and free of round-robin's local sort-before-repartition, which
    * would itself run inside the one hot task this helper exists to
    * relieve.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df).exists(_ < par)) df.repartition(par, key) else df
  }

  /** Input partitions the physical scan of `df` will have, computed the
    * way `FileSourceScanExec` splits a non-bucketed file scan — Spark's
    * own `FilePartition.maxSplitBytes` / `getFilePartitions` over the
    * relation's listed files, with partition filters of the scan applied
    * as the planner would — so it equals `df.rdd.getNumPartitions`
    * without building a physical plan. None when `df` is not exactly one
    * file scan under filters and projections (joins, aggregates, unions,
    * limits, local or bucketed relations).
    */
  private[graft] def scanPartitions(df: DataFrame): Option[Int] =
    fileScan(df.queryExecution.analyzed).map { case (l, fs, filters) =>
      val spark = fs.sparkSession
      val partCols = AttributeSet(l.resolve(fs.partitionSchema, spark.sessionState.analyzer.resolver))
      val pushable = filters.filter(f => f.deterministic && !SubqueryExpression.hasSubquery(f))
      val (partFilters, dataFilters) =
        pushable.partition(f => f.references.nonEmpty && f.references.subsetOf(partCols))
      val selected = fs.location.listFiles(partFilters, dataFilters)
      val maxSplit = FilePartition.maxSplitBytes(spark, selected)
      val splits = selected.flatMap { dir =>
        dir.files.flatMap { file =>
          val p = file.getPath
          PartitionedFileUtil.splitFiles(file, p,
            fs.fileFormat.isSplitable(spark, fs.options, p), maxSplit, dir.values)
        }
      }.sortBy(_.length)(Ordering[Long].reverse)
      FilePartition.getFilePartitions(spark, splits, maxSplit).size
    }

  /** The one non-bucketed file relation under filters and projections of
    * an analyzed plan, with the filters' conjuncts; None for any other
    * plan.
    */
  private def fileScan(plan: LogicalPlan): Option[(LogicalRelation, HadoopFsRelation, Seq[Expression])] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def scan(p: LogicalPlan, filters: Seq[Expression])
        : Option[(LogicalRelation, HadoopFsRelation, Seq[Expression])] = p match {
      case f: Filter => scan(f.child, filters ++ conjuncts(f.condition))
      case pr: Project => scan(pr.child, filters)
      case a: SubqueryAlias => scan(a.child, filters)
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation if fs.bucketSpec.isEmpty => Some((l, fs, filters))
        case _ => None
      }
      case _ => None
    }
    scan(plan, Nil)
  }

  /** Epoch-second event time from `events.ts` — the ONE place the engine
    * derives seconds from the driver's timestamp encoding, so a driver-side
    * schema change is a one-line fix here instead of a sweep of call sites
    * (the r5 regression: 13 sites each pinned the old nanos-as-long
    * encoding). `ts` is parquet TIMESTAMP(MICROS) read as TIMESTAMP_NTZ;
    * the session timezone is pinned UTC (GraftSession), so
    * `unix_timestamp` floors to the same epoch seconds DuckDB's
    * `floor(epoch(ts))` yields in the oracle.
    */
  def eventSeconds: Column = unix_timestamp(col("ts"))

  /** Epoch-microsecond event time (full stored precision) — for operators
    * that order within a second (as-of joins). NTZ has no `unix_micros`
    * overload, so up-cast to the instant type first; under the UTC session
    * timezone the wall-clock is preserved and this equals DuckDB's
    * `epoch_us(ts)`.
    */
  def eventMicros: Column = unix_micros(col("ts").cast("timestamp"))
}
