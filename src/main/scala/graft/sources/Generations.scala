package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The generation-ledger protocol: the job bookmark (SURVEY §2 S1)
  * applied to a store's own data, and the one commit path of every file
  * store — the index stores ([[IvfIndex]], [[PqIndex]], [[IvfPqIndex]],
  * [[InvertedIndex]], [[LshBandIndex]]), the fit-once model stores
  * ([[LmStore]], [[DsirModelStore]], [[BpeVocabStore]]), the
  * [[graft.streaming.StreamSink]] parquet sink and the
  * [[graft.streaming.MaterializedAgg]] view state.
  *
  * One ledger owns a store root's [[BookmarkStore]] handle in one `ctx`,
  * with two per-store slot names: the committed WATERMARK (the highest
  * visible generation) and the compacted BASE (the generation the last
  * compaction folded through). Data lives in `<tail><g>` generation dirs
  * and `<base><g>` fold dirs under the root (prefixes `gen-` and `base-`
  * unless the store names its own).
  *
  *   - APPEND ([[advance]]): write generation `g + 1` first, then commit
  *     the watermark, the store's extra slots and the applied batch id in
  *     ONE atomic rename. A crashed write leaves an uncommitted dir that
  *     readers never list and the retry overwrites; a batch id at or
  *     below the committed `last_batch` is a foreachBatch redelivery and
  *     a no-op. A fit-once store is the one-generation case: its fit is
  *     generation 0, its watermark slot is `fit`.
  *   - READ ([[view]]): capture the base BEFORE the watermark. The two
  *     slots are separate file reads; base-first can only yield a
  *     stale-but-safe base, never one ahead of the captured watermark.
  *   - COMPACT ([[compact]]): fold exactly the captured `(base, g]` view
  *     (never the live one a concurrent ingest could advance — that would
  *     fold a generation into the base while readers still list it), then
  *     commit the base slot, then retire superseded dirs. A crashed fold
  *     is an orphan dir readers never see.
  *
  * WRITER DISCIPLINE: every commit is a whole-file read-modify-write, so
  * appends, compactions and maintenance commits are single-writer — run
  * them from the process that owns the store's ingest, never from a
  * second handle on the same root.
  *
  * A batch-keyed ledger (watermark slot `last_batch`, the parquet sink)
  * names each generation by its batch id instead of `g + 1`: its
  * generations are sparse, and it lists its tail rather than counting it.
  *
  * The session is by-name: it is resolved only when a read, fold or
  * retirement needs it, so slot reads work without one.
  */
final class GenerationLedger(spark: => SparkSession, val dir: String, ctx: String,
                             watermark: String, baseSlot: String,
                             tailPrefix: String = "gen-", basePrefix: String = "base-") {
  import GenerationLedger.LastBatch

  private val store = new BookmarkStore(dir)

  def genDir(g: Long): String = s"$dir/$tailPrefix$g"
  def baseDir(g: Long): String = s"$dir/$basePrefix$g"

  /** A store-owned slot in this ledger's ctx (fit params, stats, points). */
  def get(slot: String): Option[Long] = store.get(slot, ctx)

  /** Commit store-owned slots in one atomic rename. */
  def commit(entries: Map[String, Long]): Unit = store.commitAll(ctx, entries)

  /** Fail at open if a stamped fit-time value disagrees ([[StoreParams]]). */
  def validate(params: Map[String, Int]): Unit =
    StoreParams.validate(store, ctx, dir, params)

  /** Highest committed generation; -1 = empty store. */
  def committedGen: Long = get(watermark).getOrElse(-1L)

  /** Generation the last compaction folded through; -1 = never. */
  def compactedThrough: Long = get(baseSlot).getOrElse(-1L)

  /** `(base, g)`, base read first — the one consistent capture. */
  def view: (Long, Long) = {
    val base = compactedThrough
    (base, committedGen)
  }

  /** Directories a committed-view reader must list right now: the base
    * (if any) plus the generations after it. O(1) metadata arithmetic.
    */
  def fragmentCount: Long = {
    val (base, g) = view
    if (g < 0) 0L else if (base < 0) g + 1 else g - base + 1
  }

  /** More committed fragments than `maxFragments`: compaction is due. */
  def compactionDue(maxFragments: Int): Boolean =
    maxFragments >= 1 && fragmentCount > maxFragments

  /** Exactly the committed view as of a captured `(base, g)`. A
    * batch-keyed ledger's tail is sparse, so it lists the root and keeps
    * the batch dirs in `(base, g]`: a crashed batch's partial dir (above
    * `g`) and a crashed compact's orphan base are never read.
    */
  def readAsOf(base: Long, g: Long): DataFrame =
    spark.read.parquet((
      if (watermark != LastBatch) GenerationLedger.dirs(base, g, genDir, baseDir)
      // the base alone (`base > g` still refused), then the listed tail
      else GenerationLedger.dirs(base, base min g, genDir, baseDir) ++
        listing.flatMap(p => GenerationLedger.idOf(tailPrefix, p.getName))
          .filter(b => b > base && b <= g).sorted.map(genDir)
    ): _*)

  /** The committed view as of one consistent capture; refuses an empty
    * store.
    */
  def committedDf: DataFrame = {
    val (base, g) = view
    require(g >= 0, "the index is empty")
    readAsOf(base, g)
  }

  /** Append one generation: a no-op when `batchId` was already applied;
    * otherwise `write(next)`, then the watermark, `extra(next)` and
    * `last_batch` commit in one rename. `extra` runs after the write and
    * before the commit, so it still reads the previous watermark.
    */
  def advance(batchId: Option[Long], extra: Long => Map[String, Long] = _ => Map.empty)
             (write: Long => Unit): Unit =
    if (!batchId.exists(b => get(LastBatch).exists(_ >= b))) {
      val next = if (watermark == LastBatch) batchId.get else committedGen + 1
      write(next)
      commit(extra(next) ++ Map(watermark -> next) ++ batchId.map(LastBatch -> _))
    }

  /** Compact: capture `(base, g)`; unless already folded through `g`, run
    * `fold(base, g)` and commit the base slot with the slots it returns;
    * then, if asked, [[retireThrough]] `g` — also after a no-op fold, so
    * a prior compact's unretired dirs do not leak. `bestEffort` swallows
    * retirement failures: the commit already happened.
    */
  def compact(retire: Boolean, bestEffort: Boolean = false)
             (fold: (Long, Long) => Map[String, Long]): Unit = {
    val (base, g) = view
    require(g >= 0, s"nothing to compact: no committed generation under $dir")
    if (g != base) commit(fold(base, g) + (baseSlot -> g))
    if (retire) {
      try retireThrough(g)
      catch { case _: Exception if bestEffort => () }
    }
  }

  /** [[compact]] by folding the view into one `<base><g>` dir
    * range-clustered and sorted on `cluster`, so a probe's filter on the
    * leading column prunes row groups by their min/max stats. Values are
    * byte-identical to the folded generations.
    */
  def compactClustered(retire: Boolean, cluster: String*): Unit =
    compact(retire) { (base, g) =>
      readAsOf(base, g)
        .repartitionByRange(cluster.map(col): _*)
        .sortWithinPartitions(cluster.map(col): _*)
        .write.mode("overwrite").parquet(baseDir(g))
      Map.empty
    }

  /** Delete every directory a base at `g` supersedes: each `<tail><i>`
    * with i <= g and each `<base><j>` with j < g. Listing-based, so it
    * also sweeps dirs earlier compacts left behind; names are parsed in
    * full, so a `gen-3-bak` or `regen-7` sibling is never touched.
    */
  def retireThrough(g: Long): Unit =
    listing.foreach { p =>
      if (GenerationLedger.idOf(tailPrefix, p.getName).exists(_ <= g) ||
          GenerationLedger.idOf(basePrefix, p.getName).exists(_ < g)) fs.delete(p, true)
    }

  private def fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every entry directly under the root, in one listing. */
  private def listing: Seq[Path] = fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
}

object GenerationLedger {
  /** The applied-batch slot every batch-idempotent append commits. */
  val LastBatch = "last_batch"

  /** The directories a reader at watermark `g` with compacted base `base`
    * (-1 = none) must scan: the base dir plus generations strictly after
    * it, nothing past `g`. `base > g` is REFUSED: it can only mean the
    * single-writer discipline was violated (a concurrent compact advanced
    * the base between the caller's two slot reads), and serving the base
    * would return rows beyond the as-of watermark.
    */
  def dirs(base: Long, g: Long,
           genDir: Long => String, baseDir: Long => String): Seq[String] = {
    require(base <= g,
      s"compacted base $base is ahead of the captured watermark $g: " +
        "single-writer discipline violated (concurrent compact?)")
    (if (base >= 0) Seq(baseDir(base)) else Seq.empty) ++
      ((base + 1) to g).map(genDir)
  }

  /** The id of a `<prefix><id>` directory name, parsed in full: the rest
    * of the name must be all digits.
    */
  private def idOf(prefix: String, name: String): Option[Long] = {
    val id = name.stripPrefix(prefix)
    if (name.startsWith(prefix) && id.nonEmpty && id.forall(_.isDigit)) id.toLongOption
    else None
  }

  /** 64-bit FNV-1a of a string — the one fingerprint that turns a string
    * identity (a sink's checkpoint lineage, a bucketed store's root) into
    * a [[BookmarkStore]] slot or a catalog name. Over the full string,
    * so two distinct keys share a value only by a 64-bit collision.
    */
  def fingerprint(s: String): Long = {
    var acc = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { acc = (acc ^ (s.charAt(i) & 0xffffL)) * 0x100000001b3L; i += 1 }
    acc
  }
}

/** The text stores' fold layout ([[InvertedIndex]], [[LshBandIndex]]): a
  * compaction writes ONE catalog table at `compacted-<g>`, bucketed and
  * sorted on the store's probe key, so the stored side of a key join
  * reads co-located buckets with no exchange. The bucket count is a
  * slot keyed BY GENERATION (`compacted_buckets_<g>`), committed with the
  * base slot: a crashed later compact cannot pair an older compaction's
  * files with a new count, which would silently mis-bucket the join.
  */
private[sources] final class BucketedBase(spark: SparkSession, ledger: GenerationLedger,
                                          tablePrefix: String,
                                          schema: org.apache.spark.sql.types.StructType,
                                          keys: Seq[String]) {
  /** Catalog identity, deterministic from the store root so a fresh
    * session re-finds it: the root's 64-bit fingerprint, so two roots
    * share a table only by a 64-bit collision.
    */
  val tableName: String =
    tablePrefix + java.lang.Long.toHexString(GenerationLedger.fingerprint(ledger.dir))

  private def buckets(g: Long): Int =
    ledger.get(s"compacted_buckets_$g").getOrElse(8L).toInt

  /** The compaction at `g` as a catalog-backed frame, re-registering the
    * external table if this session's catalog has not seen it (the
    * bucket spec lives in the table metadata — a plain parquet read of
    * the same files would lose the co-location).
    */
  def table(g: Long): DataFrame = {
    if (!spark.catalog.tableExists(tableName)) {
      val k = keys.mkString(", ")
      val cols = schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      spark.sql(
        s"""CREATE TABLE $tableName ($cols)
           |USING parquet
           |CLUSTERED BY ($k) SORTED BY ($k) INTO ${buckets(g)} BUCKETS
           |LOCATION '${ledger.baseDir(g)}'""".stripMargin)
    }
    spark.table(tableName)
  }

  /** Every row as of watermark `g` over compaction `c` (-1 = none): the
    * table plus the parquet tail generations after it. No union when
    * there is no tail: even a union with an EMPTY frame erases the
    * scan's bucket spec and brings back the exchange compaction removes.
    */
  def asOf(c: Long, g: Long): DataFrame = {
    def tail(from: Long) = spark.read.schema(schema).parquet((from to g).map(ledger.genDir): _*)
    if (c < 0 && g < 0)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (c < 0) tail(0L)
    else if (g <= c) table(c)
    else table(c).unionByName(tail(c + 1))
  }

  /** The fold for [[GenerationLedger.compact]]: write `rows` as the
    * bucketed table at `g`; returns the bucket-count slot to commit.
    */
  def fold(rows: DataFrame, g: Long, n: Int): Map[String, Long] = {
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    val target = new Path(ledger.baseDir(g))
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) fs.delete(target, true)
    rows.write.mode("overwrite").format("parquet")
      .option("path", ledger.baseDir(g))
      .bucketBy(n, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
      .saveAsTable(tableName)
    Map(s"compacted_buckets_$g" -> n.toLong)
  }
}
