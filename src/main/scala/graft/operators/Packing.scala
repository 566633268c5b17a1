package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-shard packing: assign each document to a fixed token-budget
  * shard, in id order — the last mile of a training-data pipeline
  * ("shard the cleaned corpus into ~4M-token files").
  *
  * The naive formulation is a running token total over the WHOLE corpus
  * — `Window.orderBy(id)` with no partition key, i.e. an Exchange
  * SinglePartition that funnels 100 TB through one task. This operator
  * is the textbook two-level prefix sum instead:
  *
  *  1. rows get a deterministic range id from FIXED-WIDTH id ranges
  *     (`repartitionByRange` is not used: its sampling seed varies run
  *     to run, and shard assignment must be replayable);
  *  2. one small aggregation computes per-range token sums; the driver
  *     folds them into per-range offsets — O(ranges) metadata, like a
  *     bookmark commit;
  *  3. each range computes its LOCAL exclusive running sum in parallel
  *     (window partitioned by range id) and adds its offset literal.
  *
  * shard_id = (offset + local exclusive prefix) div budget — exact
  * integer arithmetic, bit-identical to the single-window formulation
  * (spec-pinned) and to the SQL oracle.
  */
object Packing {

  /** The two-level global EXCLUSIVE prefix sum of `nTokCol` in `idCol`
    * order, added as column `_start`. O(ranges) driver metadata; every
    * heavy step parallel per range. Shared by [[tokenShards]] and
    * [[packSequences]].
    */
  private def withGlobalPrefix(docs: DataFrame, idCol: String,
                               nTokCol: String, ranges: Int): DataFrame = {
    val bounds = docs.agg(min(col(idCol)).as("lo"), max(col(idCol)).as("hi")).head()
    if (bounds.isNullAt(0)) return docs.withColumn("_start", lit(0L))
    val lo = bounds.getLong(0)
    val hi = bounds.getLong(1)
    val width = math.max(1L, (hi - lo) / ranges + 1)

    val withRange = docs.withColumn("_rid", expr(s"($idCol - $lo) DIV $width"))
    // O(ranges) driver metadata: per-range sums -> exclusive offsets
    val sums = withRange.groupBy(col("_rid")).agg(sum(col(nTokCol)).as("_s"))
      .orderBy(col("_rid")).collect()
    var acc = 0L
    val offsets: Map[Long, Long] = sums.map { r =>
      val entry = r.getLong(0) -> acc
      acc += r.getLong(1)
      entry
    }.toMap

    val w = Window.partitionBy(col("_rid")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    withRange
      .withColumn("_off", element_at(typedlit(offsets), col("_rid")))
      .withColumn("_pre", coalesce(sum(col(nTokCol)).over(w), lit(0L)))
      .withColumn("_start", expr("_off + _pre"))
      .drop("_rid", "_off", "_pre")
  }

  def tokenShards(docs: DataFrame, idCol: String, nTokCol: String,
                  budget: Long, ranges: Int = 32): DataFrame = {
    require(budget >= 1 && ranges >= 1)
    withGlobalPrefix(docs, idCol, nTokCol, ranges)
      .withColumn("shard_id", expr(s"_start DIV $budget"))
      .drop("_start")
  }

  /** Concat-and-chunk sequence packing — the other pretraining layout:
    * concatenate the corpus's token stream in id order and cut it into
    * fixed `seqLen`-token training sequences, documents SPLIT at
    * sequence boundaries (vs [[tokenShards]], which keeps documents
    * whole and packs them into budget-sized files).
    *
    * Each document occupies the global token interval
    * `[start, start + n)` (`start` = the same two-level exclusive prefix
    * sum) and emits one PIECE row per sequence it overlaps:
    * `(doc_id, seq_id, off_in_seq, piece_len)` — enough for a trainer to
    * materialize any sequence exactly, or to build attention-mask /
    * boundary tensors, without this operator ever materializing token
    * arrays. Per-doc fan-out is `n/seqLen + 1` rows (never per-token),
    * so output size tracks corpus tokens / seqLen plus one row per doc.
    * Zero-token documents occupy an empty interval and contribute no
    * pieces. All arithmetic is exact integer math — replayable by the
    * SQL oracle and invariant under repartitioning.
    */
  def packSequences(docs: DataFrame, idCol: String, nTokCol: String,
                    seqLen: Long): DataFrame = {
    require(seqLen >= 1)
    pieces(withGlobalPrefix(docs, idCol, nTokCol, 32),
      idCol, nTokCol, seqLen)
  }

  /** Incremental continuation of [[packSequences]] — the job-bookmark
    * discipline (SURVEY §2 S1) applied to the packing layer: pack ONLY
    * `delta` (documents appended since the last run; the bookmark
    * contract guarantees their ids sit strictly above every packed id),
    * given `priorTokens` — the total token count already packed, an O(1)
    * watermark the caller persists next to the shard sink exactly like a
    * bookmark value. Every delta start offset is the local prefix shifted
    * by `priorTokens`, so the output is bit-identical to what a full
    * repack of (corpus ∪ delta) would emit FOR THE DELTA DOCS — and an
    * append-only corpus never changes an old document's interval, so old
    * pieces need no rewrite. Per-ingest packing cost tracks the delta,
    * never the corpus (the same reason [[graft.sources.LshBandIndex]] and
    * [[graft.sources.IvfIndex]] exist for their operators).
    */
  def packSequencesIncremental(delta: DataFrame, idCol: String, nTokCol: String,
                               seqLen: Long, priorTokens: Long): DataFrame = {
    require(seqLen >= 1 && priorTokens >= 0)
    pieces(withGlobalPrefix(delta, idCol, nTokCol, 32)
        .withColumn("_start", col("_start") + lit(priorTokens)),
      idCol, nTokCol, seqLen)
  }

  /** Length-bucketed batch assembly with padding-waste accounting — the
    * batching layout for PADDED (non-packed) training: documents of
    * similar length batch together so per-batch padding to the batch max
    * stays bounded. Buckets are fixed-width length classes
    * (`bucket = nTok div bucketWidth` — map-only, deterministic, no
    * global quantile pass), and within a bucket documents batch
    * `batchSize` at a time in id order; any order works because bucket
    * membership already bounds per-row waste below `bucketWidth`.
    *
    * Scale shape: the within-bucket row numbering is the SAME two-level
    * prefix trick as [[withGlobalPrefix]], per (bucket, id-range) cell —
    * corpora concentrate hard around a typical document length, so a
    * plain `Window.partitionBy(bucket)` would funnel the dominant length
    * class through one task (the single-partition window in disguise).
    * Here the heavy work is parallel per (bucket, range) and the driver
    * holds O(buckets × ranges) offsets. Output is one row per bucket:
    * batch count, token totals, padding waste, fill ratio — exact
    * integer arithmetic, SQL-replayable.
    */
  def lengthBucketBatches(docs: DataFrame, idCol: String, nTokCol: String,
                          bucketWidth: Int, batchSize: Int,
                          ranges: Int = 32): DataFrame =
    lengthBucketAssignments(docs, idCol, nTokCol, bucketWidth, batchSize,
        ranges)
      .withColumnRenamed("bucket", "_bucket")
      .withColumnRenamed("batch_in_bucket", "_batch")
      .groupBy(col("_bucket"), col("_batch"))
      .agg(count(lit(1)).as("_n"), max(col(nTokCol)).as("_mx"),
        sum(col(nTokCol)).as("_sum"))
      .groupBy(col("_bucket"))
      .agg(sum(col("_n")).as("n_docs"), count(lit(1)).as("n_batches"),
        sum(col("_sum")).as("tok_total"),
        sum(col("_mx") * col("_n") - col("_sum")).as("pad_total"))
      .select(col("_bucket").as("bucket"), col("n_docs"), col("n_batches"),
        col("tok_total"), col("pad_total"),
        // all-empty buckets (n_tok = 0 fixtures) have no meaningful fill;
        // guard the ANSI division rather than emit 0/0
        when(col("tok_total") + col("pad_total") === 0,
          lit(null).cast("double"))
          .otherwise(
            round(col("tok_total") / (col("tok_total") + col("pad_total")), 4))
          .as("fill_ratio"))

  /** The per-document (doc → batch) assignment behind
    * [[lengthBucketBatches]] — what a trainer actually consumes: every
    * input row mapped to its `(bucket, batch_in_bucket)` cell, in id
    * order within the bucket. [[lengthBucketBatches]] is exactly this
    * frame re-aggregated into the per-bucket padding report, so the two
    * shapes can never drift (r7 verdict #8). Same scale shape: the
    * within-bucket numbering is the two-level prefix trick per
    * (bucket, id-range) cell, never a whole-bucket single-task window.
    */
  def lengthBucketAssignments(docs: DataFrame, idCol: String, nTokCol: String,
                              bucketWidth: Int, batchSize: Int,
                              ranges: Int = 32): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1 && ranges >= 1)
    val bounds = docs.agg(min(col(idCol)).as("lo"), max(col(idCol)).as("hi")).head()
    val base = docs.withColumn("_bucket", expr(s"$nTokCol DIV $bucketWidth"))
    val withRn =
      if (bounds.isNullAt(0)) base.withColumn("_rn", lit(0L))
      else {
        val lo = bounds.getLong(0)
        val hi = bounds.getLong(1)
        val width = math.max(1L, (hi - lo) / ranges + 1)
        val wr = base.withColumn("_rid", expr(s"($idCol - $lo) DIV $width"))
        // O(buckets x ranges) driver metadata: per-cell row counts folded
        // into bucket-local exclusive row offsets, keyed flat (rid < ranges+1)
        val counts = wr.groupBy(col("_bucket"), col("_rid"))
          .agg(count(lit(1)).as("_c"))
          .orderBy(col("_bucket"), col("_rid")).collect()
        var curBucket = Long.MinValue
        var acc = 0L
        val offsets: Map[Long, Long] = counts.map { r =>
          val b = r.getLong(0)
          if (b != curBucket) { curBucket = b; acc = 0L }
          val e = (b * (ranges + 1L) + r.getLong(1)) -> acc
          acc += r.getLong(2)
          e
        }.toMap
        val w = Window.partitionBy(col("_bucket"), col("_rid")).orderBy(col(idCol))
        wr.withColumn("_off", element_at(typedlit(offsets),
            col("_bucket") * (ranges + 1L) + col("_rid")))
          .withColumn("_rn", col("_off") + row_number().over(w) - 1)
          .drop("_rid", "_off")
      }
    withRn
      .withColumn("batch_in_bucket", expr(s"_rn DIV $batchSize"))
      .withColumnRenamed("_bucket", "bucket")
      .drop("_rn")
  }

  /** Piece rows of documents occupying `[_start, _start + nTok)` of the
    * global token stream: one row per overlapped `seqLen` window.
    */
  private def pieces(withStart: DataFrame, idCol: String, nTokCol: String,
                     seqLen: Long): DataFrame = {
    val sl = lit(seqLen)
    withStart
      .filter(col(nTokCol) > 0)
      .withColumn("seq_id", explode(sequence(
        expr(s"_start DIV $seqLen"),
        expr(s"(_start + $nTokCol - 1) DIV $seqLen"))))
      .withColumn("off_in_seq",
        greatest(col("_start"), col("seq_id") * sl) - col("seq_id") * sl)
      .withColumn("piece_len",
        least((col("seq_id") + 1) * sl, col("_start") + col(nTokCol)) -
          greatest(col("_start"), col("seq_id") * sl))
      .select(col(idCol), col("seq_id"), col("off_in_seq"), col("piece_len"))
  }
}
