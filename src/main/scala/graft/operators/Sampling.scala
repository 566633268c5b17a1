package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Deterministic, engine-portable sampling for training-data pipelines.
  *
  * `df.sample()` draws from a seeded RNG whose stream depends on the
  * engine, its version, AND the physical partitioning — a re-run on a
  * repartitioned 100 TB corpus yields a different sample, which breaks
  * train/test reproducibility and contaminates evaluation sets. Here
  * membership is a pure function of a caller-chosen key:
  * `poly_hash(key) mod buckets` (the engine's portable hash, replayable
  * in any SQL engine), so the split is stable under repartitioning,
  * re-ingestion, engine swaps, and incremental appends — a new row's
  * assignment never disturbs existing rows. All operators are map-only:
  * no shuffle, no state, pushdown-friendly.
  */
object Sampling {

  /** Knuth multiplicative mixing constant (2654435761 = 2^32 / phi),
    * reduced mod PolyHash.P. PolyHash alone is too linear for bucketing
    * short numeric keys — sequential ids land on a small residue lattice
    * mod `buckets` (measured: an 80% threshold captured 90.5% of 1 000
    * sequential ids). One multiplicative mix mod P equidistributes the
    * lattice; every intermediate stays under 2^62, so any 64-bit SQL
    * engine replays it exactly.
    */
  val MixA: Long = 2654435761L % graft.functions.PolyHash.P

  /** Bucket count of the sampling operators: rates resolve to 1/1000. */
  private val Buckets = 1000

  /** Hash bucket in [0, buckets) of a sampling key. */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod((poly_hash(key.cast("string")) * lit(MixA)) % lit(graft.functions.PolyHash.P),
      lit(buckets))

  /** Keep ~`fraction` of rows, deterministically by key. */
  def deterministicSample(df: DataFrame, key: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    df.filter(hashBucket(key, Buckets) < math.round(fraction * Buckets))
  }

  /** Tag every row "train" or "test" with ~`trainPct` going to train —
    * disjoint and exhaustive by construction (one hash, one threshold).
    */
  def trainTestSplit(df: DataFrame, key: Column, trainPct: Double): DataFrame =
    df.withColumn("split",
      when(hashBucket(key, Buckets) < math.round(trainPct * Buckets), lit("train"))
        .otherwise(lit("test")))

  /** Per-row WEIGHTED deterministic sampling — the importance/quality
    * resampling verb ("keep each document with probability ∝ its quality
    * score"): a row survives iff `hashBucket(key) < floor(w · 1000)`,
    * with `w` any column clamped to [0,1]. Still map-only and a pure
    * function of (key, weight), so re-runs, repartitions, engine swaps,
    * and incremental appends reproduce the identical sample. The
    * threshold form also gives MONOTONICITY a per-row RNG can't: if a
    * re-score raises a row's weight the row can only enter the sample
    * (its fixed bucket falls under a higher threshold) — no other row's
    * membership moves, so curriculum re-weighting between training runs
    * perturbs the corpus minimally instead of resampling it wholesale.
    */
  def weightedSample(df: DataFrame, key: Column, weight: Column): DataFrame =
    df.filter(hashBucket(key, Buckets) <
      floor(least(lit(1.0), greatest(lit(0.0), weight.cast("double"))) * Buckets))

  /** Leakage-safe train/test split: near-dup cluster members ALWAYS land
    * in the same split. A plain per-doc hash split leaks evaluation data —
    * a near-duplicate of a test document lands in train with probability
    * trainPct, so the model has effectively seen the test set. Here the
    * split key is the CLUSTER representative ([[Dedup.nearDupClusters]]'s
    * min-doc-id label over the near-dup `pairs`; singleton docs are their
    * own representative), so the whole component moves together and
    * cross-split near-dup pairs are zero by construction.
    *
    * Scale shape: clustering is the label-propagation already bounded in
    * [[Dedup.nearDupClusters]] (node-sized state, O(log diameter) rounds);
    * the label join is one equi-join shuffle on doc_id (the pairs side
    * only has rows for docs IN a pair — the 100 TB corpus's singleton
    * majority short-circuits through the coalesce); the split itself is
    * the same map-only portable hash as [[trainTestSplit]].
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, trainPct: Double): DataFrame =
    trainTestSplit(withClusterKey(docs, pairs), col("cluster_id"), trainPct)

  /** Leakage-safe K-FOLD assignment — [[leakageSafeSplit]]'s invariant
    * generalized from one train/test cut to cross-validation: the fold is
    * a pure hash of the near-dup CLUSTER representative, so every member
    * of a component lands in the same fold and no fold's held-out set has
    * a near-duplicate in any other fold. Same scale shape: clustering is
    * the bounded label propagation, the label join is one equi-join, fold
    * assignment is map-only.
    */
  def kFoldSplit(docs: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 2)
    withClusterKey(docs, pairs).withColumn("fold", hashBucket(col("cluster_id"), k))
  }

  /** (doc_id, cluster_id): each doc keyed by its near-dup component
    * representative, singletons by themselves.
    */
  private def withClusterKey(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(Dedup.nearDupClusters(pairs), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))

  /** Deterministic fixed-k per-group sample (a "frozen reservoir"):
    * rank each group's rows by the mixed portable hash of `key` (ties
    * broken by the key) and keep the first `k`. Distributionally a
    * uniform k-sample per group; operationally a pure function of the
    * data — re-runs, repartitions, and engine swaps reproduce it.
    *
    * One shuffle on the group key + a partition-local sort for the
    * rank window. When groups are huge and only ids are needed, the
    * k-bounded [[graft.functions.GraftFunctions.top_k]] aggregate
    * computes the same sample with O(k) state per group and no sort.
    */
  def reservoirByGroup(df: DataFrame, groupCols: Seq[String], key: Column,
                       k: Int): DataFrame = {
    val rk = pmod(
      (poly_hash(key.cast("string")) * lit(MixA)) % lit(graft.functions.PolyHash.P),
      lit(graft.functions.PolyHash.P))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(rk, key)
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }

  /** Rebalance a corpus to target stratum proportions by DOWNSAMPLING
    * only (no stratum is upsampled): the achievable output size is
    * `scale = min over strata of n_s / target_s`, and each stratum keeps
    * `scale * target_s / n_s` of its rows, deterministically by key.
    * Strata without a target are dropped — the data-mixing verb of a
    * training pipeline ("40% web, 30% code, ..." over heterogeneous
    * source sizes).
    *
    * Per-stratum counts are O(|strata|) driver metadata (one partial-
    * aggregated count shuffle); membership itself is the same map-only
    * hash filter as [[stratifiedSample]]. Thresholds use floor, not
    * round, so any SQL engine replays the arithmetic bit-identically.
    */
  def rebalanceMix(df: DataFrame, stratumCol: String, key: Column,
                   targets: Map[String, Double]): DataFrame =
    rebalanceMixCounted(df, stratumCol, key, targets,
      df.groupBy(col(stratumCol)).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** [[rebalanceMix]] with the per-stratum counts supplied by a caller
    * that already aggregated them ([[temperatureMix]] derives its targets
    * FROM the counts — recounting would run the input's one shuffle
    * twice, which at 100 TB is the whole cost of the operator).
    */
  private def rebalanceMixCounted(df: DataFrame, stratumCol: String,
                                  key: Column, targets: Map[String, Double],
                                  counts: Map[String, Long]): DataFrame = {
    require(targets.values.forall(_ >= 0))
    val scale = targets.collect {
      case (s, t) if t > 0 && counts.getOrElse(s, 0L) > 0 => counts(s).toDouble / t
    }
    require(scale.nonEmpty, "no targeted stratum has any rows")
    val fractions = targets.collect {
      case (s, t) if counts.getOrElse(s, 0L) > 0 =>
        s -> math.min(1.0, scale.min * t / counts(s).toDouble)
    }
    val bucket = hashBucket(key, Buckets)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (s, f)) =>
      acc || (col(stratumCol) === s && bucket < math.floor(f * Buckets).toLong)
    }
    df.filter(keep)
  }

  /** Temperature-flattened mixing — the standard multilingual/LLM source
    * rebalancing: target share of stratum i ∝ count_i^alpha. alpha = 1
    * keeps natural proportions (provably keeps every row); alpha = 0
    * equalizes shares (the smallest stratum is kept whole, larger ones
    * downsample toward it); between, the head flattens toward the tail.
    * Downsample-only, like [[rebalanceMix]] — no row duplication.
    *
    * Shares are rounded to 6 decimals before thresholding: `pow` is not
    * correctly rounded across engines and the normalizer sums floats in
    * engine order, so the oracle's shares could drift by ulps — at 6
    * decimals the drift vanishes while bucket thresholds (granularity
    * 1/1000) are unaffected.
    */
  def temperatureMix(df: DataFrame, stratumCol: String, key: Column,
                     alpha: Double): DataFrame = {
    require(alpha >= 0 && alpha <= 1)
    val counts = df.groupBy(col(stratumCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val powed = counts.map { case (s, n) => s -> math.pow(n.toDouble, alpha) }
    val z = powed.map(_._2).sum
    val targets = powed.map { case (s, p) =>
      s -> BigDecimal(p / z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    rebalanceMixCounted(df, stratumCol, key, targets, counts.toMap)
  }

  /** Per-stratum sampling rates (e.g. downsample boilerplate classes,
    * keep all rare ones). Strata absent from `fractions` are dropped.
    */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       fractions: Map[String, Double]): DataFrame = {
    val bucket = hashBucket(key, Buckets)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (s, f)) =>
      acc || (stratum === s && bucket < math.round(f * Buckets))
    }
    df.filter(keep)
  }

  /** DSIR-style importance log-weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every pool
    * document by how target-like its hashed n-gram profile is under two
    * smoothed bag-of-features multinomials — `log w(doc) =
    * sum_f c_f(doc) * (ln p_target(f) - ln p_pool(f))` over unigram +
    * bigram features folded into `buckets` hash buckets (the paper's
    * hashed n-gram featurization), with +0.5 Laplace smoothing.
    *
    * Exactness: the per-feature log-ratio is quantized to integer
    * micro-nats (`round(lr * 1e6)`), so the per-document sum is exact
    * 64-bit integer arithmetic — order-independent under any partial
    * aggregation, the [[graft.operators.Similarity]] sparse-dot
    * discipline. Only the B-row ratio table ever touches a float.
    *
    * Scale shape: feature extraction is map-only off the codegen'd
    * token kernels; (doc, feature) counts combine map-side; the
    * feature-count table is `buckets` rows (fixed — broadcast to the
    * scoring join); totals are two O(1) driver scalars (the bookmark
    * max-key pattern). One corpus-keyed aggregation yields the weights —
    * at 100 TB this is one pass plus two narrow-row shuffles, and the
    * model itself (B log-ratios) is small enough to persist and reuse
    * across ingests like any other index here.
    *
    * Output: (doc_id, is_target, n_feats, log_weight) — log_weight is
    * the exact micro-nat sum divided by 1e6, unrounded (see the inline
    * note on why a presentation round would break cross-engine parity).
    */
  def dsirLogWeights(docs: DataFrame, isTarget: Column, buckets: Int): DataFrame = {
    // tokenized exactly once per consumer chain; blocks freed by the
    // end-of-query drain (the tfIdfTopTerms materialization discipline)
    val feats = graft.Residue.pin(
      dsirFeatureCounts(docs, buckets, Some(isTarget)))
    val model = dsirModelFromCounts(feats, buckets)
    feats.join(broadcast(model), "f")
      .groupBy(col("doc_id"), col("is_target"))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("lrq")).as("_wq"))
      // NO presentation rounding, deliberately: _wq is an exact integer,
      // so _wq/1e6 is the identical double in any IEEE engine — while a
      // round(x, 4) on top DIVERGES between engines, because quantized
      // values are DENSE on the .00005 boundaries (multiples of 1e-6 hit
      // one every ~100 docs) and Spark's BigDecimal-exact rounding
      // disagrees with DuckDB's scaled-multiply rounding exactly there
      // (caught by the sf0.1 gate, ORACLES.md rule "both SFs").
      .select(col("doc_id"), col("is_target"), col("n_feats"),
        (col("_wq") / 1e6).as("log_weight"))
  }

  /** Per-document hashed-feature counts: (doc_id[, is_target], f, c) —
    * map-only off the codegen'd token kernels, counts combined map-side.
    */
  private def dsirFeatureCounts(docs: DataFrame, buckets: Int,
                                isTarget: Option[Column]): DataFrame = {
    require(buckets >= 2)
    val tagged = isTarget.map(t => docs.withColumn("is_target",
      t.cast("boolean"))).getOrElse(docs)
    val keys = Seq(col("doc_id")) ++
      isTarget.map(_ => col("is_target")).toSeq
    val base = tagged.select(keys :+ lower(col("text")).as("_t"): _*)
    val uni = base.select(keys :+ explode(tokens(col("_t"))).as("term"): _*)
    val bi = base.select(keys :+ explode(tokenNgrams(col("_t"), 2)).as("term"): _*)
    uni.unionByName(bi)
      .select(keys :+ hashBucket(col("term"), buckets).as("f"): _*)
      .groupBy(keys :+ col("f"): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** The fitted DSIR model from a tagged feature-count frame: exactly
    * `buckets` rows of (f, lrq) integer micro-nat log-ratios — COMPLETE
    * over the feature space, not just the buckets the fitted corpus
    * happened to populate. Completeness is what makes the persisted
    * model safe for a genuinely novel ingest delta: a bucket the corpus
    * never saw carries the smoothed zero-count ratio (tc = pc = 0 under
    * the same +0.5 Laplace smoothing), so [[dsirApply]]'s inner join is
    * exact for every feature any delta can hash to — no silent drop, no
    * delta⊆corpus precondition. Small enough to persist next to a
    * bookmark and broadcast to every later ingest — the
    * train-once/apply-per-delta discipline of the persisted indexes.
    */
  private def dsirModelFromCounts(feats: DataFrame, buckets: Int): DataFrame = {
    val fc = feats.groupBy(col("f")).agg(
      sum(when(col("is_target"), col("c")).otherwise(0L)).as("tc"),
      sum(col("c")).as("pc"))
    val tot = fc.agg(sum(col("tc")), sum(col("pc"))).head
    // null on an empty corpus: the weights frame is empty anyway, but the
    // smoothing denominators must stay finite for the plan to build
    val (tcTot, pcTot) =
      if (tot.isNullAt(0)) (0L, 0L) else (tot.getLong(0), tot.getLong(1))
    // complete to the full B-bucket feature space (B rows — metadata-
    // sized); unseen buckets get the smoothed zero-count log-ratio
    feats.sparkSession.range(buckets).select(col("id").as("f"))
      .join(fc, Seq("f"), "left")
      .select(col("f"),
        round((log((coalesce(col("tc"), lit(0L)) + 0.5) / (tcTot + 0.5 * buckets)) -
          log((coalesce(col("pc"), lit(0L)) + 0.5) / (pcTot + 0.5 * buckets))) * 1e6)
          .cast("long").as("lrq"))
  }

  /** Fit a DSIR model on `docs` — the B-row (f, lrq) ratio table. */
  def dsirModel(docs: DataFrame, isTarget: Column, buckets: Int): DataFrame =
    dsirModelFromCounts(
      dsirFeatureCounts(docs, buckets, Some(isTarget)), buckets)

  /** Score `docs` under an already-fitted model — the per-ingest path.
    * One map-only feature pass over the delta, one broadcast join against
    * the B-row model, one delta-keyed aggregation: cost tracks the DELTA,
    * never the corpus the model was fitted on. Same arithmetic as
    * [[dsirLogWeights]], bit-for-bit — and exact for ANY delta, not just
    * one whose features the fitted corpus saw, because the model is
    * complete over all B buckets ([[dsirModelFromCounts]]: unseen
    * buckets carry the smoothed zero-count ratio, so the inner join
    * never drops a feature).
    */
  def dsirApply(docs: DataFrame, model: DataFrame, buckets: Int): DataFrame =
    dsirFeatureCounts(docs, buckets, None)
      .join(broadcast(model), "f")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("lrq")).as("_wq"))
      // exact quotient, unrounded — see dsirLogWeights
      .select(col("doc_id"), col("n_feats"),
        (col("_wq") / 1e6).as("log_weight"))

  /** DSIR selection: Gumbel-top-k resampling without replacement over
    * [[dsirLogWeights]] — draw k docs with probability ∝ their importance
    * weight by ranking `log_weight + Gumbel(0,1)` (the Gumbel-max trick;
    * adding i.i.d. Gumbel noise to log-weights and taking the top k IS a
    * weighted sample without replacement). The noise is the engine's
    * portable hash — `u = (hashBucket("dsir:" + doc_id) + 0.5) / 1e6`,
    * `g = -ln(-ln(u))` — so the draw is reproducible across runs,
    * repartitionings, and engines, the [[hashBucket]] discipline.
    *
    * Selection is orderBy+limit — TakeOrdered (per-partition top-k, then
    * a k-sized merge on the driver), never a global sort.
    */
  def dsirSelect(docs: DataFrame, isTarget: Column, buckets: Int, k: Int): DataFrame = {
    // gumbel keeps a round(., 6): it absorbs the engines' ln ULP
    // disagreement, and its values are NOT boundary-dense (see
    // dsirLogWeights). score is a raw sum of two bit-identical doubles —
    // any further rounding would reintroduce the dense-boundary class.
    dsirLogWeights(docs, isTarget, buckets)
      .withColumn("gumbel", dsirGumbel)
      .withColumn("score", col("log_weight") + col("gumbel"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("is_target"), col("log_weight"),
        col("gumbel"), col("score"))
  }

  /** The reproducible per-document Gumbel(0,1) draw shared by
    * [[dsirSelect]] and [[dsirSelectApplied]]: u from the portable hash,
    * g = -ln(-ln(u)), rounded to 6 (absorbs cross-engine ln ULP noise).
    */
  private def dsirGumbel: Column = {
    val u = (hashBucket(concat(lit("dsir:"), col("doc_id").cast("string")),
      1000000) + 0.5) / 1e6
    round(-log(-log(u)), 6) + lit(0.0)
  }

  /** DSIR selection over a PERSISTED model — the per-ingest sampler.
    * [[dsirApply]] scores the delta against the broadcast B-row model
    * (cost tracks the delta, never the fitted corpus), then Gumbel-top-k
    * draws exactly as [[dsirSelect]] does: per-document noise is a pure
    * function of doc_id, so fit-then-select and persist-then-select
    * produce the identical sample over the same delta — the equality the
    * dsir_select_incr oracle pins. Selection is orderBy+limit —
    * TakeOrdered (per-partition top-k, k-sized driver merge), never a
    * global sort.
    */
  def dsirSelectApplied(docs: DataFrame, model: DataFrame, buckets: Int, k: Int): DataFrame =
    dsirApply(docs, model, buckets)
      .withColumn("gumbel", dsirGumbel)
      .withColumn("score", col("log_weight") + col("gumbel"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("log_weight"), col("gumbel"), col("score"))
}
