package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Residue
import graft.functions.GraftFunctions._

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table. Pure column expressions (whole-stage codegen, no
  * UDFs, no shuffle except the caller's own aggregations) — at 100 TB each
  * of these is a map-only pass over the corpus.
  */
object TextAnalysis {

  /** Marker stopwords per language for the n-gram/stopword language-ID
    * heuristic. Deterministic and tiny so the scoring is a handful of
    * codegen'd array ops per row. Single source of truth lives next to
    * the fused kernel ([[graft.functions.TextStatsExpr]]).
    */
  val langMarkers: Seq[(String, Seq[String])] =
    graft.functions.TextStatsExpr.langMarkers

  private def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit(_)): _*)))

  /** Predicted language = argmax of marker-word counts, ties broken by
    * [[langMarkers]] order, "und" (undetermined) when no marker occurs.
    */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = langMarkers.map { case (lang, ms) => (lang, markerCount(toks, ms)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldLeft(when(best <= 0, lit("und")): Column) {
      case (acc, (lang, score)) => acc.when(score === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Quality-scoring features: length, token stats, punctuation and
    * stopword ratios, plus a single blended [0,1] score. Ratios rounded so
    * the oracle can replay them.
    */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    val nTokens = size(toks)
    val nChars = length(text)
    val punct = nChars - length(regexp_replace(text, "[.,;:!?]", ""))
    val stop = markerCount(tokens(lower(text)), langMarkers.flatMap(_._2))
    df.withColumn("n_tokens", nTokens)
      .withColumn("n_chars_measured", nChars)
      .withColumn("avg_token_len",
        round(when(nTokens > 0, (nChars - (nTokens - 1)).cast("double") / nTokens).otherwise(0.0), 4))
      .withColumn("punct_ratio",
        round(when(nChars > 0, punct.cast("double") / nChars).otherwise(0.0), 4))
      .withColumn("stopword_ratio",
        round(when(nTokens > 0, stop.cast("double") / nTokens).otherwise(0.0), 4))
      .withColumn("quality_score",
        round(least(lit(1.0),
          when(nTokens > 0, lit(0.5) + stop.cast("double") / nTokens
            - (nChars - length(regexp_replace(text, "[.,;:!?]", ""))).cast("double") / greatest(nChars, lit(1)))
            .otherwise(lit(0.0))), 4))
  }

  /** Token count under two tokenizers: whitespace and a BPE-ish
    * alnum-runs-or-single-symbol regex.
    */
  def tokenCounts(text: Column): (Column, Column) = {
    val ws = size(tokens(text))
    val bpe = size(filter(split(text, "(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"), t => t =!= lit("") && t =!= lit(" ")))
    (ws, bpe)
  }

  /** Document fingerprint: [[graft.functions.PolyHash]] rolling hash of the
    * full text — the exact-dedup / change-detection key.
    */
  def fingerprint(text: Column): Column = poly_hash(text)

  /** Top-`k` TF-IDF terms per document (tfidf = tf * ln(N / df), scored
    * on lowercased whitespace tokens, rounded to 4 so ranking replays
    * identically on the oracle; rank ties break by term).
    *
    * Two shuffles over term-level data: (doc, term) counts — combined
    * map-side, so the exchange carries distinct pairs, not token
    * occurrences — then the per-doc top-k window on the doc key. The
    * document-frequency side is vocabulary-sized and joins broadcast;
    * at a 100 TB corpus vocabulary, drop the hint and AQE picks a
    * shuffle-hash join on the same key without changing semantics.
    * `nDocs` is the corpus size, an O(1) driver scalar like the
    * bookmark max-key.
    */
  def tfIdfTopTerms(docs: DataFrame, nDocs: Long, k: Int): DataFrame = {
    // tf feeds both the scored main side and dfreq — the tracked pin
    // tokenizes the corpus once instead of once per consumer, and unlike a
    // localCheckpoint its blocks are freed at the end-of-query drain
    val tf = Residue.pin(docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "term")
      .withColumn("tfidf", round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 4))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "df", "tfidf")
  }

  /** Sliding-window token chunking: split each document into chunks of
    * `chunkSize` whitespace tokens starting every `stride` tokens
    * (overlap = chunkSize - stride), the unit a training pipeline feeds
    * to a tokenizer/packer. Map-only: tokenize once, explode the chunk
    * starts (fan-out bounded by n_tok/stride per row), slice — no
    * shuffle, so at 100 TB this is a single pass over the corpus with
    * output proportional to input. `chunk_hash` fingerprints the chunk
    * text so dedup/lineage can track chunks without carrying them.
    */
  def chunks(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1)
    docs
      .withColumn("_toks", tokens(col("text")))
      .withColumn("n_tok", size(col("_toks")))
      .where(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"), col("_toks"),
        explode(sequence(lit(0), col("n_tok") - 1, lit(stride))).as("chunk_start"))
      .withColumn("chunk_idx", expr(s"chunk_start DIV $stride"))
      .withColumn("_chunk", slice(col("_toks"), col("chunk_start") + 1, lit(chunkSize)))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        size(col("_chunk")).as("chunk_len"),
        poly_hash(concat_ws(" ", col("_chunk"))).as("chunk_hash"))
  }

  /** PII redaction patterns: (name, regex, replacement). Conservative
    * ASCII patterns valid in both Java regex (Spark) and RE2 (DuckDB),
    * applied in order — emails first so their dotted hosts are gone
    * before the IP pattern runs.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Per-document PII scrub: one map-only pass emitting the redacted
    * text plus a match count per pattern (`n_email`, `n_phone`, `n_ip`).
    * Counting runs on the same partially-scrubbed string the replacement
    * sees, so counts and redactions agree pattern-by-pattern.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    // each stage lands in its own projected column so the (non-cheap)
    // replacement chain is evaluated once per pattern, not once per
    // downstream count (CollapseProject keeps them un-duplicated)
    val staged = piiPatterns.zipWithIndex.foldLeft(
        docs.withColumn("_s0", col("text"))) {
      case (df, ((name, re, repl), i)) =>
        df.withColumn(s"n_$name",
            size(regexp_extract_all(col(s"_s$i"), lit(re), lit(0))))
          .withColumn(s"_s${i + 1}", regexp_replace(col(s"_s$i"), re, repl))
    }
    staged.withColumn("clean_text", col(s"_s${piiPatterns.size}"))
      .drop((0 to piiPatterns.size).map(i => s"_s$i"): _*)
  }

  /** Corpus vocabulary (the `vocabSize` most frequent lowercased tokens,
    * ties by term) and per-document out-of-vocabulary rates — the gate a
    * tokenizer-training / corpus-mix pipeline runs before committing to a
    * vocab. Two shuffles over term-sized data: map-side-combined term
    * counts, then the per-doc count aggregation; the vocab itself is
    * selected with orderBy+limit (TakeOrdered — per-partition top-k then
    * a k-sized merge, never a global sort) and joins back as a broadcast.
    */
  def vocabOov(docs: DataFrame, vocabSize: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tok"), 4))
  }

  /** Repetition / compressibility signals per document, map-only: the
    * distinct-vs-total ratio of character `n`-grams and of whitespace
    * tokens (1 - distinct/total; boilerplate and looped generations score
    * high). Total gram count is pure arithmetic (len - n + 1), distinct
    * gram count reuses the codegen'd shingle kernel — no explode, no
    * shuffle, output one row per input row.
    */
  def repetition(docs: DataFrame, n: Int = 5): DataFrame = {
    val text = col("text")
    // each measure lands in its own projected column so the shingle/token
    // kernels run once, not once per ratio referencing them
    val arr = docs
      .withColumn("n_grams", greatest(length(text) - (n - 1), lit(0)))
      .withColumn("n_distinct_grams", size(shingleHashes(text, n)))
      .withColumn("n_tok", size(tokens(text)))
      .withColumn("n_distinct_tok", size(array_distinct(tokens(text))))
    arr.select(col("doc_id"), col("n_grams"), col("n_distinct_grams"),
      round(when(col("n_grams") > 0,
        lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"))
        .otherwise(0.0), 4).as("gram_rep_ratio"),
      col("n_tok"), col("n_distinct_tok"),
      round(when(col("n_tok") > 0,
        lit(1.0) - col("n_distinct_tok").cast("double") / col("n_tok"))
        .otherwise(0.0), 4).as("tok_rep_ratio"))
  }

  /** All text statistics in one fused map-only pass over each string.
    *
    * The composed formulation ([[qualityFeatures]] + [[langId]] +
    * [[tokenCounts]]) re-splits the text inside every higher-order
    * `filter` — HOFs are CodegenFallback, so common-subexpression reuse
    * never kicks in and a document is re-tokenized ~8x. All raw counts
    * now come from ONE codegen'd kernel scan
    * ([[graft.functions.TextStatsExpr]], materialized once in a
    * projection — CollapseProject keeps non-cheap expressions
    * un-duplicated); only the cheap derived arithmetic stays in column
    * space. Same results bit-for-bit (spec-pinned vs the composed
    * formulation).
    */
  def stats(docs: DataFrame): DataFrame = {
    val text = col("text")
    val arr = docs.withColumn("_st", textStats(text))
    val nTokens = col("_st.n_tokens")
    val nChars = length(text)
    val punct = col("_st.punct")
    val stop = col("_st.stop")
    val scored = langMarkers.map { case (lang, _) => (lang, col(s"_st.c_$lang")) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val lang = scored.foldLeft(when(best <= 0, lit("und")): Column) {
      case (acc, (l, score)) => acc.when(score === best, lit(l))
    }.otherwise(lit("und"))
    arr
      .withColumn("n_tokens", nTokens)
      .withColumn("n_chars_measured", nChars)
      .withColumn("avg_token_len",
        round(when(nTokens > 0, (nChars - (nTokens - 1)).cast("double") / nTokens).otherwise(0.0), 4))
      .withColumn("punct_ratio",
        round(when(nChars > 0, punct.cast("double") / nChars).otherwise(0.0), 4))
      .withColumn("stopword_ratio",
        round(when(nTokens > 0, stop.cast("double") / nTokens).otherwise(0.0), 4))
      .withColumn("quality_score",
        round(least(lit(1.0),
          when(nTokens > 0, lit(0.5) + stop.cast("double") / nTokens
            - punct.cast("double") / greatest(nChars, lit(1)))
            .otherwise(lit(0.0))), 4))
      .withColumn("lang_pred", lang)
      .withColumn("bpe_tokens", col("_st.bpe"))
      .withColumn("fingerprint", col("_st.fp"))
      .drop("_st")
  }

  /** BPE-style merge-rule learning: `rounds` iterations of (count
    * adjacent token pairs → take the most frequent pair → merge its
    * occurrences corpus-wide), emitting the learned merge table — the
    * artifact a tokenizer trainer produces. Merged tokens are
    * space-joined, so a merged token can never equal a base token and
    * chains resolve deterministically.
    *
    * Merge semantics (oracle-replayable): occurrences merge leftmost
    * non-overlapping. Overlap only happens when a == b (a run of the
    * same token); within each maximal run of match positions the even
    * offsets merge — the gaps-and-islands formulation both engines
    * compute identically.
    *
    * Scale shape per round: pair counting is one map-side-combined
    * shuffle over distinct (a, b) pairs; the winning pair is O(1)
    * driver metadata (like a bookmark max-key); the rewrite is MAP-ONLY —
    * one codegen'd O(n) pass per document
    * ([[graft.functions.BpeMergePairExpr]]), no posexplode, no per-doc
    * window sort, no regroup shuffle (the r6 formulation paid two full
    * shuffles of the exploded corpus per round for exactly the same
    * result). BPE training is inherently iterative full passes —
    * production trainers bound `docs` by corpus sampling first
    * ([[graft.operators.Sampling]]), which changes nothing structurally
    * here.
    */
  def bpeMergeRounds(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (learned, state) = bpeTrain(docs, rounds)
    // the result is built from the driver-side merge table, so the last
    // tokenized generation is dead the moment the loop exits
    state.free()
    val rows = learned.map { case (r, a, b, n, t) => Row(r, a, b, n, t) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("round", IntegerType, nullable = false),
        StructField("pair_a", StringType, nullable = false),
        StructField("pair_b", StringType, nullable = false),
        StructField("n_pair", LongType, nullable = false),
        StructField("corpus_tokens_after", LongType, nullable = false))))
  }

  /** Tokenizer APPLICATION: the corpus re-tokenized under the first
    * `rounds` learned merges — (doc_id, toks) with merged tokens
    * space-joined. This is [[bpeMergeRounds]]'s final rewrite generation
    * exposed as data (train emits the merge table; encode emits the
    * encoded corpus). Docs with fewer than two tokens never enter
    * training and are likewise absent here.
    *
    * The returned frame reads from a tracked materialization
    * ([[graft.Residue.cut]]): consume it, then `Residue.drain` frees the
    * blocks (lineage recomputes any later re-read).
    */
  def bpeEncode(docs: DataFrame, rounds: Int): DataFrame =
    bpeTrain(docs, rounds)._2.df

  private def bpeTrain(docs: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long, Long)], Residue.Cut) = {
    require(rounds >= 1)
    // Residue.cut: each round's rewrite would otherwise nest the previous
    // round's plan (analysis blow-up); a generation is freed as soon as
    // the action that reads it (the NEXT round's pair aggregation) has
    // materialized its successor — peak state is two tokenized-corpus
    // generations, zero session residue.
    var state = Residue.cut(docs
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .where(size(col("toks")) >= 2))
    val learned = Seq.newBuilder[(Int, String, String, Long, Long)]
    var exhausted = false
    for (round <- 1 to rounds if !exhausted) {
      val pairs = state.df
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
      // the corpus can run out of adjacent pairs before `rounds` (every
      // doc reduced to one token): terminate with the merges learned so far.
      // orderBy+limit(1) is TakeOrdered: per-partition top-1, driver merge.
      val topOpt = pairs.orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect().headOption
      if (topOpt.isEmpty) { exhausted = true }
      else {
        val top = topOpt.get
        val (ta, tb, tn) = (top.getString(0), top.getString(1), top.getLong(2))
        val next = Residue.cut(state.df.select(col("doc_id"),
          bpeMergePair(col("toks"), ta, tb).as("toks")))
        val corpusTokens = next.df.select(sum(size(col("toks")))).head().getLong(0)
        state.free()
        state = next
        learned += ((round, ta, tb, tn, corpusTokens))
      }
    }
    (learned.result(), state)
  }

  /** First-order token language model: bigram counts and the MLE
    * conditional probability P(w2 | w1) over lowercased whitespace
    * tokens — the corpus statistic behind perplexity-style quality
    * filters and contamination fingerprints.
    *
    * The bigram explode is map-only (zip of the token list with its own
    * tail — no self-join); counts combine map-side so the one shuffle
    * carries distinct (w1, w2) pairs, not token occurrences. The
    * per-context normalizer runs as a window over the aggregated pairs
    * (≤ vocab² rows) and sums ALL of a context's bigrams before the
    * `minCount` output filter, so probabilities are true conditionals,
    * not renormalized survivors.
    */
  def bigramLm(docs: DataFrame, minCount: Long): DataFrame =
    lmProbs(bigramPairs(docs)).where(col("n") >= minCount)
      .select(col("w1"), col("w2"), col("n"), col("prob"))

  /** (doc_id, w1, w2) bigram occurrences — map-only explode of the token
    * list zipped with its own tail.
    */
  private def bigramPairs(docs: DataFrame): DataFrame = {
    val t = tokens(lower(col("text")))
    docs.select(col("doc_id"), t.as("_t"))
      .where(size(col("_t")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("_t"), lit(1), size(col("_t")) - 1),
        slice(col("_t"), lit(2), size(col("_t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
  }

  /** (w1, w2, n, prob) MLE conditionals over a pair stream. */
  private def lmProbs(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .withColumn("prob",
        round(col("n") / sum(col("n")).over(Window.partitionBy(col("w1"))), 6))

  /** The full bigram LM as a TABLE — (w1, w2, n, prob) MLE conditionals,
    * the trainable artifact behind [[perplexity]] (which refits it
    * in-plan every run so the oracle can replay training). Vocab²-bounded
    * but NOT assumed broadcast-sized: at corpus scale this is a real
    * distributed table, which is why [[perplexityUnder]] joins it by
    * shuffle on (w1, w2) instead of collecting it.
    */
  def lmTable(docs: DataFrame): DataFrame =
    lmProbs(bigramPairs(docs))

  /** Per-context bigram totals (w1, tot) — the smoothing denominators a
    * held-out scorer needs for bigrams the fitted corpus never saw.
    * Derived from the LM table itself (sum of a context's counts), so it
    * is consistent with [[lmTable]] by construction.
    */
  def lmContextTotals(lm: DataFrame): DataFrame =
    lm.groupBy(col("w1")).agg(sum(col("n")).as("tot"))

  /** Pseudo-perplexity of `delta` under an ALREADY-FITTED bigram LM —
    * the per-ingest path of [[perplexity]]. One map-only bigram explode
    * over the delta, one shuffle join against the LM on (w1, w2), one
    * context-total join on w1, one per-doc reduction: cost tracks the
    * DELTA, never the corpus the LM was fitted on.
    *
    * Scoring is COMPLETE over any delta, not just one whose bigrams the
    * fitted corpus saw: a bigram present in the LM scores its exact MLE
    * conditional (bit-for-bit what [[perplexity]] computes — the
    * fit-then-score equality the oracle gates), an unseen bigram under a
    * SEEN context backs off to the +0.5 Laplace floor
    * `0.5 / (tot_w1 + 0.5·V)`, and a bigram whose context the corpus
    * never saw scores the uniform `1/V` — no silent inner-join drop (the
    * DSIR complete-model discipline; an inner join here would understate
    * n_bigrams for genuinely novel ingests).
    */
  def perplexityUnder(delta: DataFrame, lm: DataFrame, ctxTot: DataFrame,
                      vocab: Long): DataFrame = {
    require(vocab > 0, "a fitted LM has a non-empty vocabulary")
    val pUsed = coalesce(col("prob"),
      when(col("tot").isNotNull,
        round(lit(0.5) / (col("tot") + lit(0.5) * vocab), 6))
        .otherwise(round(lit(1.0) / vocab, 6)))
    bigramPairs(delta)
      .join(lm.select(col("w1"), col("w2"), col("prob")), Seq("w1", "w2"), "left")
      .join(ctxTot, Seq("w1"), "left")
      .withColumn("p_used", pUsed)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("p_used"))), 4).as("avg_ll"))
      .withColumn("ppl", round(exp(-col("avg_ll")), 4))
  }

  /** Pseudo-perplexity of every document under the corpus's own bigram
    * LM — the statistical quality filter ("how surprising is this text
    * given the corpus") a training pipeline runs before mixing.
    *
    * Two consumers read the same bigram stream (LM training and
    * scoring), so it is pinned and tokenized once. The LM
    * table is vocab²-bounded; the scoring join keys on (w1, w2) and the
    * per-doc reduction is one partial-aggregated shuffle on doc_id.
    * Scoring the corpus under its own LM means no unseen bigrams — a
    * held-out scorer would add the usual add-k smoothing term.
    */
  /** Windowed co-occurrence counts + PMI — the skip-gram statistics an
    * embedding-training pipeline derives from a corpus. Pairs are
    * ORDERED (a before b, gap 1..window).
    *
    * 100 TB shape: pair generation is MAP-ONLY — for each gap g the doc's
    * token list is zipped with its own g-shifted self (`zip_with` over two
    * `slice`s), so no positions self-join ever happens; the only shuffles
    * are the (a, b) pair-count and unigram-count aggregations, and the
    * unigram side joins back as a vocabulary-sized broadcast. PMI doubles
    * are computed in one association order (`ln((c_ab * N) / (c_a *
    * c_b))`) so the DuckDB oracle replays them bit-for-bit.
    */
  def cooccurrencePmi(docs: DataFrame, window: Int,
                      minCount: Long = 2L): DataFrame = {
    require(window >= 1)
    val toks = docs.select(tokens(lower(col("text"))).as("tk"))
    // coalesce guards: a NULL-text doc has NULL tk (counts 0 tokens); an
    // empty/degenerate corpus must yield 0, not a NULL the driver read throws on
    val nTokens = toks
      .select(coalesce(sum(coalesce(size(col("tk")), lit(0))), lit(0L)))
      .head().getLong(0)
    val uni = toks.select(explode(col("tk")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    // a doc shorter than the gap slices length max(n-g, 0), never negative
    val pairCols = (1 to window).map { g =>
      zip_with(
        slice(col("tk"), lit(1), greatest(size(col("tk")) - lit(g), lit(0))),
        slice(col("tk"), lit(g + 1), greatest(size(col("tk")) - lit(g), lit(0))),
        (x, y) => struct(x.as("a"), y.as("b")))
    }
    val pairs = toks
      .select(explode(flatten(array(pairCols: _*))).as("p"))
      .groupBy(col("p.a").as("term_a"), col("p.b").as("term_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    pairs
      .join(broadcast(uni.select(col("t").as("term_a"), col("c").as("c_a"))), Seq("term_a"))
      .join(broadcast(uni.select(col("t").as("term_b"), col("c").as("c_b"))), Seq("term_b"))
      .select(col("term_a"), col("term_b"), col("c_ab"),
        round(log((col("c_ab") * lit(nTokens)).cast("double") /
          (col("c_a") * col("c_b"))), 4).as("pmi"))
  }

  def perplexity(docs: DataFrame): DataFrame = {
    // pin, not cut: A/B-measured 1.06 s vs 1.36 s warm at sf0.1 — columnar
    // InMemoryRelation encodes the string-heavy bigram stream cheaper than
    // the Row-serialized RDD path, and nothing here iterates
    val pairs = Residue.pin(bigramPairs(docs))
    pairs.join(lmProbs(pairs), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("prob"))), 4).as("avg_ll"))
      .withColumn("ppl", round(exp(-col("avg_ll")), 4))
  }
}
