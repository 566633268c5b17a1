package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Residue
import graft.functions.GraftFunctions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, same semantics:
  *  - [[bruteForceTopK]]: exact cosine top-k; the query set is broadcast
  *    (it is always small relative to the corpus) so the corpus is scanned
  *    exactly once with a codegen'd dot product and reduced per-query by a
  *    window top-k. At 100 TB this is the "exact but one full scan" path.
  *  - [[hyperplaneTopK]]: random-hyperplane LSH buckets as the scale path —
  *    signatures are map-only, candidates come from one shuffle on
  *    (table, bucket), and exact cosine re-ranks only candidates.
  *    Hyperplanes are derived from a fixed LCG so results are deterministic
  *    and oracle-replayable.
  */
object Similarity {

  val Dim = 64

  /** Scale-aware knob derivation — the round-4 rehearsal's measured
    * operating rules (BASELINE.md) turned into defaults instead of prose.
    * Fixed knobs stay available (and the declared oracle queries keep
    * them, so results remain replayable); these derive the knobs from the
    * corpus size when the caller doesn't know it at authoring time.
    */
  object Sizing {

    private def log2(x: Double): Double = math.log(x) / math.log(2.0)

    /** Hash-key width for an n-row corpus: enough bits that expected
      * bucket occupancy stays ~`perBucket` rows — bits =
      * ceil(log2(n / perBucket)), the bits~log2(n) rule the rehearsal
      * measured (a fixed 8-bit family went 101x on a 10x corpus; 11 bits
      * pulled it back to linear). Clamped to [8, 30]: PolyHash values are
      * 31-bit, and below 8 bits any real corpus saturates the key space.
      */
    def lshBits(n: Long, perBucket: Int = 16): Int = {
      require(perBucket >= 1, s"perBucket must be positive, got $perBucket")
      val target = math.ceil(log2(math.max(n, 1L).toDouble / perBucket)).toInt
      math.min(30, math.max(8, target))
    }

    /** SimHash width for an n-row corpus at a given hamming budget. The
      * load-bearing key is the CHUNK (bits / (maxHamming+1) wide — the
      * hamming trick's collision unit), so the chunk width is what must
      * track log2(n); total bits = (maxHamming+1) · lshBits(n). The first
      * auto derivation reused lshBits directly and a 9-bit simhash made
      * hamming<=2 nearly vacuous — 5.9M "near-dup" pairs at 5k docs where
      * the 30-bit family verifies 482k (BASELINE.md, "Round-5 scale
      * rehearsal: derived defaults replace hand-tuned knobs"). Floor
      * 16 keeps the hamming test meaningful on small corpora; cap 30
      * because PolyHash token hashes are 31-bit.
      */
    def simhashBits(n: Long, maxHamming: Int = 2): Int =
      math.min(30, math.max(16, (maxHamming + 1) * lshBits(n)))

    /** Table count that keeps the packed first-collision fingerprint in
      * one 64-bit word: min(8, 64/bits). Past that point recall is
      * bought with multi-probe (query-side-only cost,
      * [[hyperplaneTopKMultiProbe]]) — never with more corpus state.
      */
    def lshTables(bits: Int): Int =
      math.max(1, math.min(8, 64 / bits))

    /** IVF cell count for an n-row corpus: nlist ≈ n/cellBudget keeps the
      * probed candidate set ~cellBudget·nprobe rows independent of corpus
      * size (a fixed nlist makes every cell — and so every probe — grow
      * linearly with n). Clamped to [2, 4096]: the seed set is collected
      * to the driver and must stay O(metadata).
      */
    def ivfNlist(n: Long, cellBudget: Int = 256): Int =
      math.max(2, math.min(4096, (math.max(n, 1L) / math.max(cellBudget, 1)).toInt))
  }

  /** Deterministic ±1 hyperplane component for plane j, dimension d
    * (Achlioptas-style sign random projection). Signs — not arbitrary
    * doubles — keep every bucket computation exactly replayable in
    * integer-deriving SQL (the DuckDB oracle), since multiplying a
    * double by ±1.0 is exact.
    *
    * The sign family must be NONLINEAR in the plane/dim index: any
    * affine scheme (an LCG — even reading a high state bit) makes the
    * state delta between two planes a constant, and some plane pairs
    * come out identical. With the original LCG-parity family every
    * plane was the SAME alternating ±1 vector — each LSH table had two
    * effective buckets and half of all pairs "collided" (999k of 2M at
    * sf0.1). This xor-shift multiply mixer (murmur-style finalizer kept
    * inside 31-bit states so every product fits a 64-bit SQL integer)
    * decorrelates planes to mean |corr| 0.1 and cuts the collision rows
    * 110× at the same recall math.
    */
  def hyperplaneSign(j: Int, d: Int): Double = {
    var h = ((j.toLong * Dim + d) * 2654435761L) % 2147483648L
    h ^= h >> 13
    h = (h * 2246822519L) % 2147483648L
    h ^= h >> 16
    if (h % 2 == 0) 1.0 else -1.0
  }

  /** Sign-bit bucket key of `emb` under `bits` hyperplanes starting at
    * plane offset `first`. The projection is a strict left-fold sum seeded
    * at 0.0 so both engines produce bit-identical doubles.
    */
  def bucketKey(emb: Column, first: Int, bits: Int): Column =
    (0 until bits).map { b =>
      val proj = (0 until Dim).foldLeft(lit(0.0)) { (acc, d) =>
        acc + element_at(emb, d + 1).cast("double") * lit(hyperplaneSign(first + b, d))
      }
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded), ties broken by vec_id. `queries` must be
    * small — it is broadcast.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = corpus.as("c")
      .join(broadcast(queries.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosineSimilarity(col("q.embedding"), col("c.embedding")), 6).as("cosine"))
    topPerQuery(joined, k)
  }

  /** Int8-quantized retrieval: score the WHOLE corpus on int8 codes —
    * one integer dot product per pair plus four per-vector scalars —
    * shortlist `shortlist` per query, then exact float re-rank of the
    * shortlist only. The approximate score is the TRUE cosine of the
    * RECONSTRUCTED vectors, computed without reconstructing:
    *
    *   dot(x̂,ŷ) = sx·sy·Σcx·cy + sx·loy·Σcx + sy·lox·Σcy + d·lox·loy
    *   ‖x̂‖²    = sx²·Σcx² + 2·sx·lox·Σcx + d·lox²
    *
    * where (lo, s, c) are [[Quantize.int8]]'s per-vector offset, scale
    * and codes. Σcx and Σcx² are map-only per-vector stats, so the only
    * per-pair work is the Σcx·cy integer sum (codes ≤ 255, d = 64: no
    * overflow anywhere near 2^63).
    *
    * Why this exists at 100 TB: the scan side carries d BYTES of codes
    * plus four scalars instead of 4d float bytes — a ~4× memory-bandwidth
    * reduction on the dominant cost of the linear-scan path, with recall
    * bounded by quantization error instead of bucketing luck (the
    * measured reconstruction error is `embed_quantize`'s q_err). Same
    * broadcast-queries shape as [[bruteForceTopK]]; the re-rank fetches
    * float vectors for shortlist candidates only via one equi-join.
    * Deterministic and oracle-replayable end to end: integer sums feed a
    * fixed-shape double expression, ties break on neighbor_id.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
               shortlist: Int): DataFrame = {
    require(k >= 1 && shortlist >= k)
    def stats(df: DataFrame) = Quantize.int8(df, col("embedding"))
      .select(col("vec_id"), col("q_lo"), col("q_scale"), col("codes"),
        size(col("codes")).cast("double").as("d"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c)
          .cast("double").as("csum"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c * c)
          .cast("double").as("csq"))
    val cs = stats(corpus)
    val qs = stats(queries)
    val dotc = aggregate(zip_with(col("q.codes"), col("c.codes"),
      (x, y) => x * y), lit(0L), (a, v) => a + v).cast("double")
    val num = col("q.q_scale") * col("c.q_scale") * dotc +
      col("q.q_scale") * col("c.q_lo") * col("q.csum") +
      col("c.q_scale") * col("q.q_lo") * col("c.csum") +
      col("q.d") * col("q.q_lo") * col("c.q_lo")
    def norm(p: String): Column =
      sqrt(col(s"$p.q_scale") * col(s"$p.q_scale") * col(s"$p.csq") +
        lit(2.0) * col(s"$p.q_scale") * col(s"$p.q_lo") * col(s"$p.csum") +
        col(s"$p.d") * col(s"$p.q_lo") * col(s"$p.q_lo"))
    val denom = norm("q") * norm("c")
    val qcos = when(denom === 0.0, lit(0.0)).otherwise(num / denom)
    val scored = cs.as("c")
      .join(broadcast(qs.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"), qcos.as("qcos"))
    shortlistRerank(scored, corpus, queries, k, shortlist, broadcastQueries = true)
  }

  /** All `tables` bucket keys of `bits` bits packed into one long —
    * the per-row collision fingerprint the first-collision filter reads
    * with pure bit ops (stays inside whole-stage codegen, unlike array
    * HOFs which are CodegenFallback and allocate per row).
    */
  private def packedKeys(bks: Column, tables: Int, bits: Int): Column = {
    // 64 (not 63) is safe: the top slot may spill into the sign bit, but
    // every comparison masks after the shift, so sign extension never
    // leaks into an equality check
    require(tables * bits <= 64,
      s"packed first-collision filter needs tables*bits <= 64, got $tables*$bits")
    (0 until tables).map(i => shiftleft(element_at(bks, i + 1), i * bits))
      .reduce(_.bitwiseOR(_))
  }

  /** True iff the pair also collides in some table BEFORE `tbl` — the
    * dual of first-collision emission. Statically unrolled integer
    * compares over the packed fingerprints.
    */
  private def earlierCollision(tbl: Column, px: Column, py: Column,
                               tables: Int, bits: Int): Column = {
    val mask = (1L << bits) - 1
    (0 until tables - 1).map { i =>
      (tbl > i) &&
        (shiftright(px, i * bits).bitwiseAND(lit(mask)) ===
          shiftright(py, i * bits).bitwiseAND(lit(mask)))
    }.reduceOption(_ || _).getOrElse(lit(false))
  }

  /** LSH candidate pairs for near-dup detection: vectors sharing a bucket
    * in any of `tables` hash tables of `bits` hyperplane bits.
    *
    * Exactly-once emission without a distinct: each row carries its
    * packed bucket fingerprint, and a colliding pair is kept only in the
    * FIRST table where the keys agree. A `distinct()` here would shuffle
    * both 64-float embeddings once per duplicate collision (the r1 plan
    * moved GBs of wide candidate rows at sf0.1); the first-collision
    * filter is a handful of codegen'd bit compares inside the join stage —
    * no extra exchange at any scale.
    */
  def hyperplaneCandidates(emb: DataFrame, tables: Int = 8, bits: Int = 8): DataFrame = {
    val keyed = emb
      .select(col("vec_id"), col("embedding"),
        hyperplaneBucketKeys(col("embedding"), tables, bits).as("bks"))
      .select(col("vec_id"), col("embedding"),
        packedKeys(col("bks"), tables, bits).as("pk"), posexplode(col("bks")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    keyed.as("x").join(keyed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(!earlierCollision(col("x.tbl"), col("x.pk"), col("y.pk"), tables, bits))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        col("x.embedding").as("ea"), col("y.embedding").as("eb"))
  }

  /** [[hyperplaneCandidates]] with knobs derived from the corpus size
    * ([[Sizing]]): one count (metadata-cheap over parquet — row counts
    * come from footers, no data pages) buys a key space that tracks n,
    * keeping candidate volume linear where a fixed family would go
    * quadratic past 2^bits rows.
    */
  def hyperplaneCandidatesAuto(emb: DataFrame): DataFrame = {
    val bits = Sizing.lshBits(emb.count())
    hyperplaneCandidates(emb, Sizing.lshTables(bits), bits)
  }

  /** IVF-style ANN top-k — the inverted-file complement to the LSH path.
    *
    * Cells are `nlist` deterministic seed centroids (the lowest vec_ids:
    * IVF-flat with sampled centroids and no Lloyd refinement, so cell
    * assignment is exactly replayable in the SQL oracle — a trained
    * k-means would average floats in engine-dependent order). Every
    * corpus vector goes to its argmax-cosine cell in ONE map-only pass:
    * the seeds are collected to the driver (O(nlist) metadata, like a
    * bookmark commit — never data-sized) and inlined as literals, so the
    * per-row argmax is a codegen'd `greatest` over native cosine kernels,
    * no shuffle and no per-row seed join. Queries probe their `nprobe`
    * best cells; candidates = probed cells' members via one broadcast
    * join (queries are small); exact cosine re-ranks candidates only.
    * Each (query, neighbor) pair arises at most once — a vector lives in
    * exactly one cell — so no dedup step exists at any scale.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    require(nlist >= 2 && nprobe >= 1 && nprobe <= nlist)
    val seeds: Seq[(Long, Seq[Float])] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(nlist)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val assigned = corpus.select(col("vec_id"), col("embedding"),
      bestCell(seeds, col("embedding")).getField("cell").as("cell"))
    val probes = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qemb"),
        probedCells(seeds, col("embedding"), nprobe).as("p"))
      .select(col("query_id"), col("qemb"), col("p.cell").as("cell"))
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosineSimilarity(col("qemb"), col("embedding")), 6).as("cosine"))
    topPerQuery(cand, k)
  }

  /** The `k` best rows per query_id by `cosine`, ties to the lower
    * neighbor_id, numbered in `rank` — the last step of every vector top-k.
    */
  private[graft] def topPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)

  /** The tail of every quantized top-k (int8, PQ, IVF-PQ): keep the
    * `shortlist` best (query_id, neighbor_id) candidates per query by
    * approximate `qcos`, re-score only those at full width from the
    * `corpus` and `queries` embeddings, and keep the [[topPerQuery]] `k`.
    * The query side is broadcast unless the batch is too large to collect
    * (`broadcastQueries = false`).
    */
  private[graft] def shortlistRerank(scored: DataFrame, corpus: DataFrame, queries: DataFrame,
                                     k: Int, shortlist: Int,
                                     broadcastQueries: Boolean): DataFrame = {
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("neighbor_id"))
    val rerankQ = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    topPerQuery(scored
      .withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= shortlist)
      .select("query_id", "neighbor_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")), "neighbor_id")
      .join(if (broadcastQueries) broadcast(rerankQ) else rerankQ, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosineSimilarity(col("qv"), col("cv")), 6).as("cosine")), k)
  }

  /** The IVF cell arithmetic, one copy for [[ivfTopK]] and the persisted
    * [[graft.sources.FrozenCellIndex]] stores, so the oracle replay
    * carries over unchanged: `emb` scored against every (cell id,
    * centroid) seed as a (cosine `cs`, -cell `nc`, `cell`) struct, so a
    * lexicographic max or sort ranks best cosine first, ties to the
    * lowest cell id.
    */
  private def cellScores(seeds: Seq[(Long, Seq[Float])], emb: Column): Seq[Column] =
    seeds.map { case (cid, v) =>
      struct(cosineSimilarity(emb, typedlit(v)).as("cs"),
        lit(-cid).as("nc"), lit(cid).as("cell"))
    }

  /** The argmax cell struct of `emb`: `cell` assigns, `cs` is its cosine. */
  private[graft] def bestCell(seeds: Seq[(Long, Seq[Float])], emb: Column): Column =
    greatest(cellScores(seeds, emb): _*)

  /** The `nprobe` best cell structs of `emb`, exploded one row each. */
  private[graft] def probedCells(seeds: Seq[(Long, Seq[Float])], emb: Column,
                                 nprobe: Int): Column =
    explode(slice(reverse(array_sort(array(cellScores(seeds, emb): _*))), 1, nprobe))

  /** [[ivfTopK]] with nlist derived from the corpus size ([[Sizing]]):
    * cell population stays ~cellBudget rows as the corpus grows, so probe
    * cost is a constant per query instead of a linear function of n.
    */
  def ivfTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                  nprobe: Int = 4, cellBudget: Int = 256): DataFrame = {
    val nlist = Sizing.ivfNlist(corpus.count(), cellBudget)
    ivfTopK(corpus, queries, k, nlist, math.min(nprobe, nlist))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the `k` most cosine-similar corpus vectors that live in a
    * DIFFERENT k-means cluster — semantically close, label-wise negative.
    *
    * The cluster structure comes from [[KMeans.assignFull]] (map-only
    * argmax against driver-literal centroids), so adding the cluster
    * column costs no shuffle over the corpus. `isQuery` selects the
    * query rows out of the clustered corpus (kept small — the query side
    * is broadcast like [[bruteForceTopK]]); the corpus is scanned once
    * and reduced per query by a window top-k.
    */
  def hardNegatives(corpus: DataFrame, isQuery: Column, k: Int,
                    nClusters: Int, iters: Int): DataFrame = {
    val assigned = KMeans.assignFull(corpus, nClusters, iters)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val joined = assigned.as("c")
      .join(broadcast(assigned.filter(isQuery).as("q")),
        col("q.vec_id") =!= col("c.vec_id") &&
          col("q.cluster") =!= col("c.cluster"))
      .select(col("q.vec_id").as("query_id"), col("q.cluster").as("query_cluster"),
        col("c.vec_id").as("neighbor_id"), col("c.cluster").as("neighbor_cluster"),
        round(cosineSimilarity(col("q.embedding"), col("c.embedding")), 6).as("cosine"))
    topPerQuery(joined, k)
      .select(col("query_id"), col("query_cluster"), col("rank"),
        col("neighbor_id"), col("neighbor_cluster"), col("cosine"))
  }

  /** Sparse TF-IDF cosine top-k over TEXT — the term-space complement to
    * the dense-embedding paths, via a document-frequency-pruned inverted
    * index (the classic posting-list self-join, never a cross join).
    *
    * Weights are tf·ln(N/df) quantized to integers (steps of 1/1000),
    * so every dot product and squared norm is exact 64-bit
    * integer arithmetic — order-independent under any shuffle, hence
    * bit-replayable in the SQL oracle; floats appear only in the final
    * sqrt/divide, which is a deterministic IEEE computation per pair.
    *
    * Scale shape: terms with df > `maxDf` are dropped from the vector
    * space (stop terms contribute near-zero idf weight but quadratic
    * posting-list join fan-out — the prune is the scale dial, exactly
    * like [[graft.operators.Dedup]]'s stop-shingle prune). The query
    * side (`isQuery` rows) is small and broadcast, so candidate
    * generation is a map-side join against the posting stream: at most
    * |query terms| × maxDf candidate rows, then ONE shuffle on
    * (query, doc) for the dot-product aggregation. Cosine is defined
    * over the pruned vector space on both sides — an exact algorithm
    * over the pruned vectors, not an approximation of the unpruned
    * cosine.
    */
  def sparseTopK(docs: DataFrame, nDocs: Long, isQuery: Column, k: Int,
                 maxDf: Long,
                 terms: Column = tokens(lower(col("text")))): DataFrame = {
    // tf feeds postings AND document frequency — the tracked pin tokenizes
    // once and is freed at the end-of-query drain
    val tf = Residue.pin(docs.select(col("doc_id"), explode(terms).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    // each posting carries its document's squared norm (one window pass
    // over the postings), so norms ride through the dot-product
    // aggregation as grouping keys — no separate norm table, no re-join
    val post = tf.join(broadcast(dfreq), "term")
      .withColumn("w",
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")) * 1000).cast("long"))
      .withColumn("nsq",
        sum(col("w") * col("w")).over(Window.partitionBy(col("doc_id"))))
    val qpost = post.where(isQuery)
      .select(col("doc_id").as("query_id"), col("term"),
        col("w").as("qw"), col("nsq").as("q_nsq"))
    val scored = post.join(broadcast(qpost), Seq("term"))
      .where(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id"), col("nsq"), col("q_nsq"))
      .agg(sum(col("qw") * col("w")).as("dot"))
      .withColumn("cosine",
        round(col("dot") / (sqrt(col("nsq")) * sqrt(col("q_nsq"))), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id").as("neighbor_id"),
        col("cosine"))
  }

  /** ANN top-k via LSH: candidates = corpus vectors sharing any table
    * bucket with the query; exact cosine re-rank of candidates only.
    * Returns at most k neighbors per query (fewer if buckets were sparse —
    * the recall/cost dial is (tables, bits)).
    */
  def hyperplaneTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     tables: Int = 8, bits: Int = 8): DataFrame = {
    def keyed(df: DataFrame, idName: String) = df.select(
      col("vec_id").as(idName), col("embedding").as(s"${idName}_emb"),
      hyperplaneBucketKeys(col("embedding"), tables, bits).as("bks"))
      .select(col(idName), col(s"${idName}_emb"),
        packedKeys(col("bks"), tables, bits).as(s"${idName}_pk"),
        posexplode(col("bks")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val cand = keyed(corpus, "neighbor_id")
      .join(broadcast(keyed(queries, "query_id")), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // first-collision emission (see hyperplaneCandidates): exactly one
      // row per (query, neighbor) without a distinct over embedding rows
      .filter(!earlierCollision(col("tbl"),
        col("query_id_pk"), col("neighbor_id_pk"), tables, bits))
      .select(col("query_id"), col("neighbor_id"),
        col("query_id_emb"), col("neighbor_id_emb"))
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      round(cosineSimilarity(col("query_id_emb"), col("neighbor_id_emb")), 6).as("cosine"))
    topPerQuery(scored, k)
  }

  /** Multi-probe variant of [[hyperplaneTopK]]: each QUERY probes its
    * exact bucket plus every 1-bit-flip neighbor bucket in each table
    * (`bits + 1` probes/table). A near neighbor that lands one sign-bit
    * away — the most likely miss, since each bit is a marginal hyperplane
    * decision — is still found, so recall rises without adding tables.
    *
    * The 100 TB trade: tables multiply CORPUS-side state (every vector is
    * keyed+shuffled per table) while probes multiply only the QUERY side
    * (tiny, broadcast) — multi-probe buys recall with ~zero corpus cost,
    * which is why production ANN (FAISS/Zoekt-style) probes rather than
    * replicates. Candidate dedup across tables×probes happens AFTER the
    * inline cosine projection, so the shuffle that dedups carries narrow
    * (query, neighbor, cosine) rows, never embeddings.
    */
  def hyperplaneTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
                               tables: Int = 4, bits: Int = 8): DataFrame = {
    def keyed(df: DataFrame, idName: String) = df.select(
      col("vec_id").as(idName), col("embedding").as(s"${idName}_emb"),
      hyperplaneBucketKeys(col("embedding"), tables, bits).as("bks"))
      .select(col(idName), col(s"${idName}_emb"), posexplode(col("bks")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    // probe masks: 0 (exact bucket) then one per flipped bit
    val masks = array((0L +: (0 until bits).map(1L << _)).map(lit(_)): _*)
    val queryProbes = keyed(queries, "query_id")
      .withColumn("m", explode(masks))
      .select(col("query_id"), col("query_id_emb"), col("tbl"),
        col("bucket").bitwiseXOR(col("m")).as("bucket"))
    val scored = keyed(corpus, "neighbor_id")
      .join(broadcast(queryProbes), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineSimilarity(col("query_id_emb"), col("neighbor_id_emb")), 6).as("cosine"))
      // dedup across tables AND probes on narrow rows (cosine is identical
      // for every duplicate, so max() is just the dedup verb)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    topPerQuery(scored, k)
  }

  /** JL sign random projection: adds a `proj` column of `outDims` doubles
    * (planes `0..outDims-1` of the shared ±1 family,
    * [[graft.functions.RandomProjection]]). Map-only and codegen'd; no
    * shuffle, no state. The unscaled sums preserve cosine ordering in
    * expectation (the 1/√outDims JL factor cancels in every ratio), and
    * every output double is exactly replayable by the oracle's left-fold.
    */
  def randomProject(emb: DataFrame, outDims: Int): DataFrame =
    emb.withColumn("proj", randomProjection(col("embedding"), outDims))

  /** Strict left-fold cosine over two small DOUBLE-array columns of known
    * length `dim` — the projected-space scoring kernel. Expanded to `dim`
    * codegen'd terms per fold (tiny by construction: `dim` is the
    * projected width, ≤ 16), same fold order as the oracle SQL.
    */
  private[graft] def cosineD(a: Column, b: Column, dim: Int): Column = {
    def dotD(x: Column, y: Column) = (0 until dim).foldLeft(lit(0.0)) { (acc, i) =>
      acc + element_at(x, i + 1) * element_at(y, i + 1)
    }
    val denom = sqrt(dotD(a, a)) * sqrt(dotD(b, b))
    when(denom === 0.0, lit(0.0)).otherwise(dotD(a, b) / denom)
  }

  /** ANN top-k via JL projection: score the WHOLE corpus in `projDims`-dim
    * projected space (8 multiplies/row instead of 3×64), keep each query's
    * `candFactor`·k projected-space best as candidates, then re-fetch full
    * vectors for exactly those rows and re-rank by exact cosine.
    *
    * The complement to the LSH/IVF paths: no index, no corpus-side state,
    * ONE narrow scan — right when queries are ad-hoc one-shots against a
    * corpus nobody pre-keyed. Scale shape: the scan and the per-query
    * top-candFactor·k reduction carry (query, neighbor, pcos) rows — the
    * 64-float embedding never enters a shuffle; the exact re-rank joins
    * the candidate ids (per-query-bounded, broadcastable) back to the
    * corpus, so full vectors are read for candidates only, in place.
    * Recall comes from the JL distortion bound, bought with candFactor —
    * measured in SimilaritySpec rather than assumed. On THIS corpus's
    * near-random synthetic vectors neighbor margins are tiny, so recall
    * is inherently modest (sf0.01 grid: 0.21 at 16 dims/cf 3, 0.36 at
    * cf 6, 0.49 at cf 10; 24 dims/cf 10 reaches 0.60) — real text
    * embeddings cluster far more sharply and sit well above these floors.
    */
  def projectedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    projDims: Int = 16, candFactor: Int = 6): DataFrame = {
    require(projDims >= 1 && candFactor >= 1)
    val c = corpus.select(col("vec_id"),
      randomProjection(col("embedding"), projDims).as("pv"))
    val q = queries.select(col("vec_id").as("query_id"),
      randomProjection(col("embedding"), projDims).as("qpv"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val cand = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineD(col("qpv"), col("pv"), projDims).as("pcos"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= k * candFactor)
      .select(col("query_id"), col("neighbor_id"))
    val rer = cand
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineSimilarity(col("qv"), col("nv")), 6).as("cosine"))
    topPerQuery(rer, k)
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantization codebooks: the embedding space split into
    * `m` contiguous subspaces of Dim/m dims, each clustered into `codes`
    * codewords by the SAME deterministic Lloyd discipline as
    * [[KMeans]] (seeds = the first `codes` vectors' slices in vec_id
    * order; `iters` argmin rounds so `iters - 1` mean updates; per-dim
    * means rounded to 6 and cast to float so any SQL engine replays the
    * arithmetic; an emptied cluster keeps its previous codeword).
    * Assignment is argmin L2, evaluated as `argmin(cc - 2*dot(x, c))` —
    * the ||x||² term is constant across codewords, so it never needs
    * computing. Returns (subspace, code) -> codeword, O(m * codes *
    * Dim/m) driver metadata, the IVF-seed pattern.
    *
    * All m per-subspace argmins evaluate in ONE map-only projection per
    * iteration (m * codes native dot products per row, each over Dim/m
    * floats — the same multiply count as one full-width scan), and the
    * mean update is ONE aggregation over (subspace, code, dim) — the
    * shuffle carries m * codes * Dim/m cells, never vectors.
    */
  def pqTrain(emb: DataFrame, m: Int, codes: Int,
              iters: Int): Map[(Int, Int), Seq[Float]] = {
    require(Dim % m == 0 && codes >= 2 && iters >= 1)
    val subDim = Dim / m
    var books: Map[(Int, Int), Seq[Float]] = emb
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(codes)
      .collect().toSeq.zipWithIndex.flatMap { case (r, c) =>
        val v = r.getSeq[Float](1)
        (0 until m).map(s => (s, c) -> v.slice(s * subDim, (s + 1) * subDim))
      }.toMap
    for (_ <- 1 until iters) {
      val means = withPqCodes(emb, books, m, subDim, codes)
        .select(posexplode(col("embedding")), col("codes").as("cds"))
        .select((col("pos") / subDim).cast("int").as("sub"),
          pmod(col("pos"), lit(subDim)).as("idx"), col("col").as("val"),
          element_at(col("cds"), (col("pos") / subDim).cast("int") + 1).as("code"))
        .groupBy(col("sub"), col("code"), col("idx"))
        .agg(round(avg(col("val").cast("double")), 6).cast("float").as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k0, rows) =>
          k0 -> rows.sortBy(_.getInt(2)).map(_.getFloat(3)).toSeq
        }
      books = books.map { case (k0, old) => k0 -> means.getOrElse(k0, old) }
    }
    books
  }

  /** Flatten a codebook map into the reference-object form the codegen'd
    * PQ kernels carry: (floats, presence mask, per-codeword ‖w‖²). A
    * corpus smaller than `codes` trains fewer codewords (one per seed
    * vector); absent entries are masked, so tiny/adversarial inputs
    * degrade instead of throwing. `cc` is the same driver-side strict
    * left-fold (`Σ w²` in double over float operands) the old composed
    * plan inlined as a literal — bit-identical distances.
    */
  private def flatBooks(books: Map[(Int, Int), Seq[Float]], m: Int,
                        codes: Int, subDim: Int)
  : (Seq[Float], Seq[Boolean], Seq[Double]) = {
    val flat = new Array[Float](m * codes * subDim)
    val present = new Array[Boolean](m * codes)
    val cc = new Array[Double](m * codes)
    for (s <- 0 until m; c <- 0 until codes; w <- books.get((s, c))) {
      present(s * codes + c) = true
      cc(s * codes + c) = w.map(x => x.toDouble * x.toDouble).sum
      w.copyToArray(flat, (s * codes + c) * subDim)
    }
    (flat.toSeq, present.toSeq, cc.toSeq)
  }

  /** `df` plus a `codes` array column of the m per-subspace argmin-L2
    * codes, evaluated by the codegen'd [[graft.functions.PqAssign]]
    * kernel in one map-only projection; keeps all input columns. The
    * kernel's loop replays the old struct-least tree bit for bit (same
    * folds, same dist-then-lowest-code tie-break) while keeping the plan
    * O(1) in `codes` — the composed `least()` tree at codes=256 was a
    * ~2,000-node expression that shipped 16 MB task binaries (r12).
    */
  private[graft] def withPqCodes(df: DataFrame, books: Map[(Int, Int), Seq[Float]],
                                 m: Int, subDim: Int, codes: Int): DataFrame = {
    val (flat, present, cc) = flatBooks(books, m, codes, subDim)
    df.withColumn("codes", org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PqAssign(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("embedding")),
        flat, present, cc, m, codes, subDim)))
  }

  /** Encode: each vector as its m argmin codes — map-only, the stored
    * representation is m smallints per vector (32x smaller than Dim
    * floats at m=8, Dim=64).
    */
  def pqEncode(emb: DataFrame, books: Map[(Int, Int), Seq[Float]],
               m: Int, codes: Int): DataFrame = {
    val subDim = Dim / m
    withPqCodes(emb.select(col("vec_id"), col("embedding")),
      books, m, subDim, codes)
      .select(col("vec_id"), col("codes"))
  }

  /** ADC (asymmetric distance computation) top-k over an ALREADY-ENCODED
    * corpus — the query-time half of PQ, shared by [[pqTopK]] (train +
    * encode per run, oracle-replayable) and [[graft.sources.PqIndex]]
    * (frozen codebooks, stored codes).
    *
    * The approximate score is the exact cosine of the RECONSTRUCTED
    * vector, computed with ZERO reconstruction and ZERO full-width
    * arithmetic in the scan:
    *
    *   dot(q, x̂)  = Σ_s dot(q_s, w[s, code_s])   — m lookups in qtab
    *   ‖x̂‖²      = Σ_s ‖w[s, code_s]‖²          — m lookups in cnorm2
    *
    * `qtab` is the per-QUERY m×codes table of subspace partial dots
    * (driver-literal codebooks × broadcast queries: codebook-sized work
    * on the tiny side), `cnorm2` the per-subspace codeword squared norms
    * (pure driver metadata). So the corpus scan does m `element_at`
    * integer-indexed lookups and m-1 adds per pair — the arithmetic
    * finally matches the 32×-narrower representation, where the previous
    * plan re-widened every row with a per-row `concat` and paid a
    * Dim-multiply dot per pair. Same output by construction only when
    * the fold orders match the oracle: partial sums add in subspace
    * order s = 0..m-1, left-associated, both here and in the SQL replay.
    */
  /** Reconstructed-vector norm over a `codes` array column: sqrt of the
    * sum of per-subspace codeword squared norms, looked up from
    * O(m·codes) literal driver metadata — codewords a tiny corpus never
    * trained contribute 0 (they are never assigned either).
    */
  private[graft] def pqRnorm(books: Map[(Int, Int), Seq[Float]],
                             m: Int, codes: Int): Column = {
    val cnorm2 = (0 until m).map { s =>
      typedlit((0 until codes).map(c =>
        books.get((s, c))
          .map(w => w.map(x => x.toDouble * x.toDouble).sum).getOrElse(0.0)))
    }
    sqrt((0 until m).map(s =>
      element_at(cnorm2(s), element_at(col("codes"), s + 1) + 1)).reduce(_ + _))
  }

  /** The per-QUERY ADC lookup table: qtab[s·codes + c] = dot(q_subspace_s,
    * codeword(s, c)) — m·codes sub-dots per query row (tiny, broadcast),
    * so the corpus scan does m `element_at` lookups per pair instead of
    * Dim multiplies.
    */
  private[graft] def pqQtab(books: Map[(Int, Int), Seq[Float]],
                            m: Int, codes: Int,
                            emb: Column = col("embedding")): Column = {
    val subDim = Dim / m
    val (flat, present, _) = flatBooks(books, m, codes, subDim)
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PqQtab(
        org.apache.spark.sql.graftbridge.Bridge.expression(emb),
        flat, present, m, codes, subDim))
  }

  /** dot(q, x̂) as m qtab lookups added in subspace order (left-assoc,
    * matching the oracle's fold).
    */
  private[graft] def pqQdot(m: Int, codes: Int, qtab: Column,
                            codesCol: Column): Column =
    (0 until m).map(s =>
      element_at(qtab, lit(s * codes) + element_at(codesCol, s + 1) + 1))
      .reduce(_ + _)

  /** dot(q, x̂) computed DIRECTLY from the query embedding and the stored
    * codes — bit-identical to `pqQdot(m, codes, pqQtab(...), codesCol)`
    * by construction (same per-subspace left-fold dots, same left-assoc
    * outer sum; spec-pinned), with no m×codes table materialized. The
    * distributed batch probe's kernel: the per-query payload that rides
    * the candidate attach join stays embedding-width (~0.3 KB) instead
    * of qtab-width (~16 KB at codes=256) — r17 verdict next-round #1.
    */
  private[graft] def pqAdcDot(books: Map[(Int, Int), Seq[Float]],
                              m: Int, codes: Int,
                              emb: Column, codesCol: Column): Column = {
    val subDim = Dim / m
    val (flat, present, _) = flatBooks(books, m, codes, subDim)
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PqAdcDot(
        org.apache.spark.sql.graftbridge.Bridge.expression(emb),
        org.apache.spark.sql.graftbridge.Bridge.expression(codesCol),
        flat, present, m, codes, subDim))
  }

  def pqAdcTopK(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
                books: Map[(Int, Int), Seq[Float]], m: Int, codes: Int,
                k: Int, shortlist: Int): DataFrame = {
    require(k >= 1 && shortlist >= k && Dim % m == 0)
    val enc = encoded.select(col("vec_id"), col("codes"),
      pqRnorm(books, m, codes).as("rnorm"))
    val qs = queries.select(col("vec_id"),
      l2_fast(col("embedding")).as("qnorm"), pqQtab(books, m, codes).as("qtab"))
    val qdot = pqQdot(m, codes, col("q.qtab"), col("c.codes"))
    val denom = col("q.qnorm") * col("c.rnorm")
    val qcos = when(denom === 0.0, lit(0.0)).otherwise(qdot / denom)
    val scored = enc.as("c")
      .join(broadcast(qs.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"), qcos.as("qcos"))
    shortlistRerank(scored, corpus, queries, k, shortlist, broadcastQueries = true)
  }

  /** PQ ANN top-k: train codebooks on the corpus, encode it, scan the
    * CODES (the 32x-narrower representation — at 100 TB the linear ANN
    * pass is scan-bound, so representation width IS the cost), ADC-score
    * every (query, vector) pair ([[pqAdcTopK]]: m table lookups per pair,
    * never a full-width dot), shortlist, then re-rank the shortlist on
    * true embeddings. Deterministic and oracle-replayable end to end,
    * codebook training included. The train-once/probe-many production
    * shape of the same arithmetic is [[graft.sources.PqIndex]].
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
             m: Int = 8, codes: Int = 16, iters: Int = 2): DataFrame = {
    val books = pqTrain(corpus, m, codes, iters)
    pqAdcTopK(pqEncode(corpus, books, m, codes), corpus, queries,
      books, m, codes, k, shortlist)
  }
}
