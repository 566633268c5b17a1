package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{KMeans, Quantize, Sampling, Similarity}

/** Exact and approximate vector search that needs no persisted IVF store:
  * k-means assignment, exact and int8 cosine top-k, product quantization
  * (ad hoc, persisted and sample-trained), random-hyperplane ANN, JL
  * projection, scalar quantization and hard-negative mining. Owns the PQ
  * train/encode/ADC CTEs the IVF-PQ oracles build on.
  */
object VectorQueries {

  val defs: Seq[QueryDef] = Seq(
    // Deterministic Lloyd k-means (2 rounds, 8 seed centroids): map-only
    // argmax assignment against driver-literal centroids; the mean update
    // shuffles k×d partial sums per partition, never vectors.
    QueryDef("kmeans_assign", (s, dir) =>
      KMeans.assign(Tables.embeddings(s, dir), 8, 2)
        .orderBy(col("vec_id")),
      s"""WITH $kmeansCtes
         |SELECT vec_id, c AS cluster, round(cs, 6) AS cosine FROM a2
         |ORDER BY vec_id""".stripMargin),

    // Exact cosine top-5 for 8 query vectors: broadcast queries, one corpus
    // scan, window top-k.
    QueryDef("sim_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 5)
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH ${Oracles.vectors},
         |${Oracles.exactTopK("top", "e", 5)}
         |SELECT * FROM top ORDER BY query_id, rank""".stripMargin),

    // Int8-quantized retrieval: whole-corpus scan on int8 codes (one
    // integer dot product per pair + four per-vector scalars), top-20
    // shortlist, exact float re-rank to top-5. The 100 TB lever is scan
    // WIDTH — d code bytes + 4 scalars instead of 4d float bytes on the
    // linear-scan path.
    QueryDef("sim_topk_int8", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.int8TopK(emb, emb.filter(col("vec_id") < 8),
          k = 5, shortlist = 20)
        .orderBy(col("query_id"), col("rank"))
    }, {
      // Replays Quantize.int8 (same CASE scale=0 guard as embed_quantize),
      // the per-vector integer stats, the fixed-shape double score in the
      // IDENTICAL operation order as the Spark expression tree, the
      // shortlist window, and the exact re-rank.
      val dotCodes = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(0, 64), i -> q.codes[i+1] * c.codes[i+1]))," +
        " (a, v) -> a + v)"
      def norm(p: String) =
        s"sqrt($p.scale * $p.scale * $p.csq + 2.0 * $p.scale * $p.lo * $p.csum" +
          s" + $p.d * $p.lo * $p.lo)"
      val num = s"q.scale * c.scale * CAST($dotCodes AS DOUBLE) + " +
        "q.scale * c.lo * q.csum + c.scale * q.lo * c.csum + q.d * q.lo * c.lo"
      val denom = s"${norm("q")} * ${norm("c")}"
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS lo,
         |    (CAST(list_aggregate(embedding, 'max') AS DOUBLE)
         |      - CAST(list_aggregate(embedding, 'min') AS DOUBLE)) / 255.0 AS scale
         |  FROM embeddings),
         |cd AS (
         |  SELECT vec_id, embedding, lo, scale,
         |    CASE WHEN scale = 0 THEN list_transform(embedding, v -> CAST(0 AS BIGINT))
         |         ELSE list_transform(embedding, v ->
         |           CAST(round((CAST(v AS DOUBLE) - lo) / scale) AS BIGINT)) END AS codes
         |  FROM b),
         |st AS (
         |  SELECT vec_id, lo, scale, codes,
         |    CAST(len(codes) AS DOUBLE) AS d,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
         |      (a, c) -> a + c) AS DOUBLE) AS csum,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(codes, c -> c * c)), (a, c) -> a + c) AS DOUBLE) AS csq
         |  FROM cd),
         |sl AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        (CASE WHEN $denom = 0 THEN 0.0 ELSE ($num) / ($denom) END) DESC,
         |        c.vec_id) AS srank
         |    FROM st c JOIN st q ON q.vec_id < 8 AND q.vec_id != c.vec_id)
         |  WHERE srank <= 20),
         |${Oracles.vectors}
         |SELECT * FROM (
         |  SELECT sl.query_id, sl.neighbor_id,
         |    round(${Oracles.cosine("qe.v", "ce.v", 64)}, 6) AS cosine,
         |    row_number() OVER (PARTITION BY sl.query_id
         |      ORDER BY round(${Oracles.cosine("qe.v", "ce.v", 64)}, 6) DESC,
         |        sl.neighbor_id) AS rank
         |  FROM sl
         |  JOIN e ce ON ce.vec_id = sl.neighbor_id
         |  JOIN e qe ON qe.vec_id = sl.query_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // Product-quantization ANN: 8 subspaces x 256 codewords trained by
    // the deterministic Lloyd discipline (seeds = first-256 slices, two
    // argmin rounds) — the r12 declared operating point (m=8, codes=256,
    // shortlist=200; measured recall 1.0 at 1x, BASELINE.md r12) —
    // corpus stored as 8 codes/vector (32x narrower than
    // the float embedding — at 100 TB the linear ANN pass is scan-bound,
    // so representation width IS the cost), scored as the EXACT cosine
    // of the reconstruction, shortlisted, exact-re-ranked. The oracle
    // replays the whole thing, training included.
    QueryDef("sim_pq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
          k = 5, shortlist = 200, m = 8, codes = 256)
        .orderBy(col("query_id"), col("rank"))
    },
      pqOracle("")),

    // The PERSISTED-index production shape of PQ ANN (the sim_ivf_indexed
    // discipline for codebooks): run 0 trains codebooks on the bootstrap
    // corpus and freezes them, encodes the bootstrap vectors, commits
    // generation 0; run 1 encodes ONLY the delta (vec_id % 50 == 0)
    // against the frozen codebooks and appends a generation. Queries
    // ADC-score the stored codes (m element_at lookups per pair) — the
    // corpus-wide train+encode is never recomputed. The oracle trains on
    // the bootstrap slice and encodes the full corpus: codes are a pure
    // function of the vector under frozen codebooks, which is the
    // invariant this query pins.
    QueryDef("sim_pq_indexed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.getOrBuildVersioned(s, s"pq-idx|$dir", dir) {
        val i = new graft.sources.PqIndex(
          s, TempDirs.create(s, "graft-pq-idx"), m = 8, codes = 256)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i.append(emb.filter(col("vec_id") % 50 === 0))
        i
      }
      idx.topK(emb, emb.filter(col("vec_id") < 8), k = 5, shortlist = 200)
        .orderBy(col("query_id"), col("rank"))
    },
      // trains on the bootstrap slice, encodes the whole corpus — the
      // frozen-codebook purity invariant sim_pq_indexed pins
      pqOracle("WHERE vec_id % 50 != 0")),

    // Sample-bounded PQ training (the BPE bound-the-corpus rule applied
    // to Lloyd): codebooks fit on a deterministic ~half hash-sample of
    // the corpus — at 100 TB nobody iterates the full corpus per Lloyd
    // round; a bounded sample fixes training cost while encoding still
    // covers everything. The oracle replays the SAME sample derivation
    // (portable-hash bucket < 500 of 1000), then training, encoding, and
    // ADC scoring end to end.
    QueryDef("sim_pq_sampled", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val train = emb.filter(Sampling.hashBucket(
        concat(lit("pqs:"), col("vec_id").cast("string")), 1000) < 500)
      val books = Similarity.pqTrain(train, m = 8, codes = 256, iters = 2)
      Similarity.pqAdcTopK(
          Similarity.pqEncode(emb, books, 8, 256), emb,
          emb.filter(col("vec_id") < 8), books, 8, 256, k = 5, shortlist = 200)
        .orderBy(col("query_id"), col("rank"))
    },
      // the training corpus is the hash-sampled half; encoding and scoring
      // cover the whole corpus — the sample derivation itself is replayed
      pqOracle("WHERE " + Oracles.sampleBucket(
        "'pqs:' || CAST(vec_id AS VARCHAR)", 1000) + " < 500")),

    // ANN top-5 via 4x8-bit random-hyperplane LSH, exact re-rank of
    // candidates only.
    QueryDef("sim_ann_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // 8 tables (recall ≈ 1-(1-p)^T doubles vs 4 at linear cost — the
      // measured ANN top-5 recall rows of BASELINE.md's scale-rehearsal
      // table picked this default)
      Similarity.hyperplaneTopK(emb, emb.filter(col("vec_id") < 8), 5,
        tables = 8, bits = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      hyperplaneOracle(tables = 8, masks = Seq(0))),

    // Multi-probe ANN: 1-bit-flip probes buy recall on the QUERY side only
    // (9 probes/table here) — half the tables of sim_ann_topk with corpus
    // state halved, the production trade for 100 TB corpora.
    QueryDef("sim_ann_multiprobe", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hyperplaneTopKMultiProbe(emb, emb.filter(col("vec_id") < 8), 5,
        tables = 4, bits = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      // same hyperplane family, 4 tables; query buckets additionally probe
      // every 1-bit flip (xor with 0 and each power of two)
      hyperplaneOracle(tables = 4, masks = 0 +: (0 until 8).map(1 << _))),

    // JL sign random projection to 8 dims: the map-only codegen'd kernel
    // that shrinks every downstream candidate scan/shuffle 8x. Raw sums
    // (no 1/sqrt(d) scale) so each double is exactly oracle-replayable.
    QueryDef("embed_project", (s, dir) => {
      val pr = Similarity.randomProject(Tables.embeddings(s, dir), 8)
      pr.select(col("vec_id") +:
        (0 until 8).map(j => round(element_at(col("proj"), j + 1), 6).as(s"p$j")): _*)
        .orderBy(col("vec_id"))
    },
      s"""WITH ${Oracles.vectors},
         |pr AS (SELECT vec_id, ${Oracles.projections("v", 8, 64)} AS pv FROM e)
         |SELECT vec_id, ${(0 until 8).map(j => s"round(pv[${j + 1}], 6) AS p$j").mkString(", ")}
         |FROM pr ORDER BY vec_id""".stripMargin),

    // ANN top-5 via the JL projection: whole-corpus scoring in 16-dim
    // projected space (narrow rows; the 64-float embedding never enters a
    // shuffle), top-30 candidates per query, exact re-rank re-fetches full
    // vectors for candidates only. The index-free one-shot ANN path.
    QueryDef("sim_ann_projected", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.projectedTopK(emb, emb.filter(col("vec_id") < 8), 5,
        projDims = 16, candFactor = 6)
        .orderBy(col("query_id"), col("rank"))
    },
      // two-stage replay: projected-space candidate rank (crank <= 30 with
      // the engine's exact tie-break), then full-space exact re-rank —
      // identical doubles at both stages by the shared left-fold arithmetic
      s"""WITH ${Oracles.vectors},
         |pr AS (SELECT vec_id, ${Oracles.projections("v", 16, 64)} AS pv FROM e),
         |cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${Oracles.cosine("q.pv", "c.pv", 16)} DESC, c.vec_id) AS crank
         |    FROM pr q JOIN pr c ON q.vec_id < 8 AND c.vec_id != q.vec_id)
         |  WHERE crank <= 30),
         |rer AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    round(${Oracles.cosine("qe.v", "ne.v", 64)}, 6) AS cosine
         |  FROM cand
         |  JOIN e qe ON qe.vec_id = cand.query_id
         |  JOIN e ne ON ne.vec_id = cand.neighbor_id)
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM rer)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Per-vector int8 scalar quantization of the embedding corpus: rowwise
    // (lo, scale), mean reconstruction error, and a codes checksum.
    QueryDef("embed_quantize", (s, dir) =>
      Quantize.int8(Tables.embeddings(s, dir))
        .select(col("vec_id"),
          // + 0.0 collapses IEEE -0.0 (DuckDB float round keeps the sign
          // of a tiny negative; Spark's BigDecimal round does not)
          (round(col("q_lo"), 6) + lit(0.0)).as("q_lo"),
          (round(col("q_hi"), 6) + lit(0.0)).as("q_hi"),
          col("q_err"),
          Quantize.codesHash(col("codes")).as("codes_hash"))
        .orderBy(col("vec_id")),
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS lo,
         |    CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS hi
         |  FROM embeddings),
         |sc AS (SELECT vec_id, embedding, lo, hi, (hi - lo) / 255.0 AS scale FROM b),
         |cd AS (SELECT vec_id, embedding, lo, hi, scale,
         |  CASE WHEN scale = 0 THEN list_transform(embedding, v -> CAST(0 AS BIGINT))
         |       ELSE list_transform(embedding, v ->
         |         CAST(round((CAST(v AS DOUBLE) - lo) / scale) AS BIGINT)) END AS codes
         |  FROM sc)
         |SELECT vec_id,
         |  round(lo, 6) + 0 AS q_lo,
         |  round(hi, 6) + 0 AS q_hi,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(0, len(embedding)), i ->
         |      abs(CAST(codes[i+1] AS DOUBLE) * scale + lo
         |        - CAST(embedding[i+1] AS DOUBLE)))),
         |    (a, x) -> a + x) / len(embedding), 6) AS q_err,
         |  ${Oracles.polyHash("array_to_string(codes, ',')")} AS codes_hash
         |FROM cd ORDER BY vec_id""".stripMargin),

    // Hard-negative mining: per query vector, top-3 most-similar vectors
    // from a DIFFERENT k-means cluster (same deterministic k-means as
    // kmeans_assign; map-only cluster column, broadcast query side).
    QueryDef("hard_negatives", (s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir),
          isQuery = col("vec_id") < 8, k = 3, nClusters = 8, iters = 2)
        .orderBy(col("query_id"), col("rank")),
      s"""WITH $kmeansCtes,
         |q AS (SELECT vec_id, v, c FROM a2 WHERE vec_id < 8),
         |pairs AS (
         |  SELECT q.vec_id AS query_id, q.c AS query_cluster,
         |    a2.vec_id AS neighbor_id, a2.c AS neighbor_cluster,
         |    round(${Oracles.cosine("q.v", "a2.v", 64)}, 6) AS cosine
         |  FROM q JOIN a2 ON a2.vec_id != q.vec_id AND a2.c != q.c)
         |SELECT query_id, query_cluster, rank, neighbor_id, neighbor_cluster, cosine
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM pairs)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)
  )

  /** Replays the random-hyperplane ANN top-5 of the 8-query sample
    * (Similarity.hyperplaneTopK): `tables` hash tables of 8 sign bits
    * each; a query probes its own bucket xor every mask of `masks` (0
    * alone is the plain probe, the 1-bit flips are multi-probe), and the
    * candidates are exact-re-ranked.
    */
  private def hyperplaneOracle(tables: Int, masks: Seq[Int]): String =
    s"""WITH ${Oracles.vectors},
       |bk AS (
       |  SELECT vec_id, v, ${Oracles.hyperplaneBits("v", s"${tables * 8}", 64)} AS bits
       |  FROM e),
       |keyed AS (
       |  SELECT vec_id, v, t.tbl AS tbl, ${Oracles.bucketFromBits("bits", "t.tbl", "8")} AS bucket
       |  FROM bk CROSS JOIN (SELECT unnest(range(0, $tables)) AS tbl) t),
       |qprobe AS (
       |  SELECT vec_id, v, tbl, xor(bucket, m.m) AS bucket
       |  FROM keyed CROSS JOIN (SELECT unnest(${masks.mkString("[", ", ", "]")}) AS m) m
       |  WHERE vec_id < 8),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    q.v AS qv, c.v AS cv
       |  FROM keyed c JOIN qprobe q
       |    ON c.tbl = q.tbl AND c.bucket = q.bucket
       |    AND q.vec_id != c.vec_id)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id,
       |    round(${Oracles.cosine("qv", "cv", 64)}, 6) AS cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(${Oracles.cosine("qv", "cv", 64)}, 6) DESC, neighbor_id) AS rank
       |  FROM cand)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** PQ train+encode CTE chain. `pre` prefixes every generated CTE name
    * so a second, independently-trained chain can coexist in one WITH
    * list (the grow-arm replay trains its codebooks on the FULL corpus
    * at the era boundary, exactly as `reseedInto` does); `trainCte`
    * names the training-corpus CTE (`et` = the bootstrap slice for the
    * frozen-at-bootstrap chain, `e` for a full-corpus retrain).
    */
  private[queries] def pqTrainEncodeCtes(m: Int, codes: Int, pre: String,
                                         trainCte: String): String = {
    val subDim = 64 / m
    (0 until m).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      val d = subDim
      s"""${pre}es_$s AS (SELECT vec_id, list_slice(v, $lo, $hi) AS x FROM e),
         |${pre}ts_$s AS (SELECT vec_id, list_slice(v, $lo, $hi) AS x FROM $trainCte),
         |${pre}seeds_$s AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
         |    list_slice(v, $lo, $hi) AS w
         |  FROM (SELECT vec_id, v FROM $trainCte ORDER BY vec_id LIMIT $codes)),
         |${pre}s1_$s AS (
         |  SELECT es.vec_id, es.x, s.c,
         |    (${Oracles.dot("s.w", "s.w", d)} - 2 * ${Oracles.dot("es.x", "s.w", d)}) AS dist
         |  FROM ${pre}ts_$s es CROSS JOIN ${pre}seeds_$s s),
         |${pre}a1_$s AS (
         |  SELECT vec_id, x, c FROM (
         |    SELECT vec_id, x, c,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
         |    FROM ${pre}s1_$s) WHERE rn = 1),
         |${pre}x1_$s AS (
         |  SELECT c, unnest(x) AS val, generate_subscripts(x, 1) AS idx FROM ${pre}a1_$s),
         |${pre}m1_$s AS (
         |  SELECT c, idx, CAST(CAST(round(avg(val), 6) AS REAL) AS DOUBLE) AS mv
         |  FROM ${pre}x1_$s GROUP BY c, idx),
         |${pre}c1_$s AS (SELECT c, list(mv ORDER BY idx) AS w FROM ${pre}m1_$s GROUP BY c),
         |${pre}cf_$s AS (
         |  SELECT s.c, coalesce(c1.w, s.w) AS w
         |  FROM ${pre}seeds_$s s LEFT JOIN ${pre}c1_$s c1 ON s.c = c1.c),
         |${pre}s2_$s AS (
         |  SELECT es.vec_id, s.c,
         |    (${Oracles.dot("s.w", "s.w", d)} - 2 * ${Oracles.dot("es.x", "s.w", d)}) AS dist
         |  FROM ${pre}es_$s es CROSS JOIN ${pre}cf_$s s),
         |${pre}a2_$s AS (
         |  SELECT vec_id, c FROM (
         |    SELECT vec_id, c,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
         |    FROM ${pre}s2_$s) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
  }

  /** `encj` CTE: every corpus row with its m codeword lists (w0..w[m-1])
    * and the ADC reconstructed norm — sqrt of per-subspace codeword
    * squared norms added in subspace order (Similarity.pqRnorm's fold).
    * `pre` selects which [[pqTrainEncodeCtes]] chain it reads.
    */
  private[queries] def pqEncjCte(m: Int, pre: String): String = {
    val subDim = 64 / m
    val reconJoin = (0 until m).map(s =>
      s"JOIN ${pre}a2_$s a$s ON a$s.vec_id = e.vec_id " +
        s"JOIN ${pre}cf_$s w$s ON w$s.c = a$s.c").mkString(" ")
    val rnormSum = (0 until m)
      .map(s => Oracles.dot(s"w$s.w", s"w$s.w", subDim)).mkString(" + ")
    val wCols = (0 until m).map(s => s"w$s.w AS w$s").mkString(", ")
    s"""${pre}encj AS (
       |  SELECT e.vec_id, $wCols, sqrt($rnormSum) AS rnorm FROM e $reconJoin)""".stripMargin
  }

  /** dot(query, x̂) as per-subspace partial dots added in subspace order
    * — Similarity.pqQdot's fold; `qv` is the query vector expression,
    * codeword lists come from `encj` alias `r`.
    */
  private[queries] def pqAdcSum(m: Int, qv: String): String = {
    val subDim = 64 / m
    (0 until m).map { s =>
      Oracles.dot(s"list_slice($qv, ${s * subDim + 1}, ${(s + 1) * subDim})",
        s"r.w$s", subDim)
    }.mkString("(", " + ", ")")
  }

  /** The PQ replay (m=8, 256 codes, shortlist 200, top-5) of the
    * 8-query sample. Training (seeds + one Lloyd mean update + final
    * codebooks cf_s) runs over `et` = e filtered by `trainWhere` (empty =
    * the whole corpus — sim_pq_topk); ENCODING (a2_s) always covers the
    * whole corpus — a vector's codes are a pure function of the vector
    * under frozen codebooks, which is exactly the PqIndex
    * bootstrap/append invariant sim_pq_indexed pins. Scoring replays ADC:
    * the approximate score is sum over subspaces of dot(q_slice_s,
    * codeword_s), divided by qnorm * sqrt(sum of codeword squared norms)
    * — partial sums added in subspace order, left-associated, matching
    * Similarity.pqAdcTopK's reduce fold bit for bit.
    */
  private def pqOracle(trainWhere: String): String = {
    val adcSum = pqAdcSum(8, "q.v")
    s"""WITH ${Oracles.vectors},
       |et AS (SELECT vec_id, v FROM e $trainWhere),
       |${pqTrainEncodeCtes(8, 256, "", "et")},
       |${pqEncjCte(8, "")},
       |q AS (SELECT vec_id, v, ${Oracles.l2("v", 64)} AS qnorm FROM e WHERE vec_id < 8),
       |sc AS (
       |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
       |    CASE WHEN q.qnorm * r.rnorm = 0 THEN 0.0
       |         ELSE $adcSum / (q.qnorm * r.rnorm) END AS qcos
       |  FROM encj r CROSS JOIN q WHERE r.vec_id != q.vec_id),
       |sl AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY qcos DESC, neighbor_id) AS srank
       |    FROM sc) WHERE srank <= 200),
       |rer AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM (
       |    SELECT sl.query_id, sl.neighbor_id,
       |      round(${Oracles.cosine("qe.v", "ne.v", 64)}, 6) AS cosine
       |    FROM sl JOIN e ne ON ne.vec_id = sl.neighbor_id
       |    JOIN e qe ON qe.vec_id = sl.query_id))
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM rer WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Shared CTE chain replaying the deterministic 2-round k-means of
    * [[graft.operators.KMeans]] and ending in `a2` = (vec_id, v, c, cs):
    * each vector with its final cluster and cosine. Consumed by the
    * kmeans_assign and hard_negatives oracles.
    */
  private[queries] def kmeansCtes: String =
    s"""${Oracles.vectors},
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
       |s1 AS (
       |  SELECT e.vec_id, e.v, s.c, ${Oracles.cosine("e.v", "s.v", 64)} AS cs
       |  FROM e CROSS JOIN seeds s),
       |a1 AS (
       |  SELECT vec_id, v, c FROM (
       |    SELECT vec_id, v, c,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c) AS rn
       |    FROM s1) WHERE rn = 1),
       |x1 AS (
       |  SELECT c, unnest(v) AS val, generate_subscripts(v, 1) AS idx FROM a1),
       |m1 AS (
       |  SELECT c, idx, CAST(CAST(round(avg(val), 6) AS REAL) AS DOUBLE) AS m
       |  FROM x1 GROUP BY c, idx),
       |c1 AS (SELECT c, list(m ORDER BY idx) AS v FROM m1 GROUP BY c),
       |cf AS (
       |  SELECT s.c, coalesce(c1.v, s.v) AS v
       |  FROM seeds s LEFT JOIN c1 ON s.c = c1.c),
       |s2 AS (
       |  SELECT e.vec_id, e.v, s.c, ${Oracles.cosine("e.v", "s.v", 64)} AS cs
       |  FROM e CROSS JOIN cf s),
       |a2 AS (
       |  SELECT vec_id, v, c, cs FROM (
       |    SELECT vec_id, v, c, cs,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c) AS rn
       |    FROM s2) WHERE rn = 1)""".stripMargin
}
