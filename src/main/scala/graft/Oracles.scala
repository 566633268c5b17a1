package graft

import graft.functions.GraftFunctions
import graft.functions.PolyHash

/** DuckDB SQL fragments that replay the engine's hash/similarity
  * arithmetic exactly, for the driver's oracle compare.
  *
  * Every fragment mirrors a [[graft.functions.GraftFunctions]] /
  * [[graft.operators.Similarity]] primitive operation-for-operation:
  * integer arithmetic is identical by construction, and floating-point
  * reductions are strict left-folds seeded at 0.0 on both sides, so the
  * doubles are bit-identical, not merely close. Constants (MinHash
  * coefficients, hyperplane signs) are generated from the SAME Scala
  * functions the Spark expressions use — there is one source of truth.
  */
object Oracles {
  val P: Long = PolyHash.P

  /** graft.functions.PolyHash over the characters of `e`. */
  def polyHash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ord(c) AS BIGINT))), " +
      s"(h, c) -> (h*31 + c) % $P)"

  /** Whitespace tokens, empties dropped (GraftFunctions.tokens). */
  def tokens(e: String): String =
    s"list_filter(string_split_regex($e, '\\s+'), t -> t != '')"

  /** Distinct hashed character n-gram shingles (GraftFunctions.shingleHashes). */
  def shingleHashes(e: String, n: Int): String =
    s"list_distinct(list_transform(" +
      s"list_transform(range(1, length($e) - ${n - 2}), i -> substr($e, i, $n)), " +
      s"g -> ${polyHash("g")}))"

  /** MinHash signature list over a hashed-shingle list column `gs`
    * (GraftFunctions.minhashSignature, identical (a,b) coefficients).
    */
  def minhashSignature(gs: String, k: Int): String =
    GraftFunctions.minhashCoefficients(k).map { case (a, b) =>
      s"list_min(list_transform($gs, h -> (h*$a + $b) % $P))"
    }.mkString("[", ", ", "]")

  /** Band key `bi` of a MinHash signature list column (Dedup.minhashBands). */
  def bandKey(sig: String, bi: Int, rows: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_slice($sig, ${bi * rows + 1}, ${bi * rows + rows})), " +
      s"(acc, v) -> (acc*31 + v) % $P)"

  /** SimHash of a token-hash list column (GraftFunctions.simhash). */
  def simhash(th: String, bits: Int): String =
    (0 until bits).map { b =>
      val vote = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform($th, h -> ((h >> $b) & 1) * 2 - 1)), (a, x) -> a + x)"
      s"(CASE WHEN $vote > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Strict-left-fold dot product of two DOUBLE[] columns
    * (GraftFunctions.dotProduct: fold seeded at 0.0).
    */
  def dot(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(0, $dim), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"

  def l2(a: String, dim: Int): String = s"sqrt(${dot(a, a, dim)})"

  /** Cosine with the same zero-norm guard as GraftFunctions.cosineSimilarity. */
  def cosine(a: String, b: String, dim: Int): String =
    s"(CASE WHEN ${l2(a, dim)} * ${l2(b, dim)} = 0 THEN 0.0 " +
      s"ELSE ${dot(a, b, dim)} / (${l2(a, dim)} * ${l2(b, dim)}) END)"

  /** The ±1 sign of hyperplane component (j, d) as SQL — the identical
    * xor-shift multiply mixer of Similarity.hyperplaneSign inlined as
    * 64-bit integer arithmetic (31-bit states, so no overflow).
    */
  private def mixedSign(idx: String): String = {
    val h1 = s"(($idx) * 2654435761) % 2147483648"
    val h2 = s"xor($h1, ($h1) >> 13)"
    val h3 = s"(($h2) * 2246822519) % 2147483648"
    val h4 = s"xor($h3, ($h3) >> 16)"
    s"(CASE WHEN ($h4) % 2 = 0 THEN 1.0 ELSE -1.0 END)"
  }

  /** Σ_d v[d]·sign(j, d) for the lambda's plane `j`: one projection
    * onto the mixed ±1 family, as a strict left fold.
    */
  private def signFold(v: String, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(0, $dim), d -> " +
      s"$v[d+1] * ${mixedSign(s"CAST(j*$dim + d AS BIGINT)")})), (a, x) -> a + x)"

  /** Hyperplane-sign bucket bits list (Similarity.bucketKey's projections):
    * element j+1 is 1 iff projection onto ±1-sign plane j is >= 0.
    * `planes` is SQL, so an auto-sized family can derive its plane count
    * (bits ~ log2(n)) from the corpus.
    */
  def hyperplaneBits(v: String, planes: String, dim: Int): String =
    s"list_transform(range(0, $planes), j -> CASE WHEN ${signFold(v, dim)} >= 0 " +
      "THEN 1 ELSE 0 END)"

  /** JL sign random projection list (graft.functions.RandomProjection):
    * element j+1 = the j-th sign projection, unscaled.
    */
  def projections(v: String, outDims: Int, dim: Int): String =
    s"list_transform(range(0, $outDims), j -> ${signFold(v, dim)})"

  /** Sampling bucket in [0, buckets): mixed PolyHash of `e`
    * (graft.operators.Sampling.hashBucket — identical constant and
    * modulus, 64-bit-safe).
    */
  def sampleBucket(e: String, buckets: Int): String =
    s"(((${polyHash(e)} * ${graft.operators.Sampling.MixA}) % $P) % $buckets)"

  /** Bucket key of hash table `tblExpr` from a bits list column;
    * `bitsPerTable` is SQL (a literal or a derived width).
    */
  def bucketFromBits(bits: String, tblExpr: String, bitsPerTable: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(0, $bitsPerTable), b -> " +
      s"CAST($bits[$tblExpr*($bitsPerTable) + b + 1] AS BIGINT) << b)), " +
      s"(a, x) -> a + x)"

  /** CTE `e` (vec_id, v): the embeddings as DOUBLE lists. */
  val vectors: String =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** The 8-query sample (vec_id < 8) of `e` every probe, sweep and exact
    * top-k oracle replays.
    */
  val querySample: String = "(SELECT * FROM e WHERE vec_id < 8)"

  // ---- composite builders: each replayed rule is spelled once here ----
  // Every builder below emits CTE text only (`name AS (...)`, comma-joined,
  // no leading WITH). `pre` prefixes every CTE name it defines, so two
  // chains can share one WITH list. Sources (`points`, `queries`,
  // `corpus`, `pool`) are CTE names or parenthesised subqueries of
  // (vec_id, v DOUBLE[]) rows; seeds are (cell_id, cv) rows.

  /** `${pre}seeds`: the `nlist` lowest-vec_id rows of `pool` as IVF
    * seeds (FrozenCellIndex.bootstrap). `nlist` is SQL: a literal or a
    * scalar subquery over a count-derived CTE.
    */
  def ivfSeeds(pre: String, pool: String, nlist: String): String =
    s"""${pre}seeds AS (SELECT vec_id AS cell_id, v AS cv FROM $pool
       |  ORDER BY vec_id LIMIT $nlist)""".stripMargin

  /** Cells of each `points` row ranked best-first: cosine against every
    * seed, ties to the lower cell id (Similarity.bestCell/probedCells).
    */
  private def cellRanks(points: String, seeds: String): String =
    s"""SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM (
       |      SELECT p.vec_id, p.v, s.cell_id, ${cosine("p.v", "s.cv", 64)} AS cs
       |      FROM $points p CROSS JOIN $seeds s)""".stripMargin

  /** `${pre}assign` (vec_id, v, cell_id): each `points` row's argmax
    * cell among `seeds`.
    */
  def ivfCells(pre: String, points: String, seeds: String): String =
    s"""${pre}assign AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    ${cellRanks(points, seeds)}) WHERE rnk = 1)""".stripMargin

  /** `${pre}probes` (query_id, qv, cell_id, prnk): each `queries` row's
    * `nprobe` best cells among `seeds`; `nprobe` is SQL.
    */
  def ivfProbes(pre: String, queries: String, seeds: String, nprobe: String): String =
    s"""${pre}probes AS (
       |  SELECT vec_id AS query_id, v AS qv, cell_id, rnk AS prnk FROM (
       |    ${cellRanks(queries, seeds)}) WHERE rnk <= $nprobe)""".stripMargin

  /** `$name` (query_id, neighbor_id, cosine, rank): the exact cosine
    * top-`k` of each [[querySample]] row over `corpus`, itself excluded
    * (Similarity.bruteForceTopK; the ground truth of every recall sweep).
    */
  def exactTopK(name: String, corpus: String, k: Int): String =
    s"""$name AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      round(${cosine("q.v", "c.v", 64)}, 6) AS cosine,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${cosine("q.v", "c.v", 64)}, 6) DESC,
       |          c.vec_id) AS rank
       |    FROM $corpus c JOIN $querySample q ON q.vec_id != c.vec_id)
       |  WHERE rank <= $k)""".stripMargin

  /** `${pre}st`: one row per swept setting, columns `cols` (np first).
    * `npClamp` names a one-row CTE whose `nl` caps every nprobe, as the
    * operator caps sweep settings at the frozen seed count.
    */
  def sweepSettings(pre: String, cols: Seq[String], rows: Seq[Seq[Int]],
                    npClamp: Option[String]): String = {
    val t = rows.map(_.mkString("(", ", ", ")")).mkString("(VALUES ", ", ", ")") +
      cols.mkString(" AS t(", ", ", ")")
    npClamp match {
      case Some(c) =>
        s"${pre}st AS (SELECT DISTINCT least(t.np, $c.nl) AS np" +
          cols.tail.map(", t." + _).mkString + s" FROM $t, $c)"
      case None => s"${pre}st AS (SELECT * FROM $t)"
    }
  }

  /** `${pre}hits` and `${pre}grid` (cols..., recall): recall@k of
    * `${pre}ann` against `exact` per swept setting of `${pre}st`,
    * averaged over the queries and reported to 4 digits.
    */
  def recallGrid(pre: String, cols: Seq[String], exact: String, k: Int): String = {
    val keys = cols.map(c => s"st.$c").mkString(", ")
    val on = cols.map(c => s"a.$c = st.$c").mkString(" AND ")
    val groups = (1 to cols.size + 1).mkString(", ")
    s"""${pre}hits AS (
       |  SELECT $keys, ex.query_id, count(a.neighbor_id) AS nhit
       |  FROM ${pre}st st CROSS JOIN $exact ex
       |  LEFT JOIN ${pre}ann a ON $on
       |    AND a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
       |  GROUP BY $groups),
       |${pre}grid AS (
       |  SELECT ${cols.mkString(", ")}, round(avg(nhit / CAST($k AS DOUBLE)), 4) AS recall
       |  FROM ${pre}hits GROUP BY ${(1 to cols.size).mkString(", ")})""".stripMargin
  }

  /** `$name` (v): the smallest `setting` of `rows` whose recall clears
    * `floor`, else the largest (OperatingPoint's choice rule).
    */
  def smallestClearing(name: String, setting: String, rows: String,
                       floor: Double): String =
    s"""$name AS (SELECT coalesce(
       |  (SELECT min($setting) FROM $rows WHERE recall >= $floor),
       |  (SELECT max($setting) FROM $rows)) AS v)""".stripMargin

  /** Flat-IVF probe at every swept nprobe (IvfIndex.topK): `${pre}probes`,
    * `${pre}st`, `${pre}cand` and `${pre}ann` (np, query_id, neighbor_id,
    * cosine, rank <= k) — each query's exact re-rank of the members of
    * `${pre}assign` in its probed cells. With `selfExclude` a query never
    * ranks its own vec_id.
    */
  def ivfFlatProbe(pre: String, queries: String, seeds: String, k: Int,
                   nps: Seq[Int], npClamp: Option[String],
                   selfExclude: Boolean): String = {
    val exclude = if (selfExclude) " AND p.query_id != a.vec_id" else ""
    s"""${ivfProbes(pre, queries, seeds, nps.max.toString)},
       |${sweepSettings(pre, Seq("np"), nps.map(Seq(_)), npClamp)},
       |${pre}cand AS (
       |  SELECT st.np, p.query_id, a.vec_id AS neighbor_id,
       |    round(${cosine("p.qv", "a.v", 64)}, 6) AS cosine
       |  FROM ${pre}st st JOIN ${pre}probes p ON p.prnk <= st.np
       |  JOIN ${pre}assign a ON a.cell_id = p.cell_id$exclude),
       |${pre}ann AS (
       |  SELECT * FROM (
       |    SELECT np, query_id, neighbor_id, cosine,
       |      row_number() OVER (PARTITION BY np, query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM ${pre}cand) WHERE rank <= $k)""".stripMargin
  }

  /** The flat-IVF recall sweep (FrozenCellIndex's sweep for the flat
    * store): [[ivfFlatProbe]] of the [[querySample]] at each of `nps`,
    * [[recallGrid]] against `exact`, and the committed nprobe `${pre}cnp`
    * (v).
    */
  def ivfFlatSweep(pre: String, seeds: String, exact: String, k: Int,
                   floor: Double, nps: Seq[Int], npClamp: Option[String]): String =
    s"""${ivfFlatProbe(pre, querySample, seeds, k, nps, npClamp, selfExclude = true)},
       |${recallGrid(pre, Seq("np"), exact, k)},
       |${smallestClearing(s"${pre}cnp", "np", s"${pre}grid", floor)}""".stripMargin

  /** DSIR importance log-weights over `documents` with target = the
    * English sub-corpus (graft.operators.Sampling.dsirLogWeights):
    * hashed unigram+bigram features folded into `buckets` via
    * [[sampleBucket]], +0.5-smoothed target/pool multinomials, and the
    * per-document sum carried as exact integer micro-nats so aggregation
    * order can never move the rounded result. Yields
    * (doc_id, is_target, n_feats, log_weight); composes as a CTE body.
    */
  def dsirWeights(buckets: Int): String =
    s"""WITH base AS (
       |  SELECT doc_id, (lang = 'en') AS is_target, lower(text) AS t
       |  FROM documents),
       |toks AS (SELECT doc_id, is_target, ${tokens("t")} AS tk FROM base),
       |uni AS (SELECT doc_id, is_target, unnest(tk) AS term FROM toks),
       |bi AS (
       |  SELECT doc_id, is_target,
       |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS term
       |  FROM toks WHERE len(tk) >= 2),
       |feats AS (
       |  SELECT doc_id, is_target, ${sampleBucket("term", buckets)} AS f
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
       |cnt AS (SELECT doc_id, is_target, f, count(*) AS c FROM feats GROUP BY 1, 2, 3),
       |fc AS (
       |  SELECT f, sum(CASE WHEN is_target THEN c ELSE 0 END) AS tc, sum(c) AS pc
       |  FROM cnt GROUP BY 1),
       |tot AS (SELECT sum(tc) AS tct, sum(pc) AS pct FROM fc),
       |lr AS (
       |  SELECT f, CAST(round((ln((tc + 0.5) / (tct + 0.5 * $buckets))
       |    - ln((pc + 0.5) / (pct + 0.5 * $buckets))) * 1000000) AS BIGINT) AS lrq
       |  FROM fc, tot)
       |SELECT doc_id, is_target, CAST(sum(c) AS BIGINT) AS n_feats,
       |  sum(c * lrq) / 1000000.0 AS log_weight
       |FROM cnt JOIN lr USING (f) GROUP BY 1, 2""".stripMargin
}
