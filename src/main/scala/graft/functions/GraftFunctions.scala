package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic polynomial string hash over UTF-16 code units:
  * `h = fold(0)((h, c) => (h * 31 + c) mod (2^31 - 1))`.
  *
  * This is the engine's portable hash primitive for document
  * fingerprinting, shingle/MinHash and SimHash token hashing. Chosen over
  * Spark's murmur3 `hash()` because it is trivially re-expressible in any
  * ANSI-ish SQL engine (a `list_reduce` over `ord(substr(...))` in DuckDB),
  * which keeps every hash-based operator oracle-checkable. Native Catalyst
  * expression with codegen so it stays inside WholeStageCodegen on the
  * 100 TB hot path (no Scala-UDF serialization boundary).
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(newChild)
  override def prettyName: String = "poly_hash"
}

object PolyHash {
  /** 2^31 - 1 (Mersenne prime): keeps every intermediate < 2^36 so the
    * identical arithmetic is overflow-safe in 64-bit SQL engines too.
    */
  val P: Long = 2147483647L

  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31 + s.charAt(i)) % P; i += 1 }
    h
  }
}

/** Column-level API for the engine's text/hash/similarity primitives.
  * Everything here composes from codegen-friendly builtins + [[PolyHash]];
  * no Scala UDFs on any hot path.
  */
object GraftFunctions {

  /** [[PolyHash]] as a Column function; input cast to string. */
  def poly_hash(c: Column): Column =
    Bridge.column(PolyHash(Bridge.expression(c.cast(StringType))))

  /** [[TopKImperative]] as an aggregate Column: exact mergeable top-k
    * (value desc, id asc) with k-bounded heap partial state.
    */
  def top_k(id: Column, value: Column, k: Int): Column =
    Bridge.column(TopKImperative(
      Bridge.expression(id.cast(LongType)),
      Bridge.expression(value.cast(DoubleType)), k).toAggregateExpression())

  /** Misra-Gries heavy hitters: <= k counters of bounded-state partial
    * aggregation; exact when the item cardinality is <= k, otherwise
    * every item with frequency > n/(k+1) survives with its count
    * underestimated by at most n/(k+1) (see [[HeavyHittersAgg]]).
    */
  def heavy_hitters(item: Column, k: Int): Column =
    Bridge.column(HeavyHittersAgg(
      Bridge.expression(item.cast(StringType)), k).toAggregateExpression())

  /** Whitespace tokens, empties dropped (mirrors DuckDB
    * `list_filter(string_split_regex(s, '\s+'), t -> t != '')`).
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  /** Fused per-document text-statistics struct ([[TextStatsExpr]]): all
    * counts in one scan instead of ~8 interpreted HOF passes. The second
    * child is Spark's own `lower`, so case mapping matches the composed
    * columns exactly.
    */
  def textStats(c: Column): Column =
    Bridge.column(TextStatsExpr(Bridge.expression(c.cast(StringType)),
      Bridge.expression(lower(c.cast(StringType)))))

  /** Phrase-adjacency / proximity count over two sorted int position
    * lists ([[AdjacencyCountExpr]]): |{p in a : some q in b with
    * p < q <= p + maxGap}| as one codegen'd two-pointer merge; maxGap = 1
    * is exact adjacency. Composed cross-check below.
    */
  def adjacencyCount(a: Column, b: Column, maxGap: Int = 1): Column =
    Bridge.column(AdjacencyCountExpr(Bridge.expression(a), Bridge.expression(b), maxGap))

  /** Space-joined word n-grams over whitespace tokens (the sparse-vector
    * term space of [[graft.operators.Similarity.sparseTopK]]). Codegen'd
    * ([[TokenNgramsExpr]]); composed cross-check below.
    */
  def tokenNgrams(c: Column, n: Int): Column =
    Bridge.column(TokenNgramsExpr(Bridge.expression(c.cast(StringType)), n))

  def tokenNgramsComposed(c: Column, n: Int): Column = {
    val t = tokens(c)
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct character n-gram shingles of `n` code units. Guarded so a
    * too-short string yields an empty set (Spark `sequence(1, 0)` would
    * descend, not return empty).
    */
  def shingles(c: Column, n: Int): Column = {
    val len = length(c)
    array_distinct(
      when(len >= n,
        transform(sequence(lit(1), len - (n - 1)), i => c.substr(i, lit(n))))
      .otherwise(array().cast("array<string>")))
  }

  /** Distinct hashed character shingles — the MinHash/Jaccard input set.
    * Codegen'd ([[ShingleHashesExpr]]); [[shingleHashesComposed]] is the
    * equivalent composed-column formulation, kept as the spec cross-check.
    */
  def shingleHashes(c: Column, n: Int): Column =
    Bridge.column(ShingleHashesExpr(Bridge.expression(c.cast(StringType)), n))

  def shingleHashesComposed(c: Column, n: Int): Column =
    array_distinct(transform(shingles(c, n), g => poly_hash(g)))

  /** Codegen'd probe of a pre-built Bloom sketch over a LONG column —
    * no false negatives, so it is a safe prefilter before an exact
    * verify join ([[BloomMightContainExpr]]).
    */
  def bloom_might_contain(c: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    Bridge.column(BloomMightContainExpr(Bridge.expression(c), bloom))

  /** MinHash signature of a hashed-shingle set under `k` universal hash
    * functions `h_i(x) = (a_i * x + b_i) mod P`. Deterministic seeds so the
    * oracle can replay the exact arithmetic. Codegen'd
    * ([[MinHashSignatureExpr]]); composed cross-check below.
    */
  def minhashSignature(hashes: Column, k: Int): Column =
    Bridge.column(MinHashSignatureExpr(Bridge.expression(hashes), k))

  def minhashSignatureComposed(hashes: Column, k: Int): Column = {
    val funcs = minhashCoefficients(k)
    array(funcs.map { case (a, b) =>
      array_min(transform(hashes, h => (h * a + b) % PolyHash.P))
    }: _*)
  }

  /** [[PolyHash]] of each whitespace token (order kept, dupes kept). */
  def tokenHashes(c: Column): Column =
    Bridge.column(TokenHashesExpr(Bridge.expression(c.cast(StringType))))

  /** One BPE merge round over a token array ([[BpeMergePairExpr]]): every
    * leftmost non-overlapping adjacent `(a, b)` becomes the space-joined
    * merged token. O(n) codegen'd scan — the map-only rewrite step of
    * [[graft.operators.TextAnalysis.bpeMergeRounds]].
    */
  def bpeMergePair(toks: Column, a: String, b: String): Column =
    Bridge.column(BpeMergePairExpr(Bridge.expression(toks), a, b))

  /** Rolling hash of every `spanLen`-token window of a token-hash array
    * ([[SpanHashesExpr]]): one codegen'd O(n) pass; composed O(n*L)
    * cross-check below.
    */
  def spanHashes(th: Column, spanLen: Int): Column =
    Bridge.column(SpanHashesExpr(Bridge.expression(th), spanLen))

  def spanHashesComposed(th: Column, spanLen: Int): Column =
    when(size(th) >= spanLen,
      transform(sequence(lit(1), size(th) - (spanLen - 1)),
        i => aggregate(slice(th, i, lit(spanLen)), lit(0L),
          (acc, h) => (acc * 31 + h) % PolyHash.P)))
      .otherwise(array().cast(ArrayType(LongType, containsNull = false)))

  /** SimHash of a text column: [[TokenHashesExpr]] -> [[SimHashExpr]] in
    * one codegen'd pipeline.
    */
  def simhashOf(text: Column, bits: Int): Column =
    Bridge.column(SimHashExpr(TokenHashesExpr(
      Bridge.expression(text.cast(StringType))), bits))

  /** Deterministic (a_i, b_i) pairs for [[minhashSignature]], derived from
    * a fixed LCG so both engines can enumerate them. a_i in [1, P),
    * b_i in [0, P).
    */
  def minhashCoefficients(k: Int): Seq[(Long, Long)] = {
    var state = 42L
    def next(): Long = { state = (state * 1103515245L + 12345L) % PolyHash.P; state }
    (0 until k).map(_ => (math.abs(next()) % (PolyHash.P - 1) + 1, math.abs(next())))
  }

  /** SimHash of a token-hash array using the low `bits` bits of each hash:
    * bit b of the result is 1 iff sum over tokens of (2*((h>>b)&1) - 1) > 0.
    */
  def simhash(tokenHashes: Column, bits: Int): Column = {
    val perBit = (0 until bits).map { b =>
      val vote = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    perBit.reduce(_ + _).cast(LongType)
  }

  /** Hamming distance between two simhash values (popcount of xor). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast(IntegerType)

  /** Dot product of two float-array columns in double precision. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast(DoubleType) * v.cast(DoubleType)))

  /** Codegen'd dot product ([[DotProduct]]) — same fold order as the HOF
    * version and [[CosineSimilarity]]'s internal accumulators.
    */
  def dot_fast(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd L2 norm: sqrt of the codegen'd self-dot. */
  def l2_fast(a: Column): Column = sqrt(dot_fast(a, a))

  /** Cosine similarity of two float-array columns (NaN-free: 0 when either
    * norm is 0). Native codegen'd expression ([[CosineSimilarity]]); the
    * composed-HOF equivalent `dotProduct(a,b) / (l2Norm(a)*l2Norm(b))`
    * produces identical doubles but runs interpreted.
    */
  def cosineSimilarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** All `tables` hyperplane-LSH bucket keys of a float-array embedding in
    * one codegen'd pass (element t = bucket in hash table t).
    */
  def hyperplaneBucketKeys(emb: Column, tables: Int, bits: Int): Column =
    Bridge.column(HyperplaneBuckets(Bridge.expression(emb), tables, bits))

  /** JL sign random projection to `outDims` doubles, codegen'd
    * ([[RandomProjection]]; planes `0..outDims-1` of the shared
    * deterministic ±1 family).
    */
  def randomProjection(emb: Column, outDims: Int): Column =
    Bridge.column(RandomProjection(Bridge.expression(emb), outDims))
}
