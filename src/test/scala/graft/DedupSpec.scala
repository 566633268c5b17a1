package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Dedup operators over a small corpus with planted exact and near dups. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),      // near dup of 1
    (4L, "completely different content with zero overlap xyz"),
    (5L, "qq ww ee rr tt yy uu ii oo pp")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min doc_id and counts group size") {
    val got = Dedup.exact(docs).orderBy("keep_id")
      .as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("incremental exact dedup: history fingerprints block re-ingests, delta self-dedupes") {
    val history = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val hfp = history.select(
      graft.functions.GraftFunctions.poly_hash(col("text")).as("fingerprint")).distinct()
    val delta = Seq(
      (10L, "alpha text"),  // re-ingest of history doc 1 -> dropped
      (11L, "gamma text"),  // new
      (12L, "gamma text"),  // intra-delta duplicate -> folded into 11
      (13L, "delta text")   // new
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(hfp, delta)
      .select("keep_id", "n_dupes").orderBy("keep_id")
      .as[(Long, Long)].collect()
    assert(got.toSeq == Seq((11L, 2L), (13L, 1L)))
    // history side joins on the 8-byte fingerprint only, via anti-join
    val plan = Dedup.incrementalExact(hfp, delta).queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
  }

  test("chunk dedup: global first occurrence wins across and within docs; ragged tails and empty docs handled") {
    val corpus = Seq(
      (1L, "a b c d e f"),   // owns "a b c" and "d e f"
      (2L, "a b c x y z"),   // loses "a b c" to doc 1, keeps "x y z"
      (3L, "d e f"),         // loses its only chunk to doc 1
      (4L, "a b c d e f"),   // exact dup of 1 -> keeps nothing
      (5L, "p q"),           // ragged single partial chunk, globally unique
      (6L, "m m m m m m"),   // intra-doc repeat: second instance dropped
      (7L, "")               // zero tokens -> zero chunks, frac 0.0
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(corpus, 3).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5), (3L, 1L, 0L, 0.0),
      (4L, 2L, 0L, 0.0), (5L, 1L, 1L, 1.0), (6L, 2L, 1L, 0.5),
      (7L, 0L, 0L, 0.0)))
    // the winner is an aggregation (partial min(struct) before the
    // exchange), never a row_number window over every chunk instance
    val plan = Dedup.chunkDedup(corpus, 3).queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, plan.toString)
  }

  test("chunk dedup agrees with an in-memory reference on a high-collision randomized corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpus = (1L to 60L).map { id =>
      val n = rnd.nextInt(20)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val W = 3
    def chunksOf(t: String): Vector[String] =
      t.split("\\s+").filter(_.nonEmpty).grouped(W).map(_.mkString(" ")).toVector
    val inst = corpus.flatMap { case (id, t) =>
      chunksOf(t).zipWithIndex.map { case (c, i) => (c, id, i.toLong) } }
    val owner = inst.groupBy(_._1).map { case (c, xs) =>
      c -> xs.map(x => (x._2, x._3)).min }
    val keptRef = inst.groupBy(_._2).view
      .mapValues(xs => xs.count(x => owner(x._1) == (x._2, x._3)).toLong).toMap
    val totRef = corpus.map { case (id, t) => id -> chunksOf(t).size.toLong }.toMap
    val got = Dedup.chunkDedup(corpus.toDF("doc_id", "text"), W)
      .select("doc_id", "total_chunks", "kept_chunks")
      .as[(Long, Long, Long)].collect()
    assert(got.length == corpus.length)
    got.foreach { case (id, tot, kept) =>
      assert(tot == totRef(id), s"doc $id total")
      assert(kept == keptRef.getOrElse(id, 0L), s"doc $id kept")
    }
    // global invariant: every distinct chunk is kept exactly once
    assert(got.map(_._3).sum == inst.map(_._1).distinct.size)
  }

  test("keepBestPerCluster: highest quality wins, ties to smallest id, one aggregation without window") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // cluster 1
      (10L, 10L), (11L, 10L)          // cluster 10
    ).toDF("doc_id", "cluster_id")
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L),   // 2 and 3 tie on quality -> keep 2
      (10L, 7L), (11L, 4L)
    ).toDF("doc_id", "n_chars")
    val got = Dedup.keepBestPerCluster(clusters, docs, col("n_chars"))
      .orderBy("cluster_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 9L, 3L), (10L, 10L, 7L, 2L)))
    val plan = Dedup.keepBestPerCluster(clusters, docs, col("n_chars"))
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "winner must be a partial-aggregating argmax, not a window")
  }

  test("ngram jaccard finds the exact pair at 1.0 and the near pair above 0.5") {
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("stop-shingle pruned jaccard: subset of exact with identical values; equal when maxDf is loose") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val pruned = Dedup.ngramJaccardPairsPruned(docs, 3, 0.5, maxDf = 2)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    pruned.foreach { case (k, j) => assert(exact(k) == j) }
    val loose = Dedup.ngramJaccardPairsPruned(docs, 3, 0.5, maxDf = 1000)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(loose == exact)
  }

  test("containment: a quoted substring scores 1.0 toward its host while jaccard stays low") {
    val host = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val quote = "delta epsilon zeta eta theta" // verbatim substring of host
    val corpus = Seq((1L, host), (2L, quote),
      (3L, "unrelated words entirely disjoint from everything here"))
      .toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(corpus, n = 3, threshold = 0.5, maxDf = 100)
      .as[(Long, Long, Double)].collect().map { case (s, d, c) => (s, d) -> c }.toMap
    assert(rows((2L, 1L)) == 1.0, "the quote is fully contained in its host")
    assert(!rows.contains((1L, 2L)), "the host is NOT mostly contained in the quote")
    assert(!rows.keys.exists { case (s, d) => s == 3L || d == 3L })
    // the symmetric jaccard on the same pair stays under the near-dup gate
    val jac = Dedup.ngramJaccardPairs(corpus, 3, 0.0)
      .as[(Long, Long, Double)].collect()
      .collectFirst { case (1L, 2L, j) => j }.get
    assert(jac < 0.5, s"jaccard $jac should hide the quote (union-sized denominator)")
  }

  test("minhash LSH candidates contain exact dups; verified jaccard matches brute force") {
    val lsh = Dedup.minhashLshPairs(docs, n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val brute = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(lsh.contains((1L, 2L))) // identical docs always share every band
    // LSH output is a subset of brute force with identical jaccard values
    lsh.foreach { case (k, j) => assert(brute(k) == j) }
  }

  test("simhash: identical docs at hamming 0; all reported pairs within bound") {
    val got = Dedup.simhashPairs(docs, bits = 16, maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val asMap = got.map { case (a, b, h) => (a, b) -> h }.toMap
    assert(asMap((1L, 2L)) == 0)
    assert(got.forall(_._3 <= 3))
  }

  test("near-dup clustering: chained pairs collapse into one component") {
    import spark.implicits._
    // components: {1,2,3} via chain 1-2, 2-3; {5,6}; 9 absent (no pairs)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("near-dup clustering converges on a long chain (diameter > 1 round)") {
    import spark.implicits._
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(chain).as[(Long, Long)].collect()
    assert(got.length == 10)
    assert(got.forall(_._2 == 1L))
  }

  test("embedding pairs: brute force finds planted near-dup, bucketed path is a subset") {
    val emb = Seq(
      (1L, Seq.fill(64)(1.0f)),
      (2L, Seq.fill(64)(0.999f)),                       // near dup of 1
      (3L, (0 until 64).map(i => if (i % 2 == 0) 1.0f else -1.0f)),
      (4L, (0 until 64).map(i => i.toFloat / 64))
    ).toDF("vec_id", "embedding")
    val brute = Dedup.embeddingPairs(emb, 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute == Set((1L, 2L)))
    val bucketed = Dedup.embeddingPairs(emb, 0.99, bucketed = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(brute))
    // identical-direction vectors share every bucket, so LSH must find them
    assert(bucketed.contains((1L, 2L)))
  }

  test("bucketed embedding dedup plans no nested-loop join; brute force does") {
    val emb = Seq(
      (1L, Seq.fill(64)(1.0f)),
      (2L, Seq.fill(64)(0.5f))
    ).toDF("vec_id", "embedding")
    // the declared-query path: candidates come from an equi-join on
    // (table, bucket) — a hash join at any scale, never all-pairs
    val bucketedPlan = Dedup.embeddingPairs(emb, 0.3, bucketed = true)
      .queryExecution.executedPlan.toString
    assert(!bucketedPlan.contains("BroadcastNestedLoopJoin"),
      "scale path must not plan an all-pairs nested-loop join")
    // sanity: the assertion has teeth — the brute path DOES plan one
    val brutePlan = Dedup.embeddingPairs(emb, 0.3)
      .queryExecution.executedPlan.toString
    assert(brutePlan.contains("BroadcastNestedLoopJoin"))
  }

  test("semantic pairs: subset of brute force with identical cosines; co-clustered planted dup found") {
    // 10 vectors in two well-separated directions plus one orthogonal-ish
    // outlier, so 2-means puts the planted near-dups in one cluster
    val emb = ((1 to 4).map(i => (i.toLong, Seq.fill(64)(1.0f - i * 0.001f))) ++
      (5 to 8).map(i => (i.toLong, (0 until 64).map(d => if (d % 2 == 0) 1.0f else -1.0f + i * 0.001f))) :+
      (9L, (0 until 64).map(_.toFloat / 64))
    ).toDF("vec_id", "embedding")
    val sem = Dedup.semanticPairs(emb, 0.99, k = 2, iters = 2)
      .as[(Long, Long, Double)].collect().toSet
    val brute = Dedup.embeddingPairs(emb, 0.99)
      .as[(Long, Long, Double)].collect().toSet
    // precision is exact (same cosine kernel, same rounding): sem <= brute,
    // and the only misses are cross-cluster pairs
    assert(sem.subsetOf(brute))
    assert(sem.exists { case (a, b, _) => a == 1L && b == 2L })
    val cluster = graft.operators.KMeans.assign(emb, 2, 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val missed = brute -- sem
    assert(missed.forall { case (a, b, _) => cluster(a) != cluster(b) },
      s"a within-cluster pair was missed: $missed")
  }

  test("semantic pairs plan: no nested-loop join — the pair join is an equi-join on cluster") {
    val emb = Seq(
      (1L, Seq.fill(64)(1.0f)),
      (2L, Seq.fill(64)(0.5f)),
      (3L, (0 until 64).map(_.toFloat / 64))
    ).toDF("vec_id", "embedding")
    val plan = Dedup.semanticPairs(emb, 0.3, k = 2, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "cluster prefilter must make the pair join an equi-join")
  }

  test("duplicated span coverage: cross-doc runs found and merged; within-doc repeats ignored") {
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 x1 x2 x3 x4 x5 x6 x7 x8 b1 b2"), // shared 8-run mid-doc
      (2L, "c1 c2 x1 x2 x3 x4 x5 x6 x7 x8 d1"),
      (3L, "e1 e2 e3 e4 e5 e6 e7 e8 e9"), // unique -> absent
      (4L, "f1 f2 f3 f4 f5 f6 f7 f8 f1 f2 f3 f4 f5 f6 f7 f8"), // repeats only within one doc -> absent
      (5L, "y1 y2 y3 y4 y5 y6 y7 y8 y9 z1"), // 9-run shared with doc 6:
      (6L, "w1 y1 y2 y3 y4 y5 y6 y7 y8 y9")  // two overlapping windows merge, not double-count
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanCoverage(docs, 8)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 5L, 6L))
    val m = out.map(r => r._1 -> r).toMap
    assert(m(1L)._2 == 15L && m(1L)._3 == 8L)
    assert(m(2L)._2 == 11L && m(2L)._3 == 8L)
    assert(m(2L)._4 == math.rint(8.0 / 11 * 1e6) / 1e6)
    assert(m(5L)._3 == 9L && m(6L)._3 == 9L)
  }

  test("crossOverlapPairs: contaminated train doc found, clean ones not") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains bench text
      (4L, "completely different content with zero overlap xyz")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "quick brown fox jumps")
    ).toDF("doc_id", "text")
    val got = Dedup.crossOverlapPairs(train, bench, n = 8, minShared = 5L)
      .select("train_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L)))
  }

  test("crossOverlapPairs plan: bench gram set broadcasts (train side never shuffles grams)") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val plan = Dedup.crossOverlapPairs(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), 8, 5L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"gram join must not shuffle both sides:\n$plan")
  }

  test("bloom-prefiltered decontamination is bit-identical to the exact path") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("train_id", "bench_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
    val exact = rows(Dedup.crossOverlapPairs(train, bench, 6, 3L))
    val bloom = Dedup.crossOverlapPairsBloomWith(train, bench, 6, 3L,
      Dedup.gramBloom(bench, 6))
    assert(rows(bloom) == exact)
    // the prefilter is really in the plan, upstream of the verify join
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
  }

  test("bloom prefilter discards non-candidate grams before the join") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq((1L, "the quick brown fox jumps"),
      (2L, "zzzz yyyy xxxx wwww vvvv")).toDF("doc_id", "text")
    val got = Dedup.crossOverlapPairsBloomWith(train, bench, 6, 3L,
        Dedup.gramBloom(bench, 6))
      .select("train_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L)))
  }

  test("incremental LSH sweep equals the full sweep filtered to delta-involved pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val incr = rows(Dedup.minhashLshPairsIncremental(old, delta,
      n = 3, k = 16, bands = 4, threshold = 0.5))
    val full = rows(Dedup.minhashLshPairs(docs,
      n = 3, k = 16, bands = 4, threshold = 0.5))
      .filter { case (a, b, _) => a % 5 == 0 || b % 5 == 0 }
    assert(incr == full && incr.nonEmpty)
  }

  test("incremental LSH sweep with an empty delta emits nothing") {
    val docs = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    assert(Dedup.minhashLshPairsIncremental(docs, docs.limit(0)).isEmpty)
  }
}
