package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Scale shape of the MinHash-LSH family: candidate volume must grow with
  * the corpus, not with its square. Correctness gates cannot see this (the
  * oracle replays a degenerate key family bit for bit), so it is checked on
  * a 4x corpus built from the fixture's documents by
  * [[ReplicaScalingSpec.replicate]]. The 1x/10x runs of these shapes at
  * sf0.1 are recorded in BASELINE.md.
  */
class ReplicaScalingSpec extends SparkSuite {
  import ReplicaScalingSpec._

  private def docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))

  /** Distinct pairs sharing any band bucket: the operator's candidate stage. */
  private def candidates(corpus: DataFrame): Long = {
    val b = Dedup.minhashBands(corpus, n = 3, k = 16, bands = 4)
    b.as("x").join(b.as("y"), col("x.band") === col("y.band") &&
        col("x.band_key") === col("y.band_key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
  }

  test("a Caesar-shifted copy keeps every pair's exact n-gram Jaccard") {
    val four = replicate(docs, 4)
    def pairs(c: Int): Set[(Long, Long, Double)] = {
      val lo = c * IdOffset
      Dedup.ngramJaccardPairs(
          four.filter(col("doc_id").between(lo, lo + IdOffset - 1)), 3, 0.5)
        .select(col("id_a") - lo, col("id_b") - lo, col("jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val original = pairs(0)
    assert(original.nonEmpty)
    (1 until 4).foreach(c => assert(pairs(c) == original, s"copy $c"))
  }

  test("MinHash-LSH candidates grow ~4x on a 4x corpus; verbatim replicas would not") {
    // measured on the 500-doc fixture: 19,352 at 1x, 67,075 (3.5x) on
    // shifted replicas, 312,632 (16.2x) on verbatim ones, where every 1x
    // pair comes back once per ordered pair of copies
    val one = candidates(docs)
    val shifted = candidates(replicate(docs, 4))
    val verbatim = candidates(replicate(docs, 4, shift = false))
    assert(shifted >= 2 * one && shifted <= 5 * one,
      s"4x corpus: $one -> $shifted candidates")
    assert(verbatim > 5 * one, s"the bound must reject quadratic growth: $one -> $verbatim")
  }

  test("a fixed copy-0 delta finds as many pairs against the 4x corpus as against 1x") {
    def sweep(corpus: DataFrame): Long = {
      val inDelta = col("doc_id") < IdOffset && col("doc_id") % 10 === 0
      Dedup.minhashLshPairsIncremental(corpus.filter(!inDelta), corpus.filter(inDelta))
        .count()
    }
    val one = sweep(docs)
    val four = sweep(replicate(docs, 4))
    assert(one > 0 && four >= one && four <= one * 11 / 10, s"1x $one vs 4x $four pairs")
  }
}

object ReplicaScalingSpec {
  val IdOffset = 10000000L

  /** `factor` copies of `docs`, copy c's ids offset by c·[[IdOffset]].
    *
    * With `shift`, copy c's letters are Caesar-shifted by c (case kept): a
    * bijection on characters and so on the character shingles the MinHash
    * family hashes. Pairwise Jaccard within a copy is then exactly the
    * original's, while copies share almost no shingles. A perturbation
    * must be a bijection on the operator's actual feature space: tags
    * between words turned trigram overlap into unigram overlap, and tag
    * prefixes on tokens left most character 3-grams untouched, so copies
    * stayed near-dups of each other and pair counts grew two orders past
    * linear. Without `shift` the copies are verbatim, the quadratic case.
    */
  def replicate(docs: DataFrame, factor: Int, shift: Boolean = true): DataFrame = {
    // a 27th copy would shift by 0 and duplicate copy 0 verbatim
    require(factor <= 26, s"factor $factor exceeds the 26 Caesar shifts")
    require(docs.agg(max(col("doc_id"))).head.getLong(0) < IdOffset,
      s"source ids must be < $IdOffset or replica ids alias")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    (0 until factor).map { c =>
      val text = if (!shift) col("text") else translate(col("text"), lower + upper,
        lower.drop(c) + lower.take(c) + upper.drop(c) + upper.take(c))
      docs.select((col("doc_id") + lit(c * IdOffset)).as("doc_id"), text.as("text"))
    }.reduce(_ union _)
  }
}
