package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.operators.Similarity.Sizing

/** Pins the scale-aware knob derivation (r4 verdict item 7): the 10x
  * rehearsal (BASELINE.md) showed fixed LSH/IVF knobs go quadratic once the
  * corpus outgrows the key space; these rules ARE now the defaults, and this
  * spec is where their scale claim is checked:
  * exact values at landmark sizes, the 64-bit pack invariant, and an
  * empirical linearity check — candidate volume under DEFAULT parameters
  * must track corpus growth, not square it.
  */
class SizingSpec extends SparkSuite {
  import spark.implicits._

  test("lshBits follows bits ~ log2(n/perBucket) with [8,30] clamps") {
    // landmark sizes: the r4 rehearsal corpora and the 100 TB target
    assert(Sizing.lshBits(5000) == 9)          // sf0.1-ish corpus
    assert(Sizing.lshBits(50000) == 12)        // 10x rehearsal (hand-tuned r4 value was 11)
    assert(Sizing.lshBits(1000000000L) == 26)  // ~10^9 docs
    assert(Sizing.lshBits(100) == 8, "small corpora clamp at 8 bits")
    assert(Sizing.lshBits(Long.MaxValue) == 30, "PolyHash is 31-bit: cap at 30")
    // monotone non-decreasing in n
    val sizes = Seq(1L, 1000L, 10000L, 100000L, 10000000L, 1000000000L)
    sizes.zip(sizes.tail).foreach { case (a, b) =>
      assert(Sizing.lshBits(a) <= Sizing.lshBits(b))
    }
  }

  test("simhashBits sizes the CHUNK keys, not the raw hash") {
    // (maxHamming+1) chunks, each lshBits wide: the collision unit is the
    // chunk, so total width is 3x the bucket rule at hamming<=2
    assert(Sizing.simhashBits(5000) == 27)   // 3 * 9
    assert(Sizing.simhashBits(50000) == 30)  // 3 * 12 capped by 31-bit PolyHash
    assert(Sizing.simhashBits(100) == 24, "floor: 3 * 8-bit chunks")
    assert(Sizing.simhashBits(10) == 24)
    assert(Sizing.simhashBits(5000, maxHamming = 0) == 16,
      "exact-match chunks still keep a meaningful 16-bit hash floor")
  }

  test("lshTables keeps the packed fingerprint in one 64-bit word") {
    assert(Sizing.lshTables(8) == 8)
    assert(Sizing.lshTables(12) == 5)
    assert(Sizing.lshTables(30) == 2)
    (8 to 30).foreach { bits =>
      val t = Sizing.lshTables(bits)
      assert(t >= 1 && t * bits <= 64, s"bits=$bits tables=$t breaks the pack")
    }
  }

  test("ivfNlist keeps cell population ~cellBudget with driver-safe clamps") {
    assert(Sizing.ivfNlist(5000) == 19)
    assert(Sizing.ivfNlist(100) == 2, "tiny corpora clamp at 2 cells")
    assert(Sizing.ivfNlist(1000000000L) == 4096, "seed set stays O(metadata)")
    // population per cell stays within ~2x of the budget where unclamped
    Seq(100000L, 1000000L).foreach { n =>
      val pop = n.toDouble / Sizing.ivfNlist(n)
      assert(pop >= 128 && pop <= 512, s"n=$n: cell population $pop off budget")
    }
  }

  test("default-parameter candidates grow ~linearly on a 10x corpus") {
    // seeded random vectors: the worst case for LSH (no cluster structure,
    // collisions are pure key-space load). Auto sizing must keep the
    // candidate ratio near the corpus ratio; the fixed 8-bit family's
    // occupancy math predicts ~100x here (the r4 rehearsal measured 101x
    // on real embeddings).
    // driver-generated PRNG vectors (a sin(i*K+d) formula first tried here
    // produced vectors with genuine pairwise structure — 30% of ALL pairs
    // were real near-dup collisions, so the quadratic output was correct;
    // linearity claims need actually-decorrelated data)
    def corpus(n: Int): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(n)
      (0L until n).map(i =>
          (i, Array.fill(Similarity.Dim)(rnd.nextFloat() * 2f - 1f)))
        .toDF("vec_id", "embedding").repartition(8).cache()
    }
    val small = corpus(2000)
    val big = corpus(20000)
    val candSmall = Similarity.hyperplaneCandidatesAuto(small).count()
    val candBig = Similarity.hyperplaneCandidatesAuto(big).count()
    assert(candSmall > 0, "sanity: some collisions must exist")
    val ratio = candBig.toDouble / candSmall
    assert(ratio < 20.0,
      s"10x corpus must not blow up candidates: $candSmall -> $candBig (${ratio}x)")
    small.unpersist(); big.unpersist()
  }

  test("simhashPairsAuto and ivfTopKAuto derive their knobs and stay correct") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words live in this row here"))
      .toDF("doc_id", "text")
    // near-identical docs 1/2 must still pair under derived bits
    val pairs = Dedup.simhashPairsAuto(docs).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      s"near-dup pair lost under auto sizing: ${pairs.mkString(",")}")

    val emb = (0L until 600L).map { i =>
      (i, Array.tabulate(Similarity.Dim)(d =>
        math.sin(i * 131071.0 + d * 524287.0).toFloat))
    }.toDF("vec_id", "embedding")
    val auto = Similarity.ivfTopKAuto(emb, emb.filter(col("vec_id") < 2), 3)
      .select("query_id", "neighbor_id", "rank").collect()
    assert(auto.length == 6, s"2 queries x top-3 expected, got ${auto.length}")
  }
}
