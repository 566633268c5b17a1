package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Pure contract of the shared committed-view directory math the
  * compaction race fix rests on: folds and readers must derive their
  * scan list from CAPTURED watermarks only.
  */
class GenerationsSpec extends AnyFunSuite {
  private def gen(g: Long) = s"gen-$g"
  private def base(g: Long) = s"base-$g"

  test("no base: generations 0..g") {
    assert(GenerationLedger.dirs(-1L, 2L, gen, base) ===
      Seq("gen-0", "gen-1", "gen-2"))
  }

  test("base plus strictly-later generations") {
    assert(GenerationLedger.dirs(1L, 3L, gen, base) ===
      Seq("base-1", "gen-2", "gen-3"))
  }

  test("base at the watermark: the base alone") {
    assert(GenerationLedger.dirs(3L, 3L, gen, base) === Seq("base-3"))
  }

  test("base AHEAD of a captured watermark is REFUSED, never silently read") {
    // r13 ADVICE: the old contract served the (newer) base alone, which
    // quietly returns rows BEYOND the captured as-of watermark. A base
    // ahead of g can only mean the single-writer discipline was violated
    // (a concurrent compact advanced the base between the caller's two
    // slot reads) — that must fail loudly, not degrade into future rows.
    intercept[IllegalArgumentException] { GenerationLedger.dirs(5L, 3L, gen, base) }
  }
}
