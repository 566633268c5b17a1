package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's inter-query heap drain: a pressure drain that reclaims keeps
  * firing on pressure; one that does not backs off to the 15-query
  * cadence until a reading drops below the threshold.
  */
class HeapDrainSpec extends AnyFunSuite {

  /** Runs one step, returning (drained?, backed off after). */
  private def step(i: Int, used: Double, backedOff: Boolean,
                   after: Double): (Boolean, Boolean) = {
    var drained = false
    val next = Bench.heapDrain(i, used, backedOff) { () => drained = true; after }
    (drained, next)
  }

  test("a pressure drain that reclaims below the threshold does not back off") {
    assert(step(3, used = 0.8, backedOff = false, after = 0.3) == ((true, false)))
    // the next query under pressure drains again
    assert(step(4, used = 0.7, backedOff = false, after = 0.3) == ((true, false)))
    // no pressure, off cadence: no drain
    assert(step(5, used = 0.4, backedOff = false, after = 0.3) == ((false, false)))
  }

  test("a drain that leaves the heap above the threshold falls back to the cadence") {
    assert(step(3, used = 0.8, backedOff = false, after = 0.7) == ((true, true)))
    // still above: no drain until the 15-query cadence
    (4 to 13).foreach(i => assert(step(i, 0.75, backedOff = true, after = 0.7) == ((false, true)), i))
    assert(step(14, used = 0.75, backedOff = true, after = 0.7) == ((true, true)))
  }

  test("once usage drops below the threshold, pressure drains resume") {
    assert(step(5, used = 0.5, backedOff = true, after = 0.5) == ((false, false)))
    assert(step(6, used = 0.7, backedOff = false, after = 0.4) == ((true, false)))
    // a cadence drain that reclaims clears a back-off too
    assert(step(29, used = 0.7, backedOff = true, after = 0.4) == ((true, false)))
  }
}
