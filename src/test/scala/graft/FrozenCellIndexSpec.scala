package graft

import org.apache.spark.sql.functions._

import graft.sources.{IvfIndex, IvfPqIndex}

/** The operating-point range check of the frozen-cell stores: a point is
  * checked against the seeds bootstrap actually froze, not against
  * `nlist`, so a point the store could never serve is refused at commit.
  */
class FrozenCellIndexSpec extends SparkSuite {

  // fewer bootstrap vectors than nlist: bootstrap freezes 10 seeds, not 16
  private def ten = Tables.embeddings(spark, sf).orderBy(col("vec_id")).limit(10)

  test("an nlist=16 store bootstrapped on 10 vectors refuses a point past its 10 seeds") {
    val ivf = new IvfIndex(spark, TempDirs.create("op-range-ivf"), nlist = 16)
    ivf.bootstrap(ten)
    val err = intercept[IllegalArgumentException] { ivf.commitOperatingPoint(12, 0.9) }
    assert(err.getMessage.contains("froze 10 seeds"))
    assert(ivf.operatingPoint.isEmpty)
    ivf.commitOperatingPoint(10, 0.9)
    assert(ivf.operatingPoint === Some(10))
    assert(ivf.topK(ten, ten, 3).count() > 0)

    val ivfpq = new IvfPqIndex(spark, TempDirs.create("op-range-ivfpq"), nlist = 16, codes = 4)
    ivfpq.bootstrap(ten)
    intercept[IllegalArgumentException] { ivfpq.commitOperatingPoint(12, 5, 0.9) }
    assert(ivfpq.operatingPoint.isEmpty)
  }
}
