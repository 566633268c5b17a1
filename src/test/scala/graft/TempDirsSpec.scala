package graft

import java.nio.file.{Files, Paths}

/** The one scratch registry: both entry points hand out a tracked dir,
  * an eager delete removes and unregisters it, and a Spark-visible dir
  * follows the deployment's `spark.graft.scratch.dir`.
  */
class TempDirsSpec extends SparkSuite {

  test("a dir from either entry point exists; delete removes and unregisters it") {
    for (dir <- Seq(TempDirs.create("tempdirs-local"),
                    TempDirs.create(spark, "tempdirs-visible"))) {
      assert(Files.isDirectory(Paths.get(dir)) && TempDirs.tracked(dir), dir)
      Files.writeString(Paths.get(dir, "part.txt"), "x")
      TempDirs.delete(dir)
      assert(!Files.exists(Paths.get(dir)), dir)
      assert(!TempDirs.tracked(dir), dir)
    }
  }

  test("a Spark-visible dir lives under spark.graft.scratch.dir when it is set") {
    val root = TempDirs.create("tempdirs-root")
    spark.conf.set("spark.graft.scratch.dir", root)
    try {
      assert(TempDirs.root(spark) === root)
      val dir = TempDirs.create(spark, "tempdirs-scoped")
      assert(dir.startsWith(root + "/") && Files.isDirectory(Paths.get(dir)))
      assert(TempDirs.tracked(dir))
    } finally spark.conf.unset("spark.graft.scratch.dir")
    assert(TempDirs.root(spark) !== root)
  }
}
