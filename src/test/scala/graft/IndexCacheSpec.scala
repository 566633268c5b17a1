package graft

class IndexCacheSpec extends SparkSuite {

  test("getOrBuild builds once per (session, key) and returns the same handle") {
    var builds = 0
    val key = "spec-k1-" + System.nanoTime()
    val a = IndexCache.getOrBuild(spark, key) { builds += 1; new Object }
    val b = IndexCache.getOrBuild(spark, key) { builds += 1; new Object }
    assert(a eq b)
    assert(builds == 1)
    IndexCache.getOrBuild(spark, key + "-other") { builds += 1; new Object }
    assert(builds == 2)
    assert(IndexCache.sizeFor(spark) >= 2)
  }

  test("getOrBuildVersioned rebuilds when the data dir's contents change") {
    val dir = TempDirs.create("graft-ic-ver")
    val f = new java.io.File(dir, "part-0.parquet")
    java.nio.file.Files.writeString(f.toPath, "aaaa")
    var builds = 0
    val key = "spec-ver-" + System.nanoTime()
    val a = IndexCache.getOrBuildVersioned(spark, key, dir) { builds += 1; new Object }
    val b = IndexCache.getOrBuildVersioned(spark, key, dir) { builds += 1; new Object }
    assert(a eq b)
    assert(builds == 1)
    // append-style mutation: same path, different length — must rebuild
    // (length participates in the fingerprint, so mtime granularity
    // cannot hide the change)
    java.nio.file.Files.writeString(f.toPath, "aaaabbbb")
    val c = IndexCache.getOrBuildVersioned(spark, key, dir) { builds += 1; new Object }
    assert(!(c eq a))
    assert(builds == 2)
    // a new file under the dir is likewise a new version
    java.nio.file.Files.writeString(
      new java.io.File(dir, "part-1.parquet").toPath, "cc")
    IndexCache.getOrBuildVersioned(spark, key, dir) { builds += 1; new Object }
    assert(builds == 3)
  }

  test("same-length in-place overwrite within mtime granularity still rebuilds") {
    // the r11 advice hole: (path, length, mtime) alone fingerprints an
    // in-place rewrite that preserves length and lands within the
    // filesystem's mtime granularity as IDENTICAL. Pin length and mtime
    // explicitly so only the content differs — the tail hash must catch it.
    val dir = TempDirs.create("graft-ic-tail")
    val f = new java.io.File(dir, "part-0.parquet")
    java.nio.file.Files.writeString(f.toPath, "aaaa")
    val mtime = java.nio.file.Files.getLastModifiedTime(f.toPath)
    var builds = 0
    val key = "spec-tail-" + System.nanoTime()
    IndexCache.getOrBuildVersioned(spark, key, dir) { builds += 1; new Object }
    java.nio.file.Files.writeString(f.toPath, "bbbb") // same length
    java.nio.file.Files.setLastModifiedTime(f.toPath, mtime) // same mtime
    IndexCache.getOrBuildVersioned(spark, key, dir) { builds += 1; new Object }
    assert(builds == 2)
  }

  test("replayed sweepAndAppend with a batch id does not grow the index") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"),
      (3L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    val delta = Seq((10L, "a b c d e f g h")).toDF("doc_id", "text")
    val idx = new graft.sources.LshBandIndex(
      spark, TempDirs.create("graft-ic-spec"), n = 2, k = 8, bands = 4)
    idx.bootstrap(docs)
    val gen0 = idx.committedGen
    var first: Set[(Long, Long)] = Set.empty
    idx.sweepAndAppend(docs.unionByName(delta), delta, threshold = 0.5,
      batchId = Some(0L)) { p =>
      first = p.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    }
    val gen1 = idx.committedGen
    assert(gen1 == gen0 + 1)
    // replay: same batch id -> sweep + sink run again, append is a no-op,
    // and the pair set is unchanged (the appended delta bands only add
    // pairs the delta-side probe already produced, minus self-pairs)
    var second: Set[(Long, Long)] = Set.empty
    idx.sweepAndAppend(docs.unionByName(delta), delta, threshold = 0.5,
      batchId = Some(0L)) { p =>
      second = p.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    }
    assert(idx.committedGen == gen1)
    assert(second == first)
    assert(first.nonEmpty) // delta near-dups doc 1
  }

  test("persistent fixtures: marker commits the build, a crashed partial is wiped, a committed root is reopened") {
    // the cross-session fixture root (r15 verdict #6): fleet_report's
    // read-only stores survive session restarts under target/, but ONLY
    // a _FIXTURE_DONE-marked root may be reopened — a build that crashed
    // after some ledger commits is a multi-commit SCRIPT's intermediate
    // state, not the declared fixture, and must be wiped and rebuilt
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val ver = IndexCache.dataVersion(spark, sf)
    // roots carry the build-RECIPE version next to the data fingerprint
    // (r16 ADVICE): a recipe change must re-key the on-disk fixture, or
    // the new code silently reopens the previous commit's build
    def root(name: String) = new java.io.File(
      s"target/graft-fixtures/$name-v${SparkEntry.FixtureRecipeVersion}-$ver")
    try {
      // fresh build: marker written only after the builder completes
      var builds = 0
      val a = SparkEntry.persistentFixtureDir(spark, s"spec-fix-a-$uid", sf) {
        p => builds += 1; java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "payload"), "v1")
      }
      assert(builds === 1 && new java.io.File(a, "_FIXTURE_DONE").exists())
      // same session: the resolved path is memoized — no second build
      SparkEntry.persistentFixtureDir(spark, s"spec-fix-a-$uid", sf)(_ =>
        builds += 1)
      assert(builds === 1)

      // crashed partial (dir exists, NO marker, stale sentinel): the
      // builder must run and the sentinel must be gone afterwards
      val b = root(s"spec-fix-b-$uid")
      b.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(b.getPath, "stale"), "junk")
      val bp = SparkEntry.persistentFixtureDir(spark, s"spec-fix-b-$uid", sf) {
        p => java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "payload"), "v1")
      }
      assert(!new java.io.File(bp, "stale").exists(),
        "a marker-less partial build must be wiped, never reopened")
      assert(new java.io.File(bp, "payload").exists())

      // committed root (marker present): reopened as-is, builder not run
      val c = root(s"spec-fix-c-$uid")
      c.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(c.getPath, "payload"), "committed")
      new java.io.File(c, "_FIXTURE_DONE").createNewFile()
      val cp = SparkEntry.persistentFixtureDir(spark, s"spec-fix-c-$uid", sf)(
        _ => fail("a committed fixture root must be reopened, not rebuilt"))
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(cp, "payload")) === "committed")

      // staging commit (r16 ADVICE): the build runs in a process-unique
      // staging dir that atomically renames into the final root, so no
      // concurrent observer can ever see a marked-but-partial root; no
      // staging residue survives a successful commit
      val stray = Option(root(s"spec-fix-a-$uid").getParentFile.listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"spec-fix-a-$uid"))
        .filter(_.getName.contains(".build-"))
      assert(stray.isEmpty, s"staging residue: ${stray.mkString(",")}")
    } finally Seq("a", "b", "c").foreach { n =>
      val d = root(s"spec-fix-$n-$uid")
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
  }
}
