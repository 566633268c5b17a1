package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract: one registry of [[QueryDef]]s, each query declared
  * once, next to its DuckDB oracle, in the file of its family under
  * `graft.queries`. [[queries]] and [[oracleSql]] are the registry's two
  * name-keyed views that Bench, Verify, Explain and StageProfile read.
  *
  * Every oracle uses IDENTICAL column aliases and a deterministic ORDER BY
  * on both sides. Float aggregates are round(x, 2) on both sides (Spark
  * and DuckDB disagree in low bits on double-sum order).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Version token of the fixture BUILD RECIPE itself — bump whenever any
    * persistent fixture's build script changes (the %50 history split,
    * the sweep grids, the per-source append loop). Folded into the
    * on-disk root name next to the data fingerprint (r16 ADVICE): a
    * recipe change must re-key the fixture, or the new code silently
    * reopens the previous commit's on-disk build and engine output
    * diverges from the updated oracle until target/ is wiped by hand —
    * StoreParams only catches constructor-param drift like nlist.
    */
  private[graft] val FixtureRecipeVersion = 1

  /** CROSS-SESSION persisted fixture root (r15 verdict #6): the fleet
    * queries read PRE-EXISTING read-only stores — production's cost
    * shape, where an index is built once EVER and every later session
    * only opens it — so a fresh session's cold run measures the ledger
    * walk, not a one-time fixture build (r15 measured `fleet_report`
    * cold at 11-37 s of pure fixture construction vs a 0.35 s warm
    * walk). Keyed by the table dir's content fingerprint
    * ([[IndexCache.dataVersion]]), so mutated testdata can never serve a
    * stale fixture; committed by a `_FIXTURE_DONE` marker written only
    * after the whole build — a crashed partial build has no marker and
    * is wiped and rebuilt, never reopened (the stores' own ledgers are
    * crash-safe per commit, but a fixture is a multi-commit SCRIPT whose
    * intermediate states are not the declared fixture). Lives under the
    * repo's gitignored `target/`; within a session the resolved path is
    * additionally memoized through [[IndexCache]] so repeated calls skip
    * even the marker stat. ONLY read-only fixtures may use this — a
    * store a query mutates must stay query-private in a fresh scratch
    * root per execution (the r15 `ivfpq_maintain` lesson).
    */
  private[graft] def persistentFixtureDir(s: SparkSession, name: String,
                                          dataDir: String)(build: String => Unit): String =
    // memoized through the VERSIONED lookup (r16 ADVICE): the key
    // re-fingerprints dataDir on every call, so a mid-session testdata
    // mutation recomputes the fingerprint and rebuilds instead of
    // serving the path memoized against the old contents
    IndexCache.getOrBuildVersioned(s,
      s"fleetfix|$name|v$FixtureRecipeVersion|$dataDir", dataDir) {
      val root = new java.io.File(
        s"target/graft-fixtures/$name-v$FixtureRecipeVersion-" +
          IndexCache.dataVersion(s, dataDir))
      val done = new java.io.File(root, "_FIXTURE_DONE")
      if (!done.exists()) {
        val p = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (root.exists()) fs.delete(p, true) // wipe a crashed partial build
        // cross-process exclusion (r16 ADVICE): two concurrent JVMs that
        // both see a missing marker each build a COMPLETE copy in a
        // process-unique staging root, and exactly one atomic rename
        // commits — the loser discards its staging dir and reopens the
        // winner's build; no interleaved partial state can ever carry a
        // marker. The marker is written (checked: Files.createFile
        // throws on failure — r16 ADVICE, a silently-missing marker made
        // two sessions disagree about whether the fixture exists) BEFORE
        // the rename, so a root without one is always a crashed legacy
        // build, never a committed one.
        val staging = new java.io.File(root.getParentFile,
          s"${root.getName}.build-${java.util.UUID.randomUUID()}")
        val sp = new org.apache.hadoop.fs.Path(staging.getAbsolutePath)
        fs.mkdirs(sp)
        try {
          build(staging.getAbsolutePath)
          java.nio.file.Files.createFile(staging.toPath.resolve("_FIXTURE_DONE"))
          try java.nio.file.Files.move(staging.toPath, root.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            // a racing process committed first: its complete build serves,
            // ours is discarded
            case _: java.nio.file.FileAlreadyExistsException |
                _: java.nio.file.DirectoryNotEmptyException |
                _: java.nio.file.AccessDeniedException =>
              fs.delete(sp, true)
          }
        } catch {
          case t: Throwable => fs.delete(sp, true); throw t
        }
      }
      root.getAbsolutePath
    }

  /** Every declared query, family by family. Names are distinct and every
    * oracle is non-empty: a copy-pasted duplicate fails here instead of
    * silently replacing its twin the way a `Map` literal would.
    */
  lazy val registry: Seq[QueryDef] = {
    val defs = StarQueries.defs ++ DedupQueries.defs ++ VectorQueries.defs ++
      IvfQueries.defs ++ SearchQueries.defs ++ CorpusQueries.defs ++
      StreamQueries.defs ++ FleetQueries.defs ++ LayoutQueries.defs ++
      RelationalQueries.defs
    val twice = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty, s"query declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    val blank = defs.filter(_.oracle.trim.isEmpty).map(_.name)
    require(blank.isEmpty, s"query with an empty oracle: ${blank.mkString(", ")}")
    defs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> d.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(d => d.name -> d.oracle).toMap

  /** The query-name filter every main takes (`SPARK_GRAFT_ONLY`):
    * comma-separated names, blank = no filter. A name no query declares
    * fails fast, named, instead of quietly selecting nothing.
    */
  def queryFilter(spec: String): Option[Set[String]] =
    Option(spec).filter(_.trim.nonEmpty).map { raw =>
      val names = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- queries.keySet
      require(unknown.isEmpty, s"no declared query named ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** The declared queries `only` keeps, in [[queries]]' order. */
  def selected(only: Option[Set[String]]): Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) }
}
