package graft

import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources._

/** The generation-ledger protocol, pinned from the outside for every
  * persisted index store: which bookmark slots and top-level directories
  * a bootstrap → append → batch 7 → replayed batch 7 → compact sequence
  * leaves behind (the on-disk format persisted fixtures reopen), that a
  * replayed batch id is a no-op, and that a batch whose write fails
  * commits nothing.
  */
class GenerationLedgerSpec extends SparkSuite {
  import GenerationLedgerSpec.Case

  private def vectors = Tables.embeddings(spark, sf)
  private def docs = Tables.documents(spark, sf)
    .filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
  // three disjoint thirds: bootstrap, append, batch 7
  private def third(df: DataFrame, key: String, i: Int) = df.filter(col(key) % 3 === i)

  /** Fails the write of whatever reads `key` — the generation's Spark job
    * throws after the ledger decided to write it.
    */
  private def poison(key: String)(df: DataFrame): DataFrame = {
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("write failed"); x })
    df.withColumn(key, boom(col(key)))
  }

  private def vectorCase[S <: MaintainedStore](name: String, open: String => S,
      boot: (S, DataFrame) => Unit, app: (S, DataFrame) => Unit,
      batch: (S, DataFrame, Long) => Unit, compact: S => Unit,
      slots: Seq[String], dirs: Seq[String]): Case =
    Case(name, open,
      s => boot(s.asInstanceOf[S], third(vectors, "vec_id", 0)),
      s => app(s.asInstanceOf[S], third(vectors, "vec_id", 1)),
      (s, f, id) => batch(s.asInstanceOf[S], f(third(vectors, "vec_id", 2)), id),
      s => compact(s.asInstanceOf[S]), slots, dirs)

  private val cases = Seq(
    vectorCase[IvfIndex]("ivf", new IvfIndex(spark, _, nlist = 4),
      _.bootstrap(_), _.append(_), _.appendBatch(_, _), _.compact(),
      slots = Seq("assign::ivf_index", "base::ivf_index", "last_batch::ivf_index",
        "param.nlist::ivf_index"),
      dirs = Seq("base-2", "bookmarks.properties", "gen-0", "gen-1", "gen-2", "seeds")),
    vectorCase[PqIndex]("pq", new PqIndex(spark, _),
      _.bootstrap(_), _.append(_), _.appendBatch(_, _), _.compact(),
      slots = Seq("base::pq_index", "encode::pq_index", "last_batch::pq_index",
        "param.codes::pq_index", "param.m::pq_index"),
      dirs = Seq("base-2", "bookmarks.properties", "books", "gen-0", "gen-1", "gen-2")),
    vectorCase[IvfPqIndex]("ivfpq", new IvfPqIndex(spark, _, nlist = 4),
      _.bootstrap(_), _.append(_), _.appendBatch(_, _), _.compact(),
      slots = Seq("base::ivfpq_index", "encode::ivfpq_index", "last_batch::ivfpq_index",
        "param.codes::ivfpq_index", "param.m::ivfpq_index", "param.nlist::ivfpq_index"),
      dirs = Seq("base-2", "bookmarks.properties", "books", "gen-0", "gen-1", "gen-2",
        "seeds")),
    Case("inverted", new InvertedIndex(spark, _),
      s => s.asInstanceOf[InvertedIndex].bootstrap(third(docs, "doc_id", 0)),
      s => s.asInstanceOf[InvertedIndex].append(third(docs, "doc_id", 1)),
      (s, f, id) => s.asInstanceOf[InvertedIndex]
        .appendBatch(f(third(docs, "doc_id", 2)), id),
      s => s.asInstanceOf[InvertedIndex].compact(buckets = 2),
      slots = Seq("compacted::inverted_index", "compacted_buckets_2::inverted_index",
        "last_batch::inverted_index", "n_docs_0::inverted_index",
        "n_docs_1::inverted_index", "n_docs_2::inverted_index",
        "postings::inverted_index", "total_len_0::inverted_index",
        "total_len_1::inverted_index", "total_len_2::inverted_index"),
      dirs = Seq("bookmarks.properties", "compacted-2")),
    // the band index's batch id is its sweep's batchId; the sinks drop the
    // pairs unread, so a poisoned delta first fails in the band append
    Case("lsh", new LshBandIndex(spark, _),
      s => s.asInstanceOf[LshBandIndex].bootstrap(third(docs, "doc_id", 0)),
      s => s.asInstanceOf[LshBandIndex]
        .sweepAndAppend(docs, third(docs, "doc_id", 1), 0.6)(_ => ()),
      (s, f, id) => s.asInstanceOf[LshBandIndex]
        .sweepAndAppend(docs, f(third(docs, "doc_id", 2)), 0.6,
          batchId = Some(id))(_ => ()),
      s => s.asInstanceOf[LshBandIndex].compact(buckets = 2),
      slots = Seq("bands::lsh_band_index", "compacted::lsh_band_index",
        "compacted_buckets_2::lsh_band_index", "last_batch::lsh_band_index",
        "param.bands::lsh_band_index", "param.k::lsh_band_index", "param.n::lsh_band_index"),
      dirs = Seq("bookmarks.properties", "compacted-2")))

  private def slots(dir: String): Map[String, String] = {
    val f = Paths.get(dir, "bookmarks.properties")
    val p = new Properties()
    if (Files.exists(f)) { val in = Files.newInputStream(f); try p.load(in) finally in.close() }
    p.asScala.toMap
  }

  private def listing(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).toSeq.sorted

  cases.foreach { c =>
    test(s"${c.name}: slot names and layout are pinned; a replayed batch is a no-op") {
      val dir = TempDirs.create(s"ledger-${c.name}")
      val st = c.open(dir)
      c.bootstrap(st)
      c.append(st)
      c.appendBatch(st, identity, 7L)
      val g = st.committedGen
      val before = listing(dir)
      val slotsBefore = slots(dir)
      c.appendBatch(st, identity, 7L)
      assert(st.committedGen === g && g === 2L)
      assert(listing(dir) === before)
      assert(slots(dir) === slotsBefore)
      c.compact(st)
      assert(st.compactedThrough === 2L && st.fragmentCount === 1L)
      assert(slots(dir).keys.toSeq.sorted === c.slots)
      assert(listing(dir) === c.dirs)
    }

    if (Seq("ivf", "ivfpq").contains(c.name))
      test(s"${c.name}: a point committed after the compaction pins its op.* slots; a new handle reads and serves it") {
        val dir = TempDirs.create(s"ledger-op-${c.name}")
        val st = c.open(dir)
        c.bootstrap(st)
        c.append(st)
        c.appendBatch(st, identity, 7L)
        c.compact(st)
        val queries = vectors.filter(col("vec_id") < 6)
        // (point, gen, lag) as each store spells it, its explicit-knob
        // probe at the committed point, and its no-knobs probe
        def point(s: MaintainedStore): (Any, Option[Long], Option[Long]) = s match {
          case ix: IvfIndex => (ix.operatingPoint, ix.operatingPointGen, ix.operatingPointLag)
          case ix: IvfPqIndex => (ix.operatingPoint, ix.operatingPointGen, ix.operatingPointLag)
        }
        def served(s: MaintainedStore): Set[org.apache.spark.sql.Row] = (s match {
          case ix: IvfIndex => ix.topK(vectors, queries, 5)
          case ix: IvfPqIndex => ix.topK(vectors, queries, 5)
        }).collect().toSet
        val (explicit, opSlots) = st match {
          case ix: IvfIndex =>
            ix.commitOperatingPoint(2, 0.9)
            (ix.topK(vectors, queries, 5, 2), Map("op.nprobe" -> "2"))
          case ix: IvfPqIndex =>
            ix.commitOperatingPoint(2, 20, 0.9)
            (ix.topK(vectors, queries, 5, 20, 2), Map("op.nprobe" -> "2", "op.shortlist" -> "20"))
        }
        val ctx = if (c.name == "ivf") "ivf_index" else "ivfpq_index"
        val expected = (opSlots ++ Map("op.recall_bp" -> "9000", "op.gen" -> "2"))
          .map { case (k, v) => s"$k::$ctx" -> v }
        assert(slots(dir).filter(_._1.startsWith("op.")) === expected)
        val reopened = c.open(dir)
        assert(point(reopened) === point(st))
        assert(point(reopened)._2 === Some(2L) && point(reopened)._3 === Some(0L))
        val rows = explicit.collect().toSet
        assert(rows.nonEmpty && served(reopened) === rows)
      }

    test(s"${c.name}: a batch whose write fails leaves every slot unchanged") {
      val dir = TempDirs.create(s"ledger-fail-${c.name}")
      val st = c.open(dir)
      c.bootstrap(st)
      val before = slots(dir)
      val key = if (Seq("inverted", "lsh").contains(c.name)) "doc_id" else "vec_id"
      intercept[Exception] { c.appendBatch(st, poison(key), 7L) }
      assert(slots(dir) === before)
      assert(st.committedGen === 0L)
      // the failed batch was never applied: its redelivery writes it
      c.appendBatch(st, identity, 7L)
      assert(st.committedGen === 1L)
    }
  }
}

object GenerationLedgerSpec {
  /** One store under test: how each step of the sequence is spelled for
    * it, and the slot names and directory names the sequence leaves.
    */
  private final case class Case(
      name: String,
      open: String => MaintainedStore,
      bootstrap: MaintainedStore => Unit,
      append: MaintainedStore => Unit,
      appendBatch: (MaintainedStore, DataFrame => DataFrame, Long) => Unit,
      compact: MaintainedStore => Unit,
      slots: Seq[String],
      dirs: Seq[String])
}
