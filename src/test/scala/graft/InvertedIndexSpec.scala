package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.sources.InvertedIndex

/** The persisted inverted index must answer exactly what a brute-force
  * scan of the documents answers (conjunctive AND, adjacency phrase),
  * across bootstrap, compaction, and incremental appends — while never
  * exposing an uncommitted generation and pruning query scans by term.
  */
class InvertedIndexSpec extends SparkSuite {

  private def docs = Tables.documents(spark, sf)
    .select(col("doc_id"), col("text"))

  /** Brute-force conjunctive, formulated WITHOUT the posting pipeline:
    * per-term tf via size(filter(tokens)), AND via both > 0.
    */
  private def bruteConjunctive(a: String, b: String): Seq[(Long, Long)] =
    docs.select(col("doc_id"),
        GraftFunctions.tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"),
        size(filter(col("tk"), t => t === a)).as("ta"),
        size(filter(col("tk"), t => t === b)).as("tb"))
      .filter(col("ta") > 0 && col("tb") > 0)
      .select(col("doc_id"), (col("ta") + col("tb")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Brute-force phrase via posexplode self-join adjacency (b.pos = a.pos+1)
    * — a different formulation than the index's position-list intersect.
    */
  private def brutePhrase(a: String, b: String): Seq[(Long, Int)] = {
    val terms = docs.select(col("doc_id"),
      posexplode(GraftFunctions.tokens(lower(col("text")))))
    terms.as("x").join(terms.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          col("y.pos") === col("x.pos") + 1)
      .filter(col("x.col") === a && col("y.col") === b)
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg(count(lit(1)).cast("int").as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
  }

  private def got(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  // QueryStageExec is a leaf wrapper around materialized AQE stages —
  // recurse through it or post-execution plan nodes are invisible
  private def collectRec[T](p: org.apache.spark.sql.execution.SparkPlan)(
      f: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p.collect {
      case a: AdaptiveSparkPlanExec => collectRec(a.executedPlan)(f)
      case qs: QueryStageExec => collectRec(qs.plan)(f)
      case n if f.isDefinedAt(n) => Seq(f(n))
    }.flatten
  }

  test("conjunctive and phrase equal the brute-force document scan") {
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-spec"))
    idx.bootstrap(docs)
    val conj = got(idx.conjunctive(Seq("dup", "vector")))
    assert(conj.nonEmpty)
    assert(conj === bruteConjunctive("dup", "vector"))
    val ph = idx.phrase("key", "order").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(ph.nonEmpty)
    assert(ph === brutePhrase("key", "order"))
  }

  test("incremental append equals the full bootstrap (generation union is exact)") {
    val full = new InvertedIndex(spark, TempDirs.create("inv-idx-full"))
    full.bootstrap(docs)
    val incr = new InvertedIndex(spark, TempDirs.create("inv-idx-incr"))
    incr.bootstrap(docs.filter(col("doc_id") % 3 === 0))
    incr.append(docs.filter(col("doc_id") % 3 === 1))
    incr.append(docs.filter(col("doc_id") % 3 === 2))
    assert(incr.committedGen === 2L)
    assert(got(incr.conjunctive(Seq("dup", "vector"))) ===
      got(full.conjunctive(Seq("dup", "vector"))))
    assert(incr.postingsDf.count() === full.postingsDf.count())
  }

  test("an uncommitted generation directory is invisible to readers") {
    val dir = TempDirs.create("inv-idx-orphan")
    val idx = new InvertedIndex(spark, dir)
    idx.bootstrap(docs.filter(col("doc_id") < 100))
    val committedRows = idx.postingsDf.count()
    // simulate a crash mid-append: gen-1 parquet exists, watermark doesn't
    idx.postingsOf(docs.filter(col("doc_id") >= 100))
      .write.mode("overwrite").parquet(s"$dir/gen-1")
    assert(idx.committedGen === 0L)
    assert(idx.postingsDf.count() === committedRows)
    // the next append overwrites the orphan and commits atomically
    idx.append(docs.filter(col("doc_id") >= 100))
    assert(idx.committedGen === 1L)
  }

  test("compact preserves results and counts; catalog survives re-registration") {
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-compact"))
    idx.bootstrap(docs.filter(col("doc_id") < 250))
    val before = got(idx.conjunctive(Seq("dup", "vector")))
    val rows = idx.postingsDf.count()
    idx.compact(buckets = 4)
    assert(idx.compactedThrough === 0L)
    assert(idx.postingsDf.count() === rows)
    assert(got(idx.conjunctive(Seq("dup", "vector"))) === before)
    // appends keep working on top of the compaction (tail generation)
    idx.append(docs.filter(col("doc_id") >= 250))
    assert(got(idx.conjunctive(Seq("dup", "vector"))) ===
      bruteConjunctive("dup", "vector"))
    // a fresh session's catalog re-registers the external bucketed table
    spark.sql(s"DROP TABLE IF EXISTS ${idx.tableName}")
    assert(idx.postingsDf.count() === rows +
      idx.postingsOf(docs.filter(col("doc_id") >= 250)).count())
  }

  test("roots whose paths share a 32-bit String.hashCode keep their own catalog tables") {
    val tmp = TempDirs.create("inv-idx-names")
    assert(s"$tmp/Aa".hashCode === s"$tmp/BB".hashCode)
    val a = new InvertedIndex(spark, s"$tmp/Aa")
    val b = new InvertedIndex(spark, s"$tmp/BB")
    a.bootstrap(docs.filter(col("doc_id") < 250))
    b.bootstrap(docs.filter(col("doc_id") >= 250))
    a.compact(buckets = 2)
    b.compact(buckets = 2)
    def ids(idx: InvertedIndex): Set[Long] =
      idx.postingsDf.select(col("doc_id")).distinct().collect()
        .map(_.getAs[Number](0).longValue).toSet
    assert(ids(a).nonEmpty && ids(a).forall(_ < 250))
    assert(ids(b).nonEmpty && ids(b).forall(_ >= 250))
    assert(a.tableName !== b.tableName)
  }

  test("a query's term filter is pushed into the compacted parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-prune"))
    idx.bootstrap(docs)
    idx.compact(buckets = 4)
    val q = idx.conjunctive(Seq("dup", "vector"))
    q.collect()
    val scans = collectRec(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // the IN(term) predicate must reach the parquet reader: with the
    // compaction SORTED BY term, that is what makes the probe an index
    // seek (row-group min/max pruning) instead of a corpus scan
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("In(term"), pushed)
    // prefix browse: StartsWith pushes too (a contiguous row-group range
    // on the sorted compaction), and results match a brute token scan
    val px = idx.prefix("s")
    px.collect()
    val pxPushed = collectRec(px.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(pxPushed.contains("StringStartsWith(term,s)"), pxPushed)
    val expectTerms = docs
      .select(explode(graft.functions.GraftFunctions.tokens(lower(col("text")))).as("t"))
      .filter(col("t").startsWith("s")).select(col("t")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(px.collect().map(_.getString(0)).toSet === expectTerms)
  }

  test("bm25 equals the brute-force document-scan score; stats survive appends") {
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-bm25"))
    idx.bootstrap(docs.filter(col("doc_id") % 2 === 0))
    idx.append(docs.filter(col("doc_id") % 2 === 1))
    // the generation-keyed metadata slots must accumulate to corpus totals
    val (n, total) = idx.corpusStats
    assert(n === docs.count())
    val expectTotal = docs
      .select(sum(size(GraftFunctions.tokens(lower(col("text"))))))
      .head().getLong(0)
    assert(total === expectTotal)
    // brute-force BM25 over the raw documents, same association order
    val a = "dup"; val b = "vector"
    val avgdl = expectTotal.toDouble / n.toDouble
    val base = docs.select(col("doc_id"),
        GraftFunctions.tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("doc_len"),
        size(filter(col("tk"), t => t === a)).as("ta"),
        size(filter(col("tk"), t => t === b)).as("tb"))
    def side(tfc: String): DataFrame = {
      val withTf = base.filter(col(tfc) > 0)
      val df = withTf.count()
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      withTf.select(col("doc_id"),
        (lit(idf) * ((col(tfc) * lit(2.2)) /
          (col(tfc) + lit(1.2) * (lit(0.25) + lit(0.75) * (col("doc_len") / lit(avgdl))))))
          .as("s"))
    }
    val expected = side("ta").unionByName(side("tb"))
      .groupBy(col("doc_id")).agg(sum(col("s")).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(15)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    val got = idx.bm25(Seq(a, b), 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    assert(got.nonEmpty)
    assert(got === expected)
  }

  test("lead-rarest AND: identical results, semi-join plan, absent term empties it") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-lead"))
    idx.bootstrap(docs)
    val q = idx.conjunctiveLeadRarest(Seq("dup", "vector"))
    assert(got(q) === got(idx.conjunctive(Seq("dup", "vector"))))
    val semis = collectRec(q.queryExecution.executedPlan) {
      case j: BaseJoinExec if j.joinType == LeftSemi => j
    }
    assert(semis.nonEmpty, "the hot posting must be applied as a semi join")
    // a term with df 0 must produce an empty AND, not a runtime error
    assert(idx.conjunctiveLeadRarest(Seq("dup", "nosuchterm")).isEmpty)
  }

  test("appendBatch is exactly-once under redelivery; markers move atomically") {
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-batch"))
    idx.bootstrap(docs.filter(col("doc_id") < 100))
    val d1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    idx.appendBatch(d1, batchId = 0L)
    val rows = idx.postingsDf.count()
    val stats = idx.corpusStats
    // foreachBatch redelivery of an applied batch must be a no-op
    idx.appendBatch(d1, batchId = 0L)
    assert(idx.committedGen === 1L)
    assert(idx.postingsDf.count() === rows)
    assert(idx.corpusStats === stats)
    // the next batch applies once and the result equals the batch build
    idx.appendBatch(docs.filter(col("doc_id") >= 200), batchId = 1L)
    val full = new InvertedIndex(spark, TempDirs.create("inv-idx-batch-full"))
    full.bootstrap(docs)
    assert(got(idx.conjunctive(Seq("dup", "vector"))) ===
      got(full.conjunctive(Seq("dup", "vector"))))
    assert(idx.corpusStats === full.corpusStats)
  }

  test("as-of snapshots: pinned readers isolated from appends; compaction is the retention boundary") {
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-asof"))
    idx.bootstrap(docs.filter(col("doc_id") < 250))
    val snap0 = got(idx.conjunctive(Seq("dup", "vector")))
    idx.append(docs.filter(col("doc_id") >= 250))
    // the generation-0 snapshot is byte-stable across the append
    assert(got(idx.conjunctive(Seq("dup", "vector"), asOf = Some(0L))) === snap0)
    assert(got(idx.conjunctive(Seq("dup", "vector"))) !== snap0)
    // ahead-of-watermark and pre-compaction snapshots refuse
    intercept[IllegalArgumentException] { idx.postingsAsOf(99L) }
    idx.compact(buckets = 4)
    intercept[IllegalArgumentException] { idx.postingsAsOf(0L) }
    assert(idx.postingsAsOf(1L).count() === idx.postingsDf.count())
  }

  test("bootstrap is idempotent") {
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-idem"))
    idx.bootstrap(docs.filter(col("doc_id") < 100))
    val rows = idx.postingsDf.count()
    idx.bootstrap(docs) // second bootstrap must be a no-op
    assert(idx.committedGen === 0L)
    assert(idx.postingsDf.count() === rows)
  }

  test("positions stored delta-encoded; reads decode; decode pruned off the AND path") {
    import spark.implicits._
    val dir = TempDirs.create("graft-inv-codec")
    val idx = new InvertedIndex(spark, dir)
    idx.bootstrap(Seq((1L, "a b a c a")).toDF("doc_id", "text"))
    // 'a' occurs at 1-based positions [1, 3, 5] -> stored as gaps [1, 2, 2]
    val raw = spark.read.parquet(s"$dir/gen-0").filter(col("term") === "a")
      .select(col("positions")).head.getSeq[Int](0)
    assert(raw == Seq(1, 2, 2))
    val dec = idx.postingsDf.filter(col("term") === "a")
      .select(col("positions")).head.getSeq[Int](0)
    assert(dec == Seq(1, 3, 5))
    // position consumers see absolute offsets: a@3 is followed by c@4
    val ph = idx.phrase("a", "c").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(ph == Seq((1L, 1)))
    // the decode projection exists only where positions are read: the
    // conjunctive plan (term/doc_id/tf only) must have it pruned away
    val pruned = idx.conjunctive(Seq("a", "b"))
      .queryExecution.optimizedPlan.toString
    assert(!pruned.contains("aggregate(positions"), pruned)
    val phrasePlan = idx.phrase("a", "c").queryExecution.optimizedPlan.toString
    assert(phrasePlan.contains("aggregate(positions"), phrasePlan)
  }

  test("disjunctive / min-should-match / AND NOT equal the brute-force scan") {
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-bool"))
    idx.bootstrap(docs)
    // brute force per doc: tf of each query term from the token list
    val tfs = docs.select(col("doc_id"),
        GraftFunctions.tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"),
        size(filter(col("tk"), t => t === "dup")).as("d"),
        size(filter(col("tk"), t => t === "vector")).as("v"),
        size(filter(col("tk"), t => t === "merge")).as("m"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    def asTuple(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

    val orExp = tfs.collect { case (id, d, v, m) if d + v + m > 0 =>
      (id, Seq(d, v, m).count(_ > 0), (d + v + m).toLong) }.toSeq.sorted
    assert(orExp.nonEmpty)
    assert(asTuple(idx.disjunctive(Seq("dup", "vector", "merge"))) === orExp)

    val msmExp = orExp.filter(_._2 >= 2)
    assert(msmExp.nonEmpty && msmExp.size < orExp.size)
    assert(asTuple(idx.minShouldMatch(Seq("dup", "vector", "merge"), 2)) === msmExp)

    val notExp = tfs.collect { case (id, d, v, m) if d > 0 && v > 0 && m == 0 =>
      (id, (d + v).toLong) }.toSeq.sorted
    val notGot = idx.conjunctiveNot(Seq("dup", "vector"), Seq("merge"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(notGot === notExp)
    // the exclusion really binds: plain AND is a strict superset here
    assert(idx.conjunctive(Seq("dup", "vector")).count() > notExp.size)
  }

  test("tfIdfTopTermsDelta equals the batch operator restricted to the delta") {
    val idx = new InvertedIndex(spark, TempDirs.create("inv-idx-tfidf"))
    idx.bootstrap(docs)
    idx.compact(buckets = 4)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    val got = idx.tfIdfTopTermsDelta(delta, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq.sorted
    val exp = graft.operators.TextAnalysis.tfIdfTopTerms(docs, docs.count(), 3)
      .filter(col("doc_id") % 7 === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq.sorted
    assert(exp.nonEmpty)
    assert(got === exp)
    // nDocs must come from the O(1) stats slot, not a corpus job: the
    // index's committed stats equal the corpus count the batch op needs
    assert(idx.corpusStats._1 === docs.count())

    // plan pin: the df side reads ONLY `term` from the postings (the
    // positions/tf columns are pruned from the scan) — the property that
    // keeps the per-ingest df lookup posting-length-shaped at 100 TB
    val df2 = idx.tfIdfTopTermsDelta(delta, 3)
    df2.collect()
    val scans = collectRec(df2.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.tableIdentifier.exists(_.table.startsWith("graft_inv_idx")) ||
          s.metadata.get("Location").exists(_.contains("graft-inv")) => s
    }
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.requiredSchema.fieldNames.toSet === Set("term"),
      s"posting scan must prune to term-only, got ${s.requiredSchema}"))

    // graceful pre-append scoring (r12 advice): a delta term the index
    // has NEVER seen must not silently vanish from the ranking — it
    // self-counts with df = 1, the value its own posting would carry
    import spark.implicits._
    val novel = Seq((999999L, "zzznovelterm zzznovelterm plainword"))
      .toDF("doc_id", "text")
    val pre = idx.tfIdfTopTermsDelta(novel, 3)
      .filter(col("term") === "zzznovelterm")
      .select(col("tf"), col("df")).as[(Long, Long)].collect().toSeq
    assert(pre === Seq((2L, 1L)),
      s"un-ingested term must score with df=1 (self-count), got $pre")
  }
}
