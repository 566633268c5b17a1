package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextAnalysis}

/** Text retrieval over the persisted inverted index: boolean, phrase,
  * proximity, prefix, snapshot and incremental search, BM25 (two and four
  * terms), TF-IDF, sparse cosine top-k and the hybrid BM25 + vector
  * reciprocal-rank-fusion queries.
  */
object SearchQueries {

  val defs: Seq[QueryDef] = Seq(
    // Sparse TF-IDF cosine top-5 over word-bigram terms: df-pruned
    // inverted-index join, integer-quantized weights (exact dot products
    // under any shuffle order), cosine defined over the pruned space.
    // Bigrams come from the codegen'd token_ngrams kernel — the composed
    // slice/zip_with chain is CodegenFallback and re-tokenizes per use.
    QueryDef("sim_sparse_topk", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // corpus size from the persisted index's O(1) committed stats slot
      // (r11 verdict #6) — the session-cached index covers the full
      // corpus, so this equals docs.count() without a per-run corpus job
      val n = fullInvIndex(s, dir).corpusStats._1
      Similarity.sparseTopK(docs, n, col("doc_id") % 97 === 0, 5,
        maxDf = n / 10,
        terms = graft.functions.GraftFunctions.tokenNgrams(lower(col("text")), 2))
        .orderBy(col("query_id"), col("rank"))
    },
      // Integer-quantized weights make every dot product / squared norm
      // exact 64-bit arithmetic — identical on both engines regardless of
      // aggregation order; floats only in the final sqrt/divide.
      s"""WITH toks AS (
         |  SELECT doc_id, ${Oracles.tokens("lower(text)")} AS t FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS term
         |  FROM toks WHERE len(t) >= 2),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM bg GROUP BY 1, 2),
         |dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY 1
         |  HAVING count(*) <= (SELECT count(*) // 10 FROM documents)),
         |post AS (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(round(tf.tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
         |      / dfreq.df) * 1000) AS BIGINT) AS w
         |  FROM tf JOIN dfreq ON tf.term = dfreq.term),
         |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nsq FROM post GROUP BY 1),
         |dots AS (
         |  SELECT q.doc_id AS query_id, p.doc_id AS neighbor_id,
         |    CAST(sum(q.w * p.w) AS BIGINT) AS dot
         |  FROM post p JOIN post q ON p.term = q.term
         |  WHERE q.doc_id % 97 = 0 AND p.doc_id != q.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT d.query_id, d.neighbor_id,
         |    round(d.dot / (sqrt(n.nsq) * sqrt(qn.nsq)), 6) AS cosine
         |  FROM dots d
         |  JOIN norms n ON n.doc_id = d.neighbor_id
         |  JOIN norms qn ON qn.doc_id = d.query_id),
         |r AS (SELECT *, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, rank, neighbor_id, cosine
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Conjunctive search through the PERSISTED inverted index
    // (sources/InvertedIndex): the corpus is tokenized once into term
    // postings, compacted into ONE bucketed table SORTED BY term — the
    // query's pushed `term IN (...)` filter prunes the scan to the row
    // groups holding those terms (a distributed index seek), and the AND
    // is a doc_id aggregation over posting-sized data. Documents are
    // never read at query time.
    QueryDef("text_search", (s, dir) =>
      fullInvIndex(s, dir).conjunctive(Seq("dup", "vector")).orderBy(col("doc_id")),
      // conjunctive index search replay: tf per (doc, query term), AND =
      // both terms present, rank = summed tf
      dupVectorSearchOracle("")),

    // Adjacency phrase search ("key order") from the SAME index: position
    // lists make the phrase an |shift(pos_a) ∩ pos_b| intersection of two
    // pruned posting scans joined on doc_id — a pure index operation, no
    // document text touched.
    QueryDef("text_phrase", (s, dir) =>
      fullInvIndex(s, dir).phrase("key", "order").orderBy(col("doc_id")),
      // adjacency phrase replay: 1-based token positions via range() over
      // the token list, adjacency = a.pos + 1 = b.pos
      s"""WITH $termPositions
         |SELECT a.doc_id, CAST(count(*) AS INT) AS n_occurrences
         |FROM terms a JOIN terms b
         |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |WHERE a.term = 'key' AND b.term = 'order'
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // The incremental ingest path: bootstrap the first half, append the
    // second half as a delta generation (ONLY the delta is tokenized —
    // per-ingest cost is delta-shaped, the committed corpus is never
    // re-read), query across compaction + tail. Result is identical to
    // text_search over the full corpus — the generation union is exact.
    QueryDef("text_search_incr", (s, dir) => {
      val idx = IndexCache.getOrBuildVersioned(s, s"inv-incr|$dir", dir) {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val cut = 250L
        val i = new graft.sources.InvertedIndex(s, TempDirs.create(s, "graft-inv-idx-incr"))
        i.bootstrap(docs.filter(col("doc_id") < cut))
        i.compact(buckets = 8)
        i.append(docs.filter(col("doc_id") >= cut))
        i
      }
      idx.conjunctive(Seq("dup", "vector")).orderBy(col("doc_id"))
    },
      // incremental ingest must be exactly the full-corpus search result
      dupVectorSearchOracle("")),

    // Continuous index maintenance: the second half of the corpus arrives
    // as a document STREAM; each micro-batch lands as one committed index
    // generation via the exactly-once appendBatch (generation watermark +
    // stats + applied-batch id move in one atomic rename — foreachBatch
    // redelivery is a no-op). The post-stream search must hash-match the
    // batch-built full-corpus text_search oracle: streaming ingest and
    // batch ingest are indistinguishable to a reader.
    QueryDef("stream_index_ingest", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val idx = new graft.sources.InvertedIndex(s, TempDirs.create(s, "graft-inv-stream"))
      idx.bootstrap(docs.filter(col("doc_id") <= mid))
      idx.compact(buckets = 8)
      graft.streaming.Streaming.drainBatches(graft.streaming.Streaming.documents(s, dir)
          .filter(col("doc_id") > mid).select(col("doc_id"), col("text")),
        graft.TempDirs.create("graft-inv-ingest-ckpt"))(idx.appendBatch)
      idx.conjunctive(Seq("dup", "vector")).orderBy(col("doc_id"))
    },
      // streaming ingest must be indistinguishable from the batch build
      dupVectorSearchOracle("")),

    // Proximity (NEAR) search from the same index: "key" followed by
    // "order" within 3 tokens — the adjacency kernel with the gap
    // widened; still two pruned posting scans joined on doc_id.
    QueryDef("text_near", (s, dir) =>
      fullInvIndex(s, dir).near("key", "order", maxGap = 3).orderBy(col("doc_id")),
      // proximity replay: each 'key' occurrence counted once when some
      // 'order' follows within 3 tokens
      s"""WITH $termPositions,
         |hits AS (
         |  SELECT DISTINCT a.doc_id, a.pos
         |  FROM terms a JOIN terms b
         |    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
         |  WHERE a.term = 'key' AND b.term = 'order')
         |SELECT doc_id, CAST(count(*) AS INT) AS n_occurrences
         |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin),

    // Snapshot (time-travel) read: search AS OF generation 0 after a
    // later append — the snapshot is a PREFIX of the generation sequence,
    // so pinned readers are isolated from concurrent ingests for free.
    // Must equal the search over only the bootstrap half.
    QueryDef("text_search_asof", (s, dir) => {
      val idx = IndexCache.getOrBuildVersioned(s, s"inv-asof|$dir", dir) {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val cut = 250L
        val i = new graft.sources.InvertedIndex(s, TempDirs.create(s, "graft-inv-idx-ao"))
        i.bootstrap(docs.filter(col("doc_id") < cut))
        i.append(docs.filter(col("doc_id") >= cut))
        i
      }
      idx.conjunctive(Seq("dup", "vector"), asOf = Some(0L)).orderBy(col("doc_id"))
    },
      // the generation-0 snapshot is exactly the bootstrap half
      dupVectorSearchOracle("WHERE doc_id < 250")),

    // Prefix term browse ('s*'): StartsWith pushes into the parquet scan,
    // and the term-sorted compaction makes a prefix a CONTIGUOUS
    // row-group range — index-seek pruning for wildcard queries.
    QueryDef("text_prefix", (s, dir) =>
      fullInvIndex(s, dir).prefix("s").orderBy(col("term")),
      s"""WITH ${termTfCtes("", "")}
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
         |FROM tf WHERE term LIKE 's%' GROUP BY 1 ORDER BY term""".stripMargin),

    // Index maintenance telemetry: per-term posting length / tf mass —
    // posting skew is probe tail latency, and this is where the stop set
    // for lead-rarest planning comes from. Positions are pruned from the
    // scan; the report is one index-sized aggregation (a maintenance op,
    // not a query-path op — same class as ivf_balance).
    QueryDef("inverted_stats", (s, dir) => {
      val idx = IndexCache.getOrBuildVersioned(s, s"inv-uncompacted|$dir", dir) {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val i = new graft.sources.InvertedIndex(s, TempDirs.create(s, "graft-inv-idx-st"))
        i.bootstrap(docs)
        i
      }
      idx.termStats.orderBy(col("df").desc, col("term"))
    },
      s"""WITH ${termTfCtes("", "")}
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
         |  CAST(max(tf) AS INT) AS max_tf
         |FROM tf GROUP BY 1 ORDER BY df DESC, term""".stripMargin),

    // The lead-with-the-rarest-posting AND plan: term dfs (O(terms)
    // driver metadata) order the intersection rarest-first and each hot
    // posting is a LEFT SEMI join against the rare doc set — shuffled
    // volume tracks the RAREST posting, not the largest. Must hash-match
    // the aggregation-plan text_search oracle exactly.
    QueryDef("text_search_lead", (s, dir) =>
      fullInvIndex(s, dir).conjunctiveLeadRarest(Seq("dup", "vector"))
        .orderBy(col("doc_id")),
      // same replay as text_search: the lead-rarest plan must be
      // result-identical to the aggregation plan
      dupVectorSearchOracle("")),

    // BM25 ranked retrieval from the persisted index: reads ONLY the two
    // query terms' postings (pruned scan) plus the O(1) committed corpus
    // stats (n_docs / total_len live in generation-keyed bookmark slots —
    // a ranked query never scans the corpus to learn its size). df comes
    // from the pruned postings via a terms-sized broadcast join.
    QueryDef("text_bm25", (s, dir) =>
      fullInvIndex(s, dir).bm25(Seq("dup", "vector"), 15).orderBy(col("doc_id")),
      // BM25 replay (k1=1.2, b=0.75): the per-(term, doc) partial score is
      // the same double expression tree as InvertedIndex.bm25, snapped to
      // integer micro-units BEFORE the per-doc sum — long addition is
      // order-independent, so the oracle is bit-exact at ANY term count
      // (the old double sum was only pinned up to two terms)
      bm25OracleSql(Seq("dup", "vector"), 15)),

    // Disjunctive (OR) retrieval from the same persisted index: any of
    // three terms, matched-count + tf mass as rank signals — the same
    // pruned posting scan and single aggregation as the AND, filter
    // dropped.
    QueryDef("text_search_or", (s, dir) =>
      fullInvIndex(s, dir).disjunctive(Seq("dup", "vector", "merge"))
        .orderBy(col("doc_id")),
      anyTermOracle("")),

    // Minimum-should-match (Lucene mm): docs matching >= 2 of 3 terms —
    // the recall/precision middle ground between AND and OR; identical
    // plan to the OR query plus a post-aggregate threshold.
    QueryDef("text_search_msm", (s, dir) =>
      fullInvIndex(s, dir).minShouldMatch(Seq("dup", "vector", "merge"), 2)
        .orderBy(col("doc_id")),
      anyTermOracle("HAVING count(*) >= 2")),

    // Boolean AND NOT: docs with both include terms and NEITHER exclude
    // term — the exclusion is a doc-set anti-join on pruned postings,
    // never a corpus scan.
    QueryDef("text_search_not", (s, dir) =>
      fullInvIndex(s, dir).conjunctiveNot(Seq("dup", "vector"), Seq("merge"))
        .orderBy(col("doc_id")),
      s"""WITH ${termTfCtes("", "WHERE term IN ('dup', 'vector')")},
         |hits AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_sum
         |  FROM tf GROUP BY doc_id HAVING count(*) = 2)
         |SELECT doc_id, tf_sum FROM hits
         |WHERE doc_id NOT IN (
         |  SELECT DISTINCT doc_id FROM toks WHERE term = 'merge')
         |ORDER BY doc_id""".stripMargin),

    // BM25 at FOUR query terms (r8 verdict #5): exercises the
    // order-independent integer micro-unit sum — with >= 3 terms the old
    // double aggregation's low bits depended on partial-merge order, so
    // multi-term ranking was oracle-ungateable. Two of the terms are
    // stopword-grade (df ~78%), so the score blends hot and rare
    // postings; still one pruned posting scan + one posting-sized
    // aggregation.
    QueryDef("text_bm25_multi", (s, dir) =>
      fullInvIndex(s, dir).bm25(Seq("dup", "vector", "table", "merge"), 20)
        .orderBy(col("doc_id")), bm25OracleSql(Seq("dup", "vector", "table", "merge"), 20)),

    // Hybrid retrieval: Reciprocal Rank Fusion of the BM25 arm (persisted
    // inverted index, pruned posting scan) and the exact-cosine vector
    // arm (query = embedding 0) — the RAG first-stage retriever. Both
    // arms are top-30 lists, so the fusion is a k×k equi-join over
    // driver-scale metadata; all data-sized work happens inside the arms,
    // where the indexes bound it. Rank-only fusion needs no score
    // calibration across the two incomparable scales.
    QueryDef("hybrid_search_rrf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val vecArm = Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 30)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("r_vec"))
      graft.operators.HybridSearch.rrf2(bm25TextArm(s, dir), vecArm, k = 20)
    },
      // RRF fusion: replay the BM25 arm (same CTEs as text_bm25, top-30,
      // ranked by the 4-digit presentation score — the engine ranks the
      // returned list the same way), the exact-cosine arm (sim_topk's
      // arithmetic, query = vec 0, top-30), then the rank-only fusion with
      // the reciprocal terms added in the engine's fixed order.
      s"""WITH $bm25Corpus,
         |${bm25RankArm("t", Seq("dup", "vector"))},
         |${Oracles.vectors},
         |q AS (SELECT * FROM e WHERE vec_id = 0),
         |varm AS (
         |  SELECT doc_id, r_vec FROM (
         |    SELECT c.vec_id AS doc_id, CAST(row_number() OVER (
         |      ORDER BY round(${Oracles.cosine("q.v", "c.v", 64)}, 6) DESC,
         |        c.vec_id) AS INT) AS r_vec
         |    FROM e c JOIN q ON q.vec_id != c.vec_id)
         |  WHERE r_vec <= 30),
         |${rrfFusion("tarm", Nil)}
         |SELECT doc_id, r_text, r_vec, rrf FROM fused
         |ORDER BY rrf DESC, doc_id""".stripMargin),

    // The PRODUCTION hybrid (r11 verdict #2): BOTH arms ride persisted
    // indexes — BM25 over the inverted index (pruned posting scan + O(1)
    // corpus stats) fused with the persisted IVF probe (nprobe of nlist
    // frozen cells; candidates ∝ nprobe·cellBudget, independent of corpus
    // growth). hybrid_search_rrf keeps the exact-scan vector arm as the
    // declared recall baseline; THIS is the shape that survives 100 TB,
    // because neither arm's cost is corpus-shaped at query time. The
    // fusion itself is unchanged: two top-30 lists, a k×k full-outer
    // join, rank-only scoring. r14 (r13 verdict #3): the vector arm's
    // probe width was the last call-site constant on a production path —
    // the exact drift class that shipped recall 0.45 for two rounds.
    // The arm's store now carries a COMMITTED operating point (maintained
    // once per store lifetime, at the arm's own k=30 against the
    // 8-query sample) and the no-knobs topK reads the stamp; the oracle
    // re-derives the same nprobe from the replayed sweep grid as a
    // scalar CTE — a constant in neither the operator nor the SQL.
    QueryDef("hybrid_search_rrf_indexed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.getOrBuildVersioned(s, s"ivf-full|$dir", dir) {
        val i = new graft.sources.IvfIndex(
          s, TempDirs.create(s, "graft-ivf-full"), nlist = 16)
        i.bootstrap(emb)
        i
      }
      // era cadence: the sweep runs once per store lifetime (the stamp
      // persists); warm cost is the pure committed-point probe
      val served = if (idx.operatingPoint.isDefined) idx
        else idx.maintain(emb, emb.filter(col("vec_id") % 50 === 0),
          emb.filter(col("vec_id") < 8), k = 30, recallFloor = 0.85,
          cosineFloor = 0.22, maxFracBelow = 1.0,
          nprobes = Seq(1, 2, 4, 8, 16)).serving
      val vecArm = served.topK(emb, emb.filter(col("vec_id") === 0), 30)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("r_vec"))
      graft.operators.HybridSearch.rrf2(bm25TextArm(s, dir), vecArm, k = 20)
    },
      // the production hybrid: same BM25-arm replay, but the vector arm is
      // the persisted IVF probe — full-corpus seeds (lowest-16 vec_ids),
      // argmax-cosine assignment, probe for query 0 AT THE COMMITTED
      // OPERATING POINT (the nprobe sweep at k=30 over the 8-query sample
      // replayed as a grid, the smallest width clearing 0.85 as scalar CTE
      // `cnp` — r13 verdict #3: no probe-width constant in either side),
      // top-30 of the probed cells' members, then identical rank-only fusion
      s"""WITH $bm25Corpus,
         |${bm25RankArm("t", Seq("dup", "vector"))},
         |${Oracles.vectors},
         |${Oracles.ivfSeeds("", "e", "16")},
         |${Oracles.ivfCells("", "e", "seeds")},
         |${Oracles.exactTopK("exact", "e", 30)},
         |${Oracles.ivfFlatSweep("", "seeds", "exact", 30, 0.85, Seq(1, 2, 4, 8, 16), None)},
         |varm AS (
         |  SELECT neighbor_id AS doc_id, CAST(rank AS INT) AS r_vec
         |  FROM ann, cnp WHERE ann.np = cnp.v AND query_id = 0),
         |${rrfFusion("tarm", Nil)}
         |SELECT doc_id, r_text, r_vec, rrf FROM fused
         |ORDER BY rrf DESC, doc_id""".stripMargin),

    // The 100 TB refinement of the production hybrid (r12 verdict #5):
    // the vector arm rides the IVF-PQ COMPOSITION instead of flat IVF.
    // The flat-IVF arm re-reads full-width float embeddings for every
    // in-cell candidate — at 100 TB the probe's scan width is the cost —
    // while the ADC arm scores m smallint codes per candidate and
    // touches floats only for the shortlist re-rank. Same BM25 arm,
    // identical rank-only fusion. r14 (r13 verdict #3): the arm's
    // (nprobe, shortlist) were call-site constants; the arm now owns its
    // OWN maintained store (a serving surface owns its maintenance —
    // sharing sim_ivfpq_committed's store would make the committed point
    // depend on which query's k-5 sweep ran first) swept at the arm's
    // k=30, and the no-knobs topK reads the committed stamp. The oracle
    // re-derives the same (nprobe, shortlist) from the replayed
    // two-phase grid as scalar CTEs — constants in neither side.
    QueryDef("hybrid_search_rrf_ivfpq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.getOrBuildVersioned(s, s"ivfpq-hy|$dir", dir) {
        val i = new graft.sources.IvfPqIndex(
          s, TempDirs.create(s, "graft-ivfpq-hy"), nlist = 16, m = 8, codes = 256)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i.append(emb.filter(col("vec_id") % 50 === 0))
        i
      }
      val served = if (idx.operatingPoint.isDefined) idx
        else idx.maintain(emb, emb.filter(col("vec_id") % 50 === 0),
          emb.filter(col("vec_id") < 8), k = 30, recallFloor = 0.8,
          cosineFloor = 0.22, maxFracBelow = 1.0,
          nprobes = Seq(2, 4, 8, 16), shortlists = Seq(50, 200)).serving
      val vecArm = served.topK(emb, emb.filter(col("vec_id") === 0), 30)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("r_vec"))
      graft.operators.HybridSearch.rrf2(bm25TextArm(s, dir), vecArm, k = 20)
    },
      // the IVF-PQ hybrid: same BM25-arm replay, vector arm = the full
      // IVF-PQ composition for query 0 (train slice vec_id % 50 != 0,
      // frozen seeds + codebooks, coarse probe + ADC + exact re-rank,
      // top-30) AT THE COMMITTED OPERATING POINT: the k=30 two-phase sweep
      // is replayed as the grid chain and the probe consumes (cnp, csl) as
      // scalar CTEs — r13 verdict #3: no (nprobe, shortlist) constant in
      // either the operator or this SQL. Identical rank-only fusion.
      s"""WITH $bm25Corpus,
         |${bm25RankArm("t", Seq("dup", "vector"))},
         |${IvfQueries.ivfPqGridCtes(16, 256, 30, 0.8, Seq(2, 4, 8, 16), Seq(50, 200))},
         |varm AS (
         |  SELECT neighbor_id AS doc_id, CAST(rank AS INT) AS r_vec
         |  FROM ann, cnp, csl
         |  WHERE ann.np = cnp.v AND ann.slim = csl.v AND query_id = 0),
         |${rrfFusion("tarm", Nil)}
         |SELECT doc_id, r_text, r_vec, rrf FROM fused
         |ORDER BY rrf DESC, doc_id""".stripMargin),

    // BATCH-SCALE HYBRID (r16, r15 verdict #7): the production hybrid's
    // remaining single-query assumptions removed — a 5x-replicated
    // multi-thousand-query batch (2,500 at the verify SF, 10,000 at
    // bench SF) runs BOTH arms and the fusion batch-shaped. The vector
    // arm rides the persisted flat-IVF batch store through the
    // distributed probe (10k+ probe rows >> the broadcast threshold:
    // the driver sees only O(nlist) cell ids); the lexical arm is the
    // new per-query BM25 (5k+ (query_id, term) rows >> its broadcast
    // tier: the query frame is never collected, the distinct TERM set
    // alone reaches the driver for the posting scan's IN pushdown, and
    // the term join is SALTED — term keys are low-cardinality, so the
    // unsalted join concentrated the whole batch on two partitions);
    // the fusion is a per-query (query_id, doc_id) join + window —
    // nothing global-sorts and nothing funnels the driver at any batch
    // size. Every replica carries its base's OWN embedding (the vector
    // lists differ per base) AND its base's own keyword query — even
    // bases ask (dup, vector), odd bases (dup, stream) — so the
    // (query_id, term) join is semantically load-bearing, not a
    // replicated constant. The oracle replays each text variant once,
    // the vector arm once per base, fuses per base by parity, and
    // expands — any per-replica divergence in either batch arm is a
    // hash mismatch. Replication is 5x (not sim_ivf_batch's 21x): the
    // high-df fixture terms make text-arm work = |queries| × df, and
    // 5x already puts every frame above every threshold at every SF.
    QueryDef("hybrid_batch_rrf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = IvfQueries.ivfBatchIndex(s, dir)
      val queries = emb
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0L), lit(4L))).as("rep"))
        .select((lit(1000000L) + col("vec_id") * 5 + col("rep")).as("vec_id"),
          col("embedding"))
      val vecArm = idx.topK(emb, queries, 30, nprobe = 4)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("r_vec"))
      // per-base term sets: base = (query_id - 1e6) / 5, replicas of one
      // base share their base's query (the expansion identity the oracle
      // relies on), different bases genuinely differ
      val qt = queries.select(col("vec_id").as("query_id"))
        .withColumn("term", explode(
          when(pmod(floor((col("query_id") - 1000000L) / 5), lit(2)) === 0,
            array(lit("dup"), lit("vector")))
          .otherwise(array(lit("dup"), lit("stream")))))
      val textArm = graft.operators.HybridSearch.rankArmBatch(
        fullInvIndex(s, dir).bm25Batch(qt, 30), col("score"), "r_text")
      graft.operators.HybridSearch.rrf2Batch(textArm, vecArm, k = 20)
        .orderBy(col("query_id"), col("rank"))
    },
      // the BATCH hybrid's replay (r15 verdict #7): each text-arm VARIANT
      // once — even bases declare (dup, vector), odd bases (dup, stream),
      // same integer-micro-unit BM25 CTEs as text_bm25/hybrid_search_rrf,
      // duplicated per term set — the vector arm once per BASE vector
      // (the persisted ivf-batch store's probe arithmetic, rank <= 30, NO
      // self-exclusion — query ids live in the disjoint replicated
      // space), the rank-only fusion per base joined to its parity's text
      // list with the engine's fixed text+vector addition order, then the
      // 5x expansion to the replicated query-id space. Any per-replica
      // divergence in either batch arm or the fusion is a hash mismatch.
      s"""WITH $bm25Corpus,
         |${bm25RankArm("t", Seq("dup", "vector"))},
         |${bm25RankArm("u", Seq("dup", "stream"))},
         |${Oracles.vectors},
         |${Oracles.ivfSeeds("v", IvfQueries.bootSlice, "16")},
         |${Oracles.ivfCells("v", "e", "vseeds")},
         |${Oracles.ivfFlatProbe("v", "e", "vseeds", 30, Seq(4), None, selfExclude = false)},
         |varm AS (
         |  SELECT query_id AS qbase, neighbor_id AS doc_id, CAST(rank AS INT) AS r_vec
         |  FROM vann),
         |bases AS (SELECT DISTINCT vec_id AS qbase FROM e),
         |texp AS (
         |  SELECT b.qbase, t.doc_id, t.r_text
         |  FROM bases b JOIN tarm t ON b.qbase % 2 = 0
         |  UNION ALL
         |  SELECT b.qbase, t.doc_id, t.r_text
         |  FROM bases b JOIN uarm t ON b.qbase % 2 = 1),
         |${rrfFusion("texp", Seq("qbase"))}
         |SELECT 1000000 + f.qbase * 5 + t.r AS query_id, f.doc_id,
         |  f.r_text, f.r_vec, f.rrf, f.rank
         |FROM fused f CROSS JOIN (SELECT unnest(range(0, 5)) AS r) t
         |ORDER BY query_id, rank""".stripMargin),

    // Top TF-IDF terms per document: map-side-combined (doc, term)
    // counts, broadcast vocabulary join, per-doc top-k window. nDocs
    // comes from the persisted index's O(1) committed stats slot (the
    // same value a corpus count would produce — the index bootstraps
    // from this exact table), not a per-run count(): at 100 TB a ranked
    // query never scans the corpus just to learn its size (r12 verdict
    // #7 — this was the last corpus-count-per-run in a declared query).
    QueryDef("tfidf_terms", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.tfIdfTopTerms(docs, fullInvIndex(s, dir).corpusStats._1, 3)
        .orderBy(col("doc_id"), col("rank"))
    },
      tfidfOracle("")),

    // The per-ingest production shape (r11 verdict #6): score ONLY the
    // delta's terms against the PERSISTED index's df and O(1) corpus
    // stats — tfidf_terms re-aggregates the corpus and counts it per
    // run; this twin's warm cost is the delta's tokens plus the delta
    // terms' posting lengths. Output equals the batch operator over the
    // same corpus restricted to the delta's doc_ids (the index's
    // postings derive from the same token kernel), so the oracle is the
    // tfidf_terms replay with the delta filter on the final projection.
    QueryDef("tfidf_terms_incr", (s, dir) => {
      val delta = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 50 === 0)
      fullInvIndex(s, dir).tfIdfTopTermsDelta(delta, 3)
        .orderBy(col("doc_id"), col("rank"))
    },
      // identical replay to tfidf_terms (df and nDocs over the FULL corpus
      // — what the persisted index holds) restricted to the delta docs
      tfidfOracle("WHERE tf.doc_id % 50 = 0"))
  )

  /** The session's full-corpus compacted inverted index, built ONCE per
    * session (IndexCache, r9 verdict #1) and shared by every read-only
    * text query (text_search / text_phrase / text_near / text_prefix /
    * text_search_lead / text_bm25*): the first run — and Verify, which
    * runs each query once — pays bootstrap + compact, so the oracle still
    * replays the full construction; warm bench runs reuse the committed
    * index and time the PROBE, which is what a production query pays.
    * Queries whose construction IS the measured semantics (the
    * incremental append of text_search_incr, the snapshot isolation of
    * text_search_asof, the uncompacted tail of inverted_stats, the
    * streaming ingest of stream_index_ingest) keep their own builds.
    */
  private def fullInvIndex(s: SparkSession, dir: String): graft.sources.InvertedIndex =
    IndexCache.getOrBuildVersioned(s, s"inv-full|$dir", dir) {
      val idx = new graft.sources.InvertedIndex(s, TempDirs.create(s, "graft-inv-idx"))
      idx.bootstrap(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      idx.compact(buckets = 8)
      idx
    }

  /** The hybrids' lexical arm: BM25 of (dup, vector) over the shared
    * index, top 30, ranked by score into `r_text`.
    */
  private def bm25TextArm(s: SparkSession, dir: String): DataFrame =
    graft.operators.HybridSearch.rankArm(
      fullInvIndex(s, dir).bm25(Seq("dup", "vector"), 30), col("score"), "r_text")

  /** BM25 CTEs `tok`, `meta` (n, avgdl) and `toks` (doc_id, doc_len,
    * term): the lowercased whitespace tokens of `documents`.
    */
  private lazy val bm25Corpus: String =
    s"""$tokLists,
       |meta AS (
       |  SELECT count(*) AS n, CAST(sum(length(tk)) AS DOUBLE) / count(*) AS avgdl
       |  FROM tok),
       |toks AS (
       |  SELECT doc_id, length(tk) AS doc_len, unnest(tk) AS term FROM tok)""".stripMargin

  /** BM25 (k1=1.2, b=0.75) of `terms` over [[bm25Corpus]]: `${pre}scored`
    * (doc_id, su) and its `k` best `${pre}top`. The per-(term, doc) score
    * replays InvertedIndex.bm25's expression tree verbatim and is snapped
    * to integer micro-units before the per-doc sum, so the compare is
    * bit-exact at any term count.
    */
  private def bm25Ctes(pre: String, terms: Seq[String], k: Int): String =
    s"""${pre}tf AS (
       |  SELECT doc_id, term, count(*) AS tf, any_value(doc_len) AS doc_len
       |  FROM toks WHERE term IN (${terms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY 1, 2),
       |${pre}dfreq AS (SELECT term, count(*) AS df FROM ${pre}tf GROUP BY 1),
       |${pre}scored AS (
       |  SELECT tf.doc_id,
       |    sum(CAST(floor(ln(1.0 + (meta.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
       |        ((tf.tf * 2.2) /
       |         (tf.tf + 1.2 * (0.25 + 0.75 * (tf.doc_len / meta.avgdl)))) *
       |        1000000.0 + 0.5) AS BIGINT)) AS su
       |  FROM ${pre}tf tf JOIN ${pre}dfreq dfreq ON tf.term = dfreq.term
       |  CROSS JOIN meta
       |  GROUP BY 1),
       |${pre}top AS (
       |  SELECT doc_id, su FROM ${pre}scored ORDER BY su DESC, doc_id LIMIT $k)""".stripMargin

  /** `${pre}arm` (doc_id, r_text): the hybrids' BM25 arm — the top 30 of
    * [[bm25Ctes]] ranked by the 4-digit presentation score, as
    * HybridSearch.rankArm ranks the returned list.
    */
  private def bm25RankArm(pre: String, terms: Seq[String]): String =
    s"""${bm25Ctes(pre, terms, 30)},
       |${pre}arm AS (
       |  SELECT doc_id, CAST(row_number() OVER (
       |    ORDER BY round(su / 1000000.0, 4) DESC, doc_id) AS INT) AS r_text
       |  FROM ${pre}top)""".stripMargin

  /** `fused` (keys, doc_id, r_text, r_vec, rrf, rank <= 20): rank-only
    * reciprocal-rank fusion (HybridSearch.rrf2, k0 = 60) of `textArm`
    * with the vector arm `varm`, full-outer-joined per `keys` and doc,
    * the reciprocal terms added text first as the engine adds them.
    */
  private def rrfFusion(textArm: String, keys: Seq[String]): String = {
    val ids = keys :+ "doc_id"
    val part = if (keys.isEmpty) "" else keys.mkString("PARTITION BY ", ", ", " ")
    s"""f AS (
       |  SELECT ${ids.map(c => s"coalesce(t.$c, v.$c) AS $c").mkString(", ")},
       |    t.r_text, v.r_vec,
       |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + t.r_text), 0.0) +
       |          coalesce(CAST(1.0 AS DOUBLE) / (60 + v.r_vec), 0.0), 6) AS rrf
       |  FROM $textArm t FULL OUTER JOIN varm v
       |    ON ${ids.map(c => s"t.$c = v.$c").mkString(" AND ")}),
       |fused AS (
       |  SELECT * FROM (
       |    SELECT *, CAST(row_number() OVER (${part}ORDER BY rrf DESC, doc_id)
       |      AS INT) AS rank
       |    FROM f) WHERE rank <= 20)""".stripMargin
  }

  /** BM25 oracle over `documents` for `terms`, top `k` ([[bm25Ctes]]). */
  private def bm25OracleSql(terms: Seq[String], k: Int): String =
    s"""WITH $bm25Corpus,
       |${bm25Ctes("", terms, k)}
       |SELECT doc_id, round(su / 1000000.0, 4) AS score FROM top
       |ORDER BY doc_id""".stripMargin

  /** `tok` (doc_id, tk): each document's lowercased token list. */
  private lazy val tokLists: String =
    s"""tok AS (
       |  SELECT doc_id, ${Oracles.tokens("lower(text)")} AS tk FROM documents)""".stripMargin

  /** [[tokLists]] and `terms` (doc_id, pos, term): every token with its
    * 1-based position, the index's position lists.
    */
  private lazy val termPositions: String =
    s"""$tokLists,
       |px AS (
       |  SELECT doc_id, tk, unnest(range(1, length(tk) + 1)) AS pos FROM tok),
       |terms AS (
       |  SELECT doc_id, CAST(pos AS INT) AS pos, tk[CAST(pos AS INT)] AS term
       |  FROM px)""".stripMargin

  /** `toks` (doc_id, term): the tokens of the `documents` rows `docs`
    * keeps; `tf` (doc_id, term, tf): their counts for the terms `terms`
    * keeps. Both filters are SQL WHERE clauses or empty.
    */
  private def termTfCtes(docs: String, terms: String): String =
    s"""toks AS (
       |  SELECT doc_id, unnest(${Oracles.tokens("lower(text)")}) AS term
       |  FROM documents $docs),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks $terms GROUP BY 1, 2)""".stripMargin

  /** Docs holding both `dup` and `vector` among the documents `docs`
    * keeps, by summed tf: every ingest path and plan of the conjunctive
    * search returns these rows (a snapshot read: only its generations).
    */
  private def dupVectorSearchOracle(docs: String): String =
    s"""WITH ${termTfCtes(docs, "WHERE term IN ('dup', 'vector')")},
       |hit AS (
       |  SELECT doc_id, count(DISTINCT term) AS m, sum(tf) AS s
       |  FROM tf GROUP BY 1)
       |SELECT doc_id, CAST(s AS BIGINT) AS tf_sum FROM hit
       |WHERE m = 2 ORDER BY doc_id""".stripMargin

  /** Docs matching any of dup/vector/merge, with matched-term count and
    * tf mass, kept by `having` (the OR, or minimum-should-match).
    */
  private def anyTermOracle(having: String): String =
    s"""WITH ${termTfCtes("", "WHERE term IN ('dup', 'vector', 'merge')")}
       |SELECT doc_id, CAST(count(*) AS INT) AS n_matched,
       |  CAST(sum(tf) AS BIGINT) AS tf_sum
       |FROM tf GROUP BY doc_id $having ORDER BY doc_id""".stripMargin

  /** Top-3 TF-IDF terms per document (df and nDocs over the full
    * corpus), for the documents `where` keeps.
    */
  private def tfidfOracle(where: String): String =
    s"""WITH ${termTfCtes("", "")},
       |dfreq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       |    round(tf.tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / dfreq.df), 4) AS tfidf
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term
       |  $where),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, tf, df, tfidf
       |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
}
