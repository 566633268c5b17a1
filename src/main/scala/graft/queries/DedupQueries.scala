package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.{Dedup, Sampling, Similarity}

/** Exact, near-duplicate and decontamination dedup: shingle, MinHash-LSH
  * (batch, incremental and over the persisted band index), SimHash,
  * embedding and semantic near-dup, span and winnowing signals, the LSH
  * near-dup clusters and the leakage-safe splits keyed on them. Owns the
  * MinHash-LSH pair CTEs every near-dup oracle replays.
  */
object DedupQueries {

  val defs: Seq[QueryDef] = Seq(
    // Incremental dedup across discrete runs: the delta (new docs + a
    // re-ingested slice of history + a doubled slice of itself) anti-joins
    // the historical FINGERPRINT store — O(delta + store), history text
    // never re-read. The bookmark story applied to dedup.
    QueryDef("dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val history = docs.filter(col("doc_id") <= mid)
      val hfp = history.select(GraftFunctions.poly_hash(col("text")).as("fingerprint"))
        .distinct()
      val delta = docs.filter(col("doc_id") > mid)
        .union(history.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .union(docs.filter(col("doc_id") > mid && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      Dedup.incrementalExact(hfp, delta).orderBy(col("keep_id"))
    },
      s"""WITH mx AS (SELECT max(doc_id) // 2 AS mid FROM documents),
         |hist AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id <= (SELECT mid FROM mx)),
         |hfp AS (SELECT DISTINCT ${Oracles.polyHash("text")} AS fingerprint FROM hist),
         |delta AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id > (SELECT mid FROM mx)
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM hist WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000, text FROM documents
         |  WHERE doc_id > (SELECT mid FROM mx) AND doc_id % 5 = 0),
         |fp AS (
         |  SELECT ${Oracles.polyHash("text")} AS fingerprint, doc_id FROM delta),
         |fresh AS (
         |  SELECT * FROM fp
         |  WHERE fingerprint NOT IN (SELECT fingerprint FROM hfp))
         |SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS n_dupes
         |FROM fresh GROUP BY fingerprint ORDER BY keep_id""".stripMargin),

    // Exact dedup: corpus unioned with a re-ingested copy (the reference's
    // duplicate-reload failure mode, medium/..._messed.jpeg) — one hash
    // aggregation keeps min doc_id per distinct text.
    QueryDef("dedup_exact", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.union(docs.withColumn("doc_id", col("doc_id") + lit(1000000L)))
      Dedup.exact(corpus).orderBy(col("keep_id"))
    },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_dupes
        |FROM corpus GROUP BY text ORDER BY keep_id""".stripMargin),

    // C4-style sub-document dedup: 8-token chunk instances survive only as
    // their global first occurrence; per-doc kept/total + kept fraction.
    QueryDef("dedup_lines", (s, dir) =>
      Dedup.chunkDedup(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), 8)
        .orderBy(col("doc_id")), {
      val W = 8 // chunkWords — must match the build above
      s"""WITH toks AS (
         |  SELECT doc_id, ${Oracles.tokens("text")} AS tk FROM documents),
         |c0 AS (
         |  SELECT doc_id, tk,
         |    unnest(range(0, CAST(ceil(len(tk) / $W.0) AS BIGINT))) AS cpos
         |  FROM toks),
         |c AS (
         |  SELECT doc_id, cpos,
         |    array_to_string(list_slice(tk, cpos*$W + 1, cpos*$W + $W), ' ') AS chunk
         |  FROM c0),
         |r AS (
         |  SELECT doc_id, cpos,
         |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cpos) AS rn
         |  FROM c),
         |own AS (
         |  SELECT doc_id, count(*) AS kept_chunks FROM r WHERE rn = 1
         |  GROUP BY doc_id),
         |tot AS (
         |  SELECT doc_id, CAST(ceil(len(tk) / $W.0) AS BIGINT) AS total_chunks
         |  FROM toks)
         |SELECT t.doc_id, t.total_chunks,
         |  coalesce(o.kept_chunks, 0) AS kept_chunks,
         |  CASE WHEN t.total_chunks = 0 THEN 0.0
         |    ELSE round(CAST(coalesce(o.kept_chunks, 0) AS DOUBLE)
         |      / t.total_chunks, 6) END AS kept_frac
         |FROM tot t LEFT JOIN own o USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    }),

    // Near-dup by 3-gram Jaccard >= 0.6 via shingle-key join (no cross join).
    QueryDef("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0), 3, 0.6)
        .orderBy(col("id_a"), col("id_b")), {
      val inter = "len(list_intersect(a.gs, b.gs))"
      s"""WITH sh AS (
         |  SELECT doc_id, ${Oracles.shingleHashes("text", 3)} AS gs
         |  FROM documents WHERE doc_id % 10 = 0)
         |SELECT * FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    round(CAST($inter AS DOUBLE) / (len(a.gs) + len(b.gs) - $inter), 6) AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin
    }),

    // Skew-safe variant: candidate pairs only from shingles with document
    // frequency <= 40 (stop-shingle pruning bounds every join key's
    // fan-out), exact verification on candidates.
    QueryDef("dedup_ngram_pruned", (s, dir) =>
      Dedup.ngramJaccardPairsPruned(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0), 3, 0.6, maxDf = 40)
        .orderBy(col("id_a"), col("id_b")),
      s"""WITH ${rareShingleCands(3)},
         |${jaccardPairs(0.6)}
         |SELECT * FROM mh_pairs ORDER BY id_a, id_b""".stripMargin),

    // Directed containment |A∩B|/|A| >= 0.5 over the same df-pruned
    // shingle join — catches a short doc quoted inside a long one, which
    // Jaccard's union-sized denominator hides. 5-gram shingles: the
    // 3-gram space saturates on this corpus (80% of pairs over the gate
    // — measured), 5-grams discriminate (3%).
    QueryDef("dedup_containment", (s, dir) =>
      // NOT spread (r18): A/B measured flat (3.0 -> 3.1 s) with HIGHER
      // task-summed GC — the gram join's heavy work already runs
      // post-exchange, so the extra text shuffle only allocates
      Dedup.containmentPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
        n = 5, threshold = 0.5, maxDf = 40)
        .orderBy(col("src_id"), col("dst_id")),
      s"""WITH ${rareShingleCands(5)},
         |scored AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) AS inter,
         |    CAST(len(ga.gs) AS DOUBLE) AS na, CAST(len(gb.gs) AS DOUBLE) AS nb
         |  FROM cand c
         |  JOIN sh ga ON c.id_a = ga.doc_id
         |  JOIN sh gb ON c.id_b = gb.doc_id),
         |directed AS (
         |  SELECT id_a AS src_id, id_b AS dst_id, round(inter / na, 6) AS containment
         |  FROM scored
         |  UNION ALL
         |  SELECT id_b AS src_id, id_a AS dst_id, round(inter / nb, 6) AS containment
         |  FROM scored)
         |SELECT * FROM directed WHERE containment >= 0.5
         |ORDER BY src_id, dst_id""".stripMargin),

    // MinHash(16) banded into 4 LSH buckets -> candidates -> exact Jaccard.
    QueryDef("dedup_minhash_lsh", (s, dir) =>
      // scale-adaptive input spread (r18, guide §2.5): the single-row-group
      // corpus file scans as ONE real task, so the shingle+minhash kernel —
      // the engine's most expensive per-row map work — ran single-threaded
      // until the band exchange (~0.9 s of a ~2.3 s query on 32 cores;
      // warm median 2.23 -> 0.84 s spread). Applied at THIS call site, not
      // inside the operator: the fixpoint consumers of the same pairs
      // (dedup_clusters/keep_best/kfold/leakage) are stage-count-bound and
      // MEASURABLY regress under the extra exchange (clusters ~2.8 ->
      // ~3.4 s), and the incremental variant is delta-sized — the spread
      // pays only where the kernel dominates the wall.
      Dedup.minhashLshPairs(
        Tables.spread(Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
          col("doc_id")),
        n = 3, k = 16, bands = 4, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b")),
      s"""WITH $minhashPairsCtes
         |SELECT * FROM mh_pairs ORDER BY id_a, id_b""".stripMargin),

    // Incremental near-dup sweep: ONLY the delta (doc_id % 50 == 0) is
    // banded; it probes the existing corpus's band index. Emits exactly
    // the full sweep's pairs that involve a delta doc — the invariant the
    // oracle hashes (full mh_pairs filtered to delta-involved rows).
    QueryDef("dedup_incr_lsh", (s, dir) => {
      val universe = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      Dedup.minhashLshPairsIncremental(
        universe.filter(col("doc_id") % 50 =!= 0),
        universe.filter(col("doc_id") % 50 === 0),
        n = 3, k = 16, bands = 4, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    },
      // the incremental sweep's contract IS this filter: banding only the
      // delta and probing the corpus index must emit exactly the full
      // sweep's delta-involved pairs
      incrLshOracle),

    // The PERSISTED-index production shape of the same sweep: run 0
    // bootstraps the corpus band index as a stored parquet table, run 1
    // bands ONLY the delta, probes the stored index (the old corpus is
    // never re-shingled), sinks the verified pairs, then appends the
    // delta's bands commit-after-sink (bookmark discipline). Same output
    // contract — the oracle is identical to dedup_incr_lsh.
    QueryDef("dedup_incr_lsh_indexed", (s, dir) => {
      val universe = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      // index storage under the spark-visible scratch root (executors
      // write/read it; the watermark properties file is driver-side O(1)
      // state on shared storage, same contract as the job bookmark)
      val idx = new graft.sources.LshBandIndex(
        s, TempDirs.create(s, "graft-lsh-idx"), n = 3, k = 16, bands = 4)
      idx.bootstrap(universe.filter(col("doc_id") % 50 =!= 0))
      // compacted = the steady-state production layout: the stored side of
      // the probe is a bucketed scan with NO exchange (LshBandIndexSpec);
      // output is spec-identical to the generation layout
      idx.compact(buckets = 8)
      val out = TempDirs.create(s, "graft-lsh-sweep")
      idx.sweepAndAppend(universe, universe.filter(col("doc_id") % 50 === 0),
        threshold = 0.6) { pairs =>
        pairs.write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("id_a"), col("id_b"))
    },
      // the persisted-index path must emit the SAME delta-involved pairs as
      // the recompute path — one oracle pins both implementations
      incrLshOracle),

    // The capped production sweep: same persisted index, but the delta's
    // band rows at STOPPED keys (bucket occupancy > 4 in the compacted
    // history — the mega-buckets lsh_band_stats surfaces) are excluded
    // from candidate generation via a broadcast anti-join. At 100 TB this
    // is what keeps a boilerplate-heavy ingest from enumerating a
    // million-doc bucket's O(n^2) pairs; recall loss is bounded by the
    // banding theorem (a pair is lost only if stopped buckets were its
    // ONLY agreeing bands) and the oracle replays the exclusion exactly.
    // Index build + stop list are session-cached; the warm runs time the
    // capped delta sweep alone. Each cached index takes one keyed ingest
    // (batch 0), so the replayed append is a no-op.
    QueryDef("dedup_lsh_capped", (s, dir) => {
      val universe = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      val idx = IndexCache.getOrBuildVersioned(s, s"lsh-cap|$dir", dir) {
        val i = new graft.sources.LshBandIndex(
          s, TempDirs.create(s, "graft-lsh-cap"), n = 3, k = 16, bands = 4)
        i.bootstrap(universe.filter(col("doc_id") % 50 =!= 0))
        i.compact(buckets = 8)
        i
      }
      val out = TempDirs.create(s, "graft-lsh-cap-sweep")
      idx.sweepAndAppend(universe, universe.filter(col("doc_id") % 50 === 0),
        threshold = 0.6, batchId = Some(0L),
        stopBands = Some(idx.stopBands(cap = 4))) { pairs =>
        pairs.write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy(col("id_a"), col("id_b"))
    }, {
      // the capped sweep's exclusion, replayed literally: stop = history
      // buckets (the compacted content) with occupancy > 4; the delta's
      // band rows at stopped keys are anti-joined away BEFORE candidate
      // generation, then the usual delta-probe + jaccard verify. Filtering
      // the delta side alone is exact: a row at a stopped key can only
      // pair with a delta row at the same (now absent) key.
      s"""WITH ${minhashBandCtes(sampleDocs)},
         |stop AS (
         |  SELECT band, band_key FROM bnd WHERE doc_id % 50 != 0
         |  GROUP BY 1, 2 HAVING count(*) > 4),
         |dbnd AS (
         |  SELECT d.* FROM bnd d ANTI JOIN stop s
         |    ON d.band = s.band AND d.band_key = s.band_key
         |  WHERE d.doc_id % 50 = 0),
         |cand AS (
         |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS id_a,
         |    greatest(x.doc_id, y.doc_id) AS id_b
         |  FROM dbnd x JOIN bnd y
         |    ON x.band = y.band AND x.band_key = y.band_key
         |      AND x.doc_id != y.doc_id),
         |${jaccardPairs(0.6)}
         |SELECT * FROM mh_pairs ORDER BY id_a, id_b""".stripMargin
    }),

    // Band-index maintenance telemetry: per band, bucket count / rows /
    // largest bucket / exact candidate-pair bound sum n*(n-1)/2 — the
    // probe join's worst-case output, i.e. where an operator sees a
    // template-heavy corpus's candidate blow-up BEFORE an ingest sweep
    // goes quadratic (the termStats / ivf_balance analogue for bands).
    // One aggregation grouped on the index's own storage key.
    QueryDef("lsh_band_stats", (s, dir) => {
      val idx = IndexCache.getOrBuildVersioned(s, s"lsh-stats|$dir", dir) {
        val i = new graft.sources.LshBandIndex(
          s, TempDirs.create(s, "graft-lsh-stats"), n = 3, k = 16, bands = 4)
        i.bootstrap(Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text")))
        i.compact(buckets = 8)
        i
      }
      idx.bandStats.orderBy(col("band"))
    }, {
      s"""WITH ${minhashBandCtes(sampleDocs)},
         |b AS (SELECT band, band_key, count(*) AS n FROM bnd GROUP BY 1, 2)
         |SELECT CAST(band AS INT) AS band, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(n) AS BIGINT) AS n_rows, CAST(max(n) AS BIGINT) AS max_bucket,
         |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
         |FROM b GROUP BY band ORDER BY band""".stripMargin
    }),

    // Near-dup connected components over the LSH pairs: cluster_id = the
    // representative each dedup cluster keeps (min-label propagation).
    QueryDef("dedup_clusters", (s, dir) =>
      Dedup.nearDupClusters(
        Dedup.minhashLshPairs(
          Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
          n = 3, k = 16, bands = 4, threshold = 0.6))
        .orderBy(col("doc_id")),
      s"""WITH RECURSIVE $clusterCtes
         |SELECT * FROM cl ORDER BY doc_id""".stripMargin),

    // Quality-aware retention: in each LSH near-dup cluster keep the
    // longest member (ties to smallest doc_id) — the retention policy a
    // production pipeline ships, as a partial-aggregating argmax, never a
    // per-cluster sort.
    QueryDef("dedup_keep_best", (s, dir) => {
      val sub = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      Dedup.keepBestPerCluster(
        Dedup.nearDupClusters(Dedup.minhashLshPairs(
          sub.select(col("doc_id"), col("text")), n = 3, k = 16, bands = 4,
          threshold = 0.6)),
        sub, col("n_chars"))
        .orderBy(col("cluster_id"))
    },
      // replays the cluster CTE, then keep-best = row_number over
      // (n_chars DESC, doc_id) per cluster
      s"""WITH RECURSIVE $clusterCtes,
         |j AS (
         |  SELECT c.cluster_id, c.doc_id, d.n_chars
         |  FROM cl c JOIN documents d USING (doc_id)),
         |r AS (
         |  SELECT cluster_id, doc_id, n_chars,
         |    row_number() OVER (
         |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_docs
         |  FROM j)
         |SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_quality, n_docs
         |FROM r WHERE rn = 1 AND n_docs >= 2 ORDER BY cluster_id""".stripMargin),

    // 16-bit SimHash, hamming <= 3 via the chunk-key candidate trick.
    QueryDef("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
        bits = 16, maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")),
      s"""WITH toks AS (
         |  SELECT doc_id, list_transform(${Oracles.tokens("text")}, w -> ${Oracles.polyHash("w")}) AS th
         |  FROM documents WHERE doc_id % 10 = 0),
         |shs AS (SELECT doc_id, ${Oracles.simhash("th", 16)} AS sh FROM toks),
         |keyed AS (
         |  SELECT doc_id, sh, t.chunk AS chunk, (sh >> (t.chunk * 4)) & 15 AS chunk_key
         |  FROM shs CROSS JOIN (SELECT unnest(range(0, 4)) AS chunk) t)
         |SELECT * FROM (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |    CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
         |  FROM keyed x JOIN keyed y
         |    ON x.chunk = y.chunk AND x.chunk_key = y.chunk_key AND x.doc_id < y.doc_id)
         |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),

    // Embedding near-dup pairs via the LSH-bucketed scale path: candidates
    // from 8x8-bit random-hyperplane buckets, exact cosine >= 0.3 only on
    // candidates. The brute-force all-pairs variant survives solely as the
    // spec-level recall/equality check (DedupSpec).
    QueryDef("dedup_embedding", (s, dir) =>
      Dedup.embeddingPairs(Tables.embeddings(s, dir), 0.3, bucketed = true)
        .orderBy(col("id_a"), col("id_b")),
      bucketPairsOracle(
        s"""bk AS (SELECT vec_id, v, ${Oracles.hyperplaneBits("v", "64", 64)} AS bits FROM e),
           |keyed AS (
           |  SELECT vec_id, v, t.tbl AS tbl, ${Oracles.bucketFromBits("bits", "t.tbl", "8")} AS bucket
           |  FROM bk CROSS JOIN (SELECT unnest(range(0, 8)) AS tbl) t)""".stripMargin)),

    // The Sizing-derived LSH family AS a declared query (the LSH twin of
    // sim_ivf_auto): bits = clamp(ceil(log2 n), 8, 30) and tables =
    // min(8, 64/bits) come from one corpus count — and the ORACLE replays
    // the derivation in SQL, so the bits~log2(n) operating rule is itself
    // oracle-checked. perBucket=1 lands off the clamp floor (9 bits, 7
    // tables at sf0.01) so the derivation demonstrably gates the keys.
    QueryDef("dedup_embedding_auto", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bits = Similarity.Sizing.lshBits(emb.count(), perBucket = 1)
      val tables = Similarity.Sizing.lshTables(bits)
      Dedup.embeddingPairs(emb, 0.3, bucketed = true, tables = tables, bits = bits)
        .orderBy(col("id_a"), col("id_b"))
    },
      // bits and tables are DERIVED inside the oracle from count(*) —
      // mirrors Sizing.lshBits(n, perBucket=1) / lshTables exactly, then
      // gates the plane count, the key width, and the table fan-out, so a
      // drifted derivation breaks the hash
      bucketPairsOracle(
        s"""nl AS (SELECT GREATEST(8, LEAST(30,
           |  CAST(ceil(log2(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS bits FROM e),
           |tb AS (SELECT bits, GREATEST(1, LEAST(8, 64 // bits)) AS tables FROM nl),
           |bk AS (SELECT vec_id, v, bits,
           |  ${Oracles.hyperplaneBits("v", "bits*tables", 64)} AS bl
           |  FROM e CROSS JOIN tb),
           |ke AS (SELECT vec_id, v, bits, bl,
           |  unnest(range(0, (SELECT tables FROM tb))) AS tbl FROM bk),
           |keyed AS (
           |  SELECT vec_id, v, tbl,
           |    ${Oracles.bucketFromBits("bl", "tbl", "bits")} AS bucket
           |  FROM ke)""".stripMargin)),

    // SemDeDup-style semantic near-dup pairs: k-means clusters as the
    // candidate prefilter (same deterministic 2-round/8-centroid family as
    // kmeans_assign), exact cosine only within a cluster — the published
    // alternative to dedup_embedding's LSH buckets. One shuffle on the
    // cluster id; quadratic work bounded per-cluster.
    QueryDef("dedup_semantic", (s, dir) =>
      Dedup.semanticPairs(Tables.embeddings(s, dir), 0.3, k = 8, iters = 2)
        .orderBy(col("id_a"), col("id_b")),
      s"""WITH ${VectorQueries.kmeansCtes}
         |SELECT * FROM (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |    round(${Oracles.cosine("x.v", "y.v", 64)}, 6) AS cosine
         |  FROM a2 x JOIN a2 y ON x.c = y.c AND x.vec_id < y.vec_id)
         |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin),

    // Window-hash exact-substring dedup signal (Lee et al. 2022): per-doc
    // fraction of tokens inside an 8-token window whose rolling hash occurs
    // in >= 2 distinct docs. Codegen'd O(n) span hashing, one span-hash
    // shuffle, interval-merged coverage (never explodes span positions).
    QueryDef("dedup_spans", (s, dir) =>
      Dedup.duplicatedSpanCoverage(Tables.documents(s, dir), spanLen = 8)
        .orderBy(col("doc_id")), {
      val L = 8
      s"""WITH toks AS (
         |  SELECT doc_id, list_transform(${Oracles.tokens("text")}, w -> ${Oracles.polyHash("w")}) AS th
         |  FROM documents),
         |sp0 AS (
         |  SELECT doc_id, len(th) AS n_tokens, th,
         |    unnest(range(1, len(th) - ${L - 2})) AS i
         |  FROM toks),
         |sp AS (
         |  SELECT doc_id, n_tokens, i,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, i, i + ${L - 1})),
         |      (acc, h) -> (acc*31 + h) % ${Oracles.P}) AS span_hash
         |  FROM sp0),
         |dup AS (SELECT span_hash FROM sp GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2),
         |ds AS (SELECT sp.doc_id, sp.n_tokens, sp.i AS s, sp.i + ${L - 1} AS e
         |       FROM sp JOIN dup USING (span_hash)),
         |m AS (SELECT doc_id, n_tokens, s, e,
         |        max(e) OVER (PARTITION BY doc_id ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
         |      FROM ds),
         |cov AS (SELECT doc_id, n_tokens,
         |          sum(greatest(0, e - greatest(s - 1, coalesce(prev_e, 0)))) AS dup_tokens
         |        FROM m GROUP BY doc_id, n_tokens)
         |SELECT doc_id, n_tokens, CAST(dup_tokens AS BIGINT) AS dup_tokens,
         |  round(CAST(dup_tokens AS DOUBLE) / n_tokens, 6) AS dup_frac
         |FROM cov ORDER BY doc_id""".stripMargin
    }),

    // Winnowing fingerprints (MOSS, Schleimer et al. 2003): min-of-window
    // selection over the same span-hash kernel as dedup_spans keeps
    // ~2/(window+1) of spans; df-pruned fingerprint equi-join; overlap =
    // shared / min(|fp_a|, |fp_b|) over the pruned sets.
    QueryDef("dedup_winnow", (s, dir) =>
      Dedup.winnowPairs(Tables.documents(s, dir), spanLen = 8, window = 4,
        minShared = 2, maxDf = 50)
        .orderBy(col("id_a"), col("id_b")), {
      // replays winnowPairs end-to-end: the dedup_spans span-hash kernel,
      // min-of-4-window fingerprint selection (full windows only), distinct
      // per-doc fps, df <= 50 pruning, pair join with shared >= 2, overlap
      // over the PRUNED per-doc fingerprint counts
      val L = 8  // spanLen — must match the build above
      val W = 4  // window
      s"""WITH toks AS (
         |  SELECT doc_id, list_transform(${Oracles.tokens("text")}, w -> ${Oracles.polyHash("w")}) AS th
         |  FROM documents),
         |sp0 AS (
         |  SELECT doc_id, th,
         |    unnest(range(1, len(th) - ${L - 2})) AS i
         |  FROM toks),
         |sp AS (
         |  SELECT doc_id, i, count(*) OVER (PARTITION BY doc_id) AS n_spans,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, i, i + ${L - 1})),
         |      (acc, h) -> (acc*31 + h) % ${Oracles.P}) AS span_hash
         |  FROM sp0),
         |fp0 AS (
         |  SELECT doc_id, i, n_spans,
         |    min(span_hash) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS fp
         |  FROM sp),
         |fps AS (SELECT DISTINCT doc_id, fp FROM fp0 WHERE i <= n_spans - ${W - 1}),
         |dffp AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
         |kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN dffp USING (fp)),
         |nfp AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
         |pairs AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared_fps
         |  FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT p.id_a, p.id_b, CAST(p.shared_fps AS BIGINT) AS shared_fps,
         |  round(CAST(p.shared_fps AS DOUBLE) / least(a.n_fp, b.n_fp), 6) AS overlap
         |FROM pairs p
         |JOIN nfp a ON a.doc_id = p.id_a
         |JOIN nfp b ON b.doc_id = p.id_b
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // Decontamination sweep: train docs sharing >= 5 distinct 8-char
    // grams with the (simulated, doc_id % 50 == 0) eval set.
    QueryDef("decontam_overlap", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Dedup.crossOverlapPairs(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0), n = 8, minShared = 5L)
        .orderBy(col("train_id"), col("bench_id"))
    },
      s"""WITH b AS (
         |  SELECT doc_id AS bench_id, unnest(${Oracles.shingleHashes("text", 8)}) AS g
         |  FROM documents WHERE doc_id % 50 = 0),
         |t AS (
         |  SELECT doc_id AS train_id, unnest(${Oracles.shingleHashes("text", 8)}) AS g
         |  FROM documents WHERE doc_id % 50 <> 0)
         |SELECT t.train_id, b.bench_id, count(*) AS n_shared
         |FROM t JOIN b ON t.g = b.g
         |GROUP BY t.train_id, b.bench_id HAVING count(*) >= 5
         |ORDER BY t.train_id, b.bench_id""".stripMargin),

    // Leakage-safe split: the split key is the near-dup cluster
    // representative (min-label propagation over the LSH pairs), so a
    // test doc's near-duplicates can never land in train — cross-split
    // near-dup pairs are zero by construction, not by luck.
    QueryDef("leakage_split", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      Sampling.leakageSafeSplit(docs,
        Dedup.minhashLshPairs(docs, n = 3, k = 16, bands = 4, threshold = 0.6),
        trainPct = 0.8)
        .orderBy(col("doc_id"))
    },
      // replays leakageSafeSplit: the dedup_clusters representative as the
      // split key (singletons are their own rep), then the sample_split
      // hash-threshold — hash-comparing every (doc_id, cluster_id, split)
      // row checks the zero-cross-split-leakage invariant by construction,
      // since any near-dup pair shares cluster_id and therefore split
      clusterKeyOracle(
        s"""CASE WHEN ${Oracles.sampleBucket("CAST(cluster_id AS VARCHAR)", 1000)} < 800
           |    THEN 'train' ELSE 'test' END AS split""".stripMargin)),

    // Leakage-safe K-FOLD: the same cluster-representative key hashed
    // into 5 folds — no fold's held-out set has a near-dup in another
    // fold, by construction (spec-asserted cluster-fold functional
    // dependency).
    QueryDef("kfold_split", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      Sampling.kFoldSplit(docs,
        Dedup.minhashLshPairs(docs, n = 3, k = 16, bands = 4, threshold = 0.6),
        k = 5)
        .orderBy(col("doc_id"))
    },
      // Same recursive-component chain as leakage_split; the fold is the
      // cluster representative hashed mod 5.
      clusterKeyOracle(
        s"${Oracles.sampleBucket("CAST(cluster_id AS VARCHAR)", 5)} AS fold")),

    // Bloom-prefiltered decontamination: bench grams sketched into a
    // Bloom filter (codegen'd might_contain prefilter, map-only), exact
    // verify join over survivors only — result identical to the exact
    // path, never approximate. Different params than decontam_overlap
    // (6-char grams, >= 3 shared) so both paths stay independently gated.
    QueryDef("bloom_decontam", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // the eval-suite sketch is fixed state a production pipeline holds
      // deployed (the pipe-bloom discipline): built once per session —
      // cold runs and Verify still pay the build; warm runs time the
      // corpus prefilter scan + exact verify, which IS the operator.
      // The cache key folds the table dir's version fingerprint
      // (getOrBuildVersioned), so a mutated/appended eval slice under
      // the same dir rebuilds the sketch instead of silently
      // false-negative-pruning real contamination (a bloom only
      // guarantees no false negatives for items actually inserted).
      val bloom = IndexCache.getOrBuildVersioned(s, s"decontam-bloom|$dir", dir) {
        Dedup.gramBloom(docs.filter(col("doc_id") % 50 === 0), n = 6)
      }
      // train-side input spread at the call site (r18, the
      // dedup_minhash_lsh rule): the 6-gram explode + bloom probe is the
      // query's dominant stage and otherwise runs on the scan's one real
      // task; pipeline_e2e_incr's delta-sized decontamination stage is
      // deliberately NOT spread (the corpus_clean_incr lesson)
      Dedup.crossOverlapPairsBloomWith(
          Tables.spread(docs.filter(col("doc_id") % 50 =!= 0), col("doc_id")),
          docs.filter(col("doc_id") % 50 === 0), n = 6, minShared = 3L,
          bloom = bloom)
        .orderBy(col("train_id"), col("bench_id"))
    },
      // exact SQL: the bloom prefilter provably does not change the result
      s"""WITH b AS (
         |  SELECT doc_id AS bench_id, unnest(${Oracles.shingleHashes("text", 6)}) AS g
         |  FROM documents WHERE doc_id % 50 = 0),
         |t AS (
         |  SELECT doc_id AS train_id, unnest(${Oracles.shingleHashes("text", 6)}) AS g
         |  FROM documents WHERE doc_id % 50 <> 0)
         |SELECT t.train_id, b.bench_id, count(*) AS n_shared
         |FROM t JOIN b ON t.g = b.g
         |GROUP BY t.train_id, b.bench_id HAVING count(*) >= 3
         |ORDER BY t.train_id, b.bench_id""".stripMargin)
  )

  /** The %10 documents sample every MinHash oracle bands. */
  private final val sampleDocs =
    "(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)"

  /** Every %10-sample doc with its near-dup cluster representative (a
    * singleton is its own) and the `assignment` column hashed from it —
    * a near-dup pair shares its cluster, so it can never straddle two
    * splits or folds.
    */
  private def clusterKeyOracle(assignment: String): String =
    s"""WITH RECURSIVE $clusterCtes,
       |d AS (
       |  SELECT d0.doc_id, coalesce(cl.cluster_id, d0.doc_id) AS cluster_id
       |  FROM $sampleDocs d0 LEFT JOIN cl ON cl.doc_id = d0.doc_id)
       |SELECT doc_id, cluster_id, $assignment
       |FROM d ORDER BY doc_id""".stripMargin

  /** Embedding pairs sharing an LSH bucket (Dedup.embeddingPairs,
    * bucketed) with 6-rounded cosine >= 0.3; `keyedCtes` defines `keyed`
    * (vec_id, v, tbl, bucket) over `e`.
    */
  private def bucketPairsOracle(keyedCtes: String): String =
    s"""WITH ${Oracles.vectors},
       |$keyedCtes,
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b, x.v AS va, y.v AS vb
       |  FROM keyed x JOIN keyed y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |SELECT * FROM (
       |  SELECT id_a, id_b, round(${Oracles.cosine("va", "vb", 64)}, 6) AS cosine
       |  FROM cand)
       |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin

  /** `sh` (doc_id, gs): the hashed `n`-gram shingles of the %10 sample;
    * `cand` (id_a < id_b): its pairs sharing a shingle that at most 40
    * documents hold (Dedup's rare-shingle candidates).
    */
  private def rareShingleCands(n: Int): String =
    s"""sh AS (
       |  SELECT doc_id, ${Oracles.shingleHashes("text", n)} AS gs FROM $sampleDocs),
       |g AS (SELECT doc_id, unnest(gs) AS g FROM sh),
       |rare AS (SELECT g FROM g GROUP BY g HAVING count(*) <= 40),
       |rg AS (SELECT doc_id, g.g FROM g JOIN rare USING (g)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rg a JOIN rg b ON a.g = b.g AND a.doc_id < b.doc_id)""".stripMargin

  /** MinHash(16) of the 3-char shingles of the (doc_id, text) source
    * `src`, banded 4 x 4 (Dedup.minhashBands): `sh` (doc_id, gs), `sigs`
    * and `bnd` (doc_id, band, band_key).
    */
  private def minhashBandCtes(src: String): String = {
    val bkeys = (0 until 4).map(bi => Oracles.bandKey("sig", bi, 4)).mkString("[", ", ", "]")
    s"""sh AS (
       |  SELECT doc_id, ${Oracles.shingleHashes("text", 3)} AS gs FROM $src),
       |sigs AS (SELECT doc_id, ${Oracles.minhashSignature("gs", 16)} AS sig FROM sh),
       |bnd AS (
       |  SELECT doc_id, t.band AS band, $bkeys[t.band + 1] AS band_key
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) t)""".stripMargin
  }

  /** `mh_pairs` (id_a, id_b, jaccard): the candidate pairs `cand` kept
    * where their exact shingle Jaccard over `sh`, rounded to 6 first,
    * reaches `threshold` (Dedup's shared verify).
    */
  private def jaccardPairs(threshold: Double): String =
    s"""mh_pairs AS (
       |  SELECT * FROM (
       |    SELECT c.id_a, c.id_b,
       |      round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
       |        / len(list_distinct(ga.gs || gb.gs)), 6) AS jaccard
       |    FROM cand c
       |    JOIN sh ga ON c.id_a = ga.doc_id
       |    JOIN sh gb ON c.id_b = gb.doc_id)
       |  WHERE jaccard >= $threshold)""".stripMargin

  /** MinHash-LSH near-dup pairs `mh_pairs` of the (doc_id, text) source
    * `src` at `threshold`: [[minhashBandCtes]], band-collision candidates
    * and [[jaccardPairs]].
    */
  private[queries] def minhashPairsCtesOver(src: String, threshold: Double): String =
    s"""${minhashBandCtes(src)},
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bnd x JOIN bnd y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |${jaccardPairs(threshold)}""".stripMargin

  /** The 0.6 pairs of the %10 sample that dedup_minhash_lsh, the
    * incremental sweeps and every cluster consumer replay.
    */
  private[queries] def minhashPairsCtes: String = minhashPairsCtesOver(sampleDocs, 0.6)

  /** Near-dup components over [[minhashPairsCtes]]
    * (Dedup.nearDupClusters): `edges` both ways plus self loops, the
    * recursive `reach`, and `cl` (doc_id, cluster_id = the least
    * reachable id). Its WITH must be RECURSIVE.
    */
  private def clusterCtes: String =
    s"""$minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM mh_pairs
       |  UNION SELECT id_b, id_a FROM mh_pairs
       |  UNION SELECT id_a, id_a FROM mh_pairs
       |  UNION SELECT id_b, id_b FROM mh_pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  /** MinHash-LSH pairs with a delta member (doc_id % 50 = 0): both the
    * re-signing and the persisted-index sweeps return exactly these.
    */
  private lazy val incrLshOracle: String =
    s"""WITH $minhashPairsCtes
       |SELECT * FROM mh_pairs WHERE id_a % 50 = 0 OR id_b % 50 = 0
       |ORDER BY id_a, id_b""".stripMargin
}
