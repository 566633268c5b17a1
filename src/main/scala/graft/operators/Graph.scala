package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph propagation as repeated join + aggregate — the Spark
  * formulation of PageRank-style scoring (no GraphX dependency; the
  * score table is (node, score), never adjacency in driver memory).
  *
  * Each iteration is: edges ⋈ scores on src (the big shuffle, on the
  * same key every round so the exchange is reusable), divide by
  * out-degree, group-sum by dst. State between rounds is one row per
  * node — at 100 TB of edges the iteration cost is the edge shuffle,
  * and the score/degree sides stay node-sized.
  *
  * Determinism for the oracle: per-node contributions sum in shuffle
  * order, so each round's score is rounded to 9 decimals on
  * BOTH engines before feeding the next round — the carried state is
  * bit-identical, and only the final low-order digit of a fresh sum
  * could ever disagree (probability ~ ulp / 10^-9 per node).
  */
object Graph {

  /** The orientation stage of [[triangleCounts]]: undirected edges
    * canonicalized, deduped, and oriented toward the higher (degree, id)
    * endpoint. Returns (u, w, dw) with `dw` the head's degree so
    * downstream can order heads without re-joining the degree table.
    */
  private def orientByDegree(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("id_a"), col("id_b")).as("a"), greatest(col("id_a"), col("id_b")).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("w"), col("db").as("dw")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("w"), col("da").as("dw")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"), col("o.dw").as("dw"))
  }

  /** Per-node triangle participation counts over an undirected edge
    * list — the node-iterator++ formulation as two equi-joins, never a
    * cross product.
    *
    * Edges canonicalize, dedupe, and then orient toward the HIGHER
    * (degree, id) endpoint ([[orientByDegree]]) — the degree-ordering
    * that makes triangle counting skew-proof while staying exact: every
    * triangle {x,y,z} with rank(x) < rank(y) < rank(z) is enumerated
    * exactly once as the wedge (x→y, x→z) closed by the oriented edge
    * y→z, and a node's out-degree under this orientation is O(sqrt(m))
    * regardless of its raw degree (a vertex only points at neighbors at
    * least as high in the degree order). r5's min-ID orientation let one
    * near-dup hub with raw degree d fan out d²/2 wedges (7.6 s warm on a
    * denser corpus); degree-ordering caps the same hub's wedge fan-out
    * at O(m) total. Both joins shuffle on a single vertex key; each
    * found triangle credits all three corners via one explode + count.
    *
    * The oriented edge list is pinned ([[graft.Residue.pin]]): the two
    * self-join arms and the closing join would otherwise re-derive the
    * candidate pairs (here: a whole MinHash-LSH pipeline) three times per
    * action; the pin is freed at the end-of-query drain.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = graft.Residue.pin(orientByDegree(edges))
    val wedges = e.as("e1").join(e.as("e2"),
        col("e1.u") === col("e2.u") &&
          struct(col("e1.dw"), col("e1.w")) < struct(col("e2.dw"), col("e2.w")))
      .select(col("e1.u").as("wa"), col("e1.w").as("wb"), col("e2.w").as("wc"))
    val tri = wedges.join(e.as("e3"),
        col("wb") === col("e3.u") && col("wc") === col("e3.w"))
      .select(col("wa"), col("wb"), col("wc"))
    tri.select(explode(array(col("wa"), col("wb"), col("wc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** `iters` rounds of PageRank over directed `edges(src, dst)` with
    * damping 0.85 and teleport mass 0.15, each round's scores rounded to
    * 9 decimals. Every node must appear as a src (symmetrize the edge
    * list for undirected graphs) so there are no dangling-mass
    * corrections. The node-sized score side ships as a broadcast, so each
    * round is one edge-side shuffle (the group-sum).
    * Returns (node, out_deg, score).
    */
  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    // materialize the edge list and degree table ONCE: without the tracked
    // pin each iteration's join re-derives them from source (at 100 TB that
    // is `iters` full scans of the input instead of one); both pins are
    // freed by the end-of-query drain, unlike checkpoint blocks
    // the degree join is loop-invariant: attach out_deg to the edge list
    // ONCE and pin that, instead of re-joining deg inside every iteration
    // (saves one broadcast join per round — iters * a full edge pass at
    // scale); deg itself is pinned for the node frame and the final join
    val deg = graft.Residue.pin(edges.select(col("src"), col("dst"))
      .groupBy("src").agg(count(lit(1)).as("out_deg")))
    val e = graft.Residue.pin(edges.select(col("src"), col("dst"))
      .join(deg, "src"))
    val nodes = deg.select(col("src").as("node"), col("out_deg"))
    // O(1) driver scalar, same pattern as the tf-idf corpus size
    val n = nodes.count()
    var scores = nodes.select(col("node"), lit(1.0 / n).as("score"))
    for (_ <- 1 to iters) {
      scores = e
        .join(broadcast(scores.withColumnRenamed("node", "src")), "src")
        .groupBy(col("dst").as("node"))
        .agg(round(lit(0.15 / n) +
          lit(0.85) * sum(col("score") / col("out_deg")), 9).as("score"))
    }
    nodes.join(scores, "node").select("node", "out_deg", "score")
  }

  /** Deterministic random walks — the node2vec/DeepWalk sampling stage of
    * an embedding-training pipeline, with the randomness replaced by the
    * portable [[graft.functions.GraftFunctions.poly_hash]] so walks are
    * reproducible across runs, repartitioning, and engines (the DuckDB
    * oracle replays every step). One walk starts at every node with
    * out-degree >= 1; at step t the walker at `cur` moves to
    * `nbrs[poly_hash(start:t:cur) % degree]` over the node's SORTED
    * neighbor list.
    *
    * Dead-end semantics (r8 verdict #7): on a DIRECTED graph a walk can
    * reach a node with no outgoing edges before `steps` hops. The walk
    * then ENDS there — its path simply stops growing (the DeepWalk "walk
    * until length or dead end" rule), emitting rows only for the steps it
    * actually took. The step join is therefore a LEFT join against the
    * adjacency with the walker frozen on the null side; the old inner
    * join silently dropped the walker's ENTIRE row — erasing even the
    * steps already taken from the output (wrong on any directed input;
    * invisible on symmetric graphs, where every reachable node has
    * out-edges). Spec-pinned with a dead-end fixture in GraphSpec.
    *
    * Scale shape: adjacency is (node, sorted nbrs) — built once with one
    * groupBy; each step is one join of the node-sized walker frontier
    * against it, keyed the same way every round (the PageRank iteration
    * discipline). The path accumulates as an array column on the frontier
    * — walk state is rows × steps longs, never edge-sized. Returns long
    * format (start, step, node), step 0 = the start itself.
    */
  def deterministicWalks(edges: DataFrame, steps: Int): DataFrame = {
    import graft.functions.GraftFunctions.poly_hash
    require(steps >= 1)
    val adj = edges.groupBy(col("src").as("node"))
      .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
    var walk = adj.select(col("node").as("start"), col("node").as("cur"),
      array(col("node")).as("path"))
    for (t <- 1 to steps) {
      walk = walk
        .join(adj, walk("cur") === adj("node"), "left")
        .select(col("start"), col("cur"),
          // null at a dead end (nbrs missing): the walker freezes below
          element_at(col("nbrs"),
            (poly_hash(concat_ws(":", col("start"), lit(t), col("cur")))
              % size(col("nbrs"))).cast("int") + 1).as("nxt"),
          col("path"))
        .select(col("start"),
          coalesce(col("nxt"), col("cur")).as("cur"),
          // a frozen walker's path stops growing — no phantom repeats
          when(col("nxt").isNull, col("path"))
            .otherwise(concat(col("path"), array(col("nxt")))).as("path"))
    }
    walk.select(col("start"), posexplode(col("path")))
      .select(col("start"), col("pos").as("step"), col("col").as("node"))
  }
}
