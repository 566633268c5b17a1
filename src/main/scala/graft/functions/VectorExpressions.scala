package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Cosine similarity of two float-array vectors as a native codegen'd
  * expression.
  *
  * Numerically identical to the composed column version
  * (GraftFunctions.dotProduct / l2Norm): each accumulator (dot, |a|^2,
  * |b|^2) is a strict left-fold over elements seeded at 0.0, so the DuckDB
  * oracle's left-fold SQL replays the same doubles bit-for-bit. The payoff
  * over the higher-order-function formulation is the hot path: HOFs are
  * interpreted per-element with boxed lambdas; this is one fused while-loop
  * inside whole-stage codegen — the difference between a vector pair-join
  * being compute-bound or lambda-overhead-bound at 100 TB.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CosineSimilarity.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_similarity"
}

object CosineSimilarity {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Strict left-fold dot product of two float-array vectors (doubles),
  * codegen'd. Same accumulator order as [[CosineSimilarity]]'s dot, so
  * `dot / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` with precomputed norms is
  * bit-identical to CosineSimilarity — which lets pair joins hoist the
  * norm out of the O(n^2) loop without changing a single result bit.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DotProduct.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

object DotProduct {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }
}

/** [[CosineSimilarity]] against a CONSTANT vector whose norm was computed
  * once at optimization time — produced by the
  * [[graft.plans.PrenormalizeLiteralCosine]] rule, never written by hand.
  *
  * The generic kernel accumulates three folds per row (dot, |a|², |b|²);
  * when one side is a plan-time literal (k-means / IVF centroids inlined
  * as `typedlit`), |b|² is row-invariant — this kernel drops that third
  * accumulator, cutting the argmax hot loop's multiplies by a third.
  * Bit-identical to the generic kernel by construction: same fold order
  * for dot and |a|², and `normB` is the same `sqrt` of the same fold the
  * generic kernel would compute per row (the literal's elements don't
  * change). The equality is spec-pinned (ExtensionsSpec).
  */
case class CosineToConst(child: Expression, vec: Seq[Float], normB: Double)
  extends UnaryExpression {
  override def dataType: DataType = DoubleType

  @transient lazy val vecArr: Array[Float] = vec.toArray

  override def nullSafeEval(input: Any): Any =
    CosineToConst.compute(input.asInstanceOf[ArrayData], vecArr, normB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cosineToConst", this,
      classOf[CosineToConst].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CosineToConst.compute($c, $self.vecArr(), $self.normB())")
  }

  override protected def withNewChildInternal(newChild: Expression): CosineToConst =
    copy(child = newChild)
  override def prettyName: String = "cosine_to_const"
}

object CosineToConst {
  /** Norm of the literal side under the generic kernel's fold order over
    * the FIRST `n` elements — called at rule time, and per-row only in
    * the (degenerate) case where the row vector is shorter than the
    * literal, which the generic kernel would also truncate.
    */
  def normPrefix(b: Array[Float], n: Int): Double = {
    var nb = 0.0
    var i = 0
    while (i < n) { val y = b(i).toDouble; nb += y * y; i += 1 }
    math.sqrt(nb)
  }

  def compute(a: ArrayData, b: Array[Float], normB: Double): Double = {
    val n = math.min(a.numElements(), b.length)
    // truncated rows would change which |b|² prefix the generic kernel
    // sums — recompute the prefix norm only in that rare case
    val nb = if (n == b.length) normB else normPrefix(b, n)
    var dot = 0.0
    var na = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      i += 1
    }
    val denom = math.sqrt(na) * nb
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** All `tables` random-hyperplane LSH bucket keys of a float-array vector
  * in one pass: element t of the result is the `bits`-bit sign bucket of
  * projections onto ±1 hyperplanes t*bits .. t*bits+bits-1
  * (Similarity.hyperplaneSign — the LCG-parity sign family, identical
  * formula).
  *
  * Replaces a composed fold of tables*bits*dim column terms whose
  * generated code exceeded Janino's method limit (whole-stage codegen
  * bailed out and task binaries hit ~9 MiB). Projections are strict
  * left-folds seeded at 0.0, so the oracle SQL replays them exactly.
  */
case class HyperplaneBuckets(child: Expression, tables: Int, bits: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HyperplaneBuckets.compute(input.asInstanceOf[ArrayData], tables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneBuckets.compute($c, $tables, $bits)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_buckets"
}

/** Johnson–Lindenstrauss sign random projection of a float-array vector:
  * element j of the result is the strict left-fold sum
  * Σ_d v[d] · sign(j, d) over the SAME deterministic ±1 family as
  * the LSH planes ([[graft.operators.Similarity.hyperplaneSign]] — one
  * sign source of truth for buckets, projections, and the oracle SQL).
  *
  * The 1/√outDims JL scale factor is deliberately omitted: it cancels in
  * every cosine/ratio downstream, and leaving the sums raw keeps each
  * output the exact double the oracle's left-fold replays. Output is
  * DOUBLE — projecting 64 floats loses nothing, and a float round-trip
  * would force the oracle to replay REAL rounding.
  *
  * Scale role: an 8-dim projected vector is 1/8 the bytes of the 64-float
  * embedding, so candidate-generation scans and shuffles carry narrow
  * rows; the full vectors are re-fetched only for the per-query candidate
  * set at re-rank ([[graft.operators.Similarity.projectedTopK]]).
  */
case class RandomProjection(child: Expression, outDims: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    RandomProjection.compute(input.asInstanceOf[ArrayData], outDims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RandomProjection.compute($c, $outDims)")

  override protected def withNewChildInternal(newChild: Expression): RandomProjection =
    copy(child = newChild)
  override def prettyName: String = "random_projection"
}

object RandomProjection {
  /** Lockstep with Similarity.hyperplaneSign / Oracles.projections. */
  def compute(arr: ArrayData, outDims: Int): ArrayData = {
    val dim = graft.operators.Similarity.Dim
    val n = math.min(arr.numElements(), dim)
    val out = new Array[Double](outDims)
    var j = 0
    while (j < outDims) {
      val plane = j.toLong
      var acc = 0.0
      var d = 0
      while (d < n) {
        // xor-shift multiply mixer — lockstep with Similarity.hyperplaneSign
        var h = ((plane * dim + d) * 2654435761L) % 2147483648L
        h ^= h >> 13
        h = (h * 2246822519L) % 2147483648L
        h ^= h >> 16
        acc += arr.getFloat(d).toDouble * (if (h % 2 == 0) 1.0 else -1.0)
        d += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }
}

object HyperplaneBuckets {
  /** Must stay in lockstep with graft.operators.Similarity.hyperplaneSign
    * and Oracles.hyperplaneBits (plane j = table*bits + bit, dim taken as
    * Similarity.Dim for the sign index even if vectors are longer).
    */
  def compute(arr: ArrayData, tables: Int, bits: Int): ArrayData = {
    val dim = graft.operators.Similarity.Dim
    val n = math.min(arr.numElements(), dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        val j = t * bits + b
        var acc = 0.0
        var d = 0
        while (d < n) {
          // xor-shift multiply mixer — lockstep with Similarity.hyperplaneSign
          var h = ((j.toLong * dim + d) * 2654435761L) % 2147483648L
          h ^= h >> 13
          h = (h * 2246822519L) % 2147483648L
          h ^= h >> 16
          val s = if (h % 2 == 0) 1.0 else -1.0
          acc += arr.getFloat(d).toDouble * s
          d += 1
        }
        if (acc >= 0) key |= 1L << b
        b += 1
      }
      out(t) = key
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** PQ assignment of a float-array vector: element s of the result is the
  * argmin over trained codewords c of
  * `‖w(s,c)‖² - 2·dot(sub_s, w(s,c))` (the L2 argmin with the
  * row-constant ‖sub‖² dropped), ties to the LOWEST c — exactly the
  * struct-least semantics of the composed formulation this replaces, and
  * exactly the `ORDER BY dist, c` the DuckDB oracle replays. Both dot
  * and the driver-precomputed `cc` are strict left-folds in double over
  * float operands, so every distance is bit-identical to the oracle's.
  *
  * The codebook rides as ONE reference object (flattened float array +
  * presence mask + codeword norms) instead of m·codes `typedlit`
  * expression nodes: at codes=256 the composed `least()` tree was a
  * ~2,000-node expression whose optimized plan shipped 16 MB task
  * binaries and spent tens of seconds in Catalyst/codegen PER QUERY —
  * plan size was the bottleneck, not arithmetic (r12; the r11 plan at
  * codes=16 merely hid it). Here codegen emits one fused loop and the
  * codebook serializes once (m·codes·subDim floats ≈ 64 KB at the
  * declared operating point).
  */
case class PqAssign(child: Expression, books: Seq[Float], present: Seq[Boolean],
                    cc: Seq[Double], m: Int, codes: Int, subDim: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient lazy val booksArr: Array[Float] = books.toArray
  @transient lazy val presentArr: Array[Boolean] = present.toArray
  @transient lazy val ccArr: Array[Double] = cc.toArray

  override def nullSafeEval(input: Any): Any =
    PqAssign.compute(input.asInstanceOf[ArrayData], booksArr, presentArr,
      ccArr, m, codes, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqAssign", this, classOf[PqAssign].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqAssign.compute($c, $self.booksArr(), " +
        s"$self.presentArr(), $self.ccArr(), $m, $codes, $subDim)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAssign =
    copy(child = newChild)
  override def prettyName: String = "pq_assign"
}

object PqAssign {
  def compute(arr: ArrayData, books: Array[Float], present: Array[Boolean],
              cc: Array[Double], m: Int, codes: Int, subDim: Int): ArrayData = {
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0.0
      var bestC = 0
      var first = true
      var c = 0
      while (c < codes) {
        if (present(s * codes + c)) {
          var dot = 0.0
          var i = 0
          val base = (s * codes + c) * subDim
          while (i < subDim) {
            dot += arr.getFloat(s * subDim + i).toDouble * books(base + i).toDouble
            i += 1
          }
          val d = cc(s * codes + c) - 2.0 * dot
          // strict < keeps the lowest code on exact ties — the struct
          // (dist, code) lexicographic-least / ORDER BY dist, c rule
          if (first || d < best) { best = d; bestC = c; first = false }
        }
        c += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** The per-query ADC lookup table as one codegen'd pass: element
  * s·codes + c is `dot(sub_s, w(s,c))` (strict left-fold double over
  * float operands — [[DotProduct]]'s fold), 0.0 for codewords a tiny
  * corpus never trained (they are never assigned either). Replaces the
  * m·codes-node `array(dotProduct(...typedlit...))` tree for the same
  * plan-size reason as [[PqAssign]].
  */
case class PqQtab(child: Expression, books: Seq[Float], present: Seq[Boolean],
                  m: Int, codes: Int, subDim: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  @transient lazy val booksArr: Array[Float] = books.toArray
  @transient lazy val presentArr: Array[Boolean] = present.toArray

  override def nullSafeEval(input: Any): Any =
    PqQtab.compute(input.asInstanceOf[ArrayData], booksArr, presentArr,
      m, codes, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqQtab", this, classOf[PqQtab].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqQtab.compute($c, $self.booksArr(), " +
        s"$self.presentArr(), $m, $codes, $subDim)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqQtab =
    copy(child = newChild)
  override def prettyName: String = "pq_qtab"
}

/** Direct ADC dot — `dot(q, x̂) = Σ_s dot(q_s, w[s, code_s])` computed
  * straight from the QUERY EMBEDDING and the stored codes, with no
  * per-query m×codes lookup table ever materialized. Bit-identical to
  * `element_at`-summing a [[PqQtab]] table by construction: each subspace
  * term is the SAME strict left-fold double dot over the same float
  * operands [[PqQtab.compute]] writes into table slot s·codes + code_s
  * (0.0 for codewords a tiny corpus never trained), and the m terms add
  * in subspace order, left-associated — the exact
  * `(0 until m).map(element_at(...)).reduce(_ + _)` fold of
  * [[graft.operators.Similarity.pqQdot]]. The equality is spec-pinned.
  *
  * Why it exists (r17 verdict, next-round #1): in the DISTRIBUTED batch
  * probe the per-query payload attaches to candidates through a
  * shuffle-hash build — carrying the qtab there materializes ~16 KB per
  * query row at codes=256 (0.7 GB allocated per declared 42k-row batch,
  * the measured in-suite GC driver), all to save re-computing subspace
  * dots per pair. This kernel keeps the build side EMBEDDING-WIDTH
  * (~0.3 KB/row, ~50x narrower) and spends m·subDim = Dim fused
  * multiply-adds per candidate pair instead of m array lookups —
  * arithmetic that whole-stage codegen pipelines for free against the
  * allocation+GC cost the table paid. The broadcast tier (small probe
  * frames, candidates >> queries) keeps the amortized table.
  */
case class PqAdcDot(left: Expression, right: Expression, books: Seq[Float],
                    present: Seq[Boolean], m: Int, codes: Int, subDim: Int)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType

  @transient lazy val booksArr: Array[Float] = books.toArray
  @transient lazy val presentArr: Array[Boolean] = present.toArray

  override def nullSafeEval(q: Any, cd: Any): Any =
    PqAdcDot.compute(q.asInstanceOf[ArrayData], cd.asInstanceOf[ArrayData],
      booksArr, presentArr, m, codes, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqAdcDot", this, classOf[PqAdcDot].getName)
    defineCodeGen(ctx, ev, (q, cd) =>
      s"graft.functions.PqAdcDot.compute($q, $cd, $self.booksArr(), " +
        s"$self.presentArr(), $m, $codes, $subDim)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcDot =
    copy(left = l, right = r)
  override def prettyName: String = "pq_adc_dot"
}

object PqAdcDot {
  def compute(q: ArrayData, cd: ArrayData, books: Array[Float],
              present: Array[Boolean], m: Int, codes: Int, subDim: Int): Double = {
    var acc = 0.0
    var s = 0
    while (s < m) {
      val idx = s * codes + cd.getInt(s)
      // absent codeword ⇒ term 0.0, the exact value its PqQtab slot holds
      var term = 0.0
      if (present(idx)) {
        var i = 0
        val base = idx * subDim
        while (i < subDim) {
          term += q.getFloat(s * subDim + i).toDouble * books(base + i).toDouble
          i += 1
        }
      }
      // seed with the s = 0 term, never 0.0 + term: reduce(_ + _) has no
      // initial element, and 0.0 + (-0.0) would flip that sign bit
      acc = if (s == 0) term else acc + term
      s += 1
    }
    acc
  }
}

object PqQtab {
  def compute(arr: ArrayData, books: Array[Float], present: Array[Boolean],
              m: Int, codes: Int, subDim: Int): ArrayData = {
    val out = new Array[Double](m * codes)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < codes) {
        val idx = s * codes + c
        if (present(idx)) {
          var dot = 0.0
          var i = 0
          val base = idx * subDim
          while (i < subDim) {
            dot += arr.getFloat(s * subDim + i).toDouble * books(base + i).toDouble
            i += 1
          }
          out(idx) = dot
        }
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}
