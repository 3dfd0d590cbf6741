package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for embedding vectors (`array<float>` columns).
 *
 * These stay in whole-stage codegen (`doGenCode` emits a tight primitive loop) — orders of
 * magnitude cheaper per row than a Scala UDF (SerDe per call) or the higher-order-function
 * route (`aggregate(zip_with(..))`, interpreted per element). At 100 TB a brute-force
 * similarity pass is hash-join-shaped: dot products dominate, so the inner loop must be
 * primitive-typed and allocation-light.
 */
object VectorExpressions {

  private def floats(a: Any): Array[Float] = a.asInstanceOf[ArrayData].toFloatArray()

  abstract class BinaryVectorExpression extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
  }

  /** `dot(a, b)` — inner product of two float vectors. */
  case class DotProduct(left: Expression, right: Expression) extends BinaryVectorExpression {
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = floats(a); val y = floats(b)
      var acc = 0.0; var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) { acc += x(i).toDouble * y(i); i += 1 }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (x, y, i, n, acc) = (ctx.freshName("x"), ctx.freshName("y"), ctx.freshName("i"),
          ctx.freshName("n"), ctx.freshName("acc"))
        s"""
           |float[] $x = $a.toFloatArray();
           |float[] $y = $b.toFloatArray();
           |int $n = java.lang.Math.min($x.length, $y.length);
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) { $acc += ((double) $x[$i]) * $y[$i]; }
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** `cosine(a, b)` — cosine similarity; 0.0 when either norm is zero. */
  case class CosineSimilarity(left: Expression, right: Expression) extends BinaryVectorExpression {
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = floats(a); val y = floats(b)
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val xv = x(i).toDouble; val yv = y(i).toDouble
        dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
      }
      if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (x, y, i, n) = (ctx.freshName("x"), ctx.freshName("y"), ctx.freshName("i"), ctx.freshName("n"))
        val (dot, nx, ny, xv, yv) = (ctx.freshName("dot"), ctx.freshName("nx"), ctx.freshName("ny"),
          ctx.freshName("xv"), ctx.freshName("yv"))
        s"""
           |float[] $x = $a.toFloatArray();
           |float[] $y = $b.toFloatArray();
           |int $n = java.lang.Math.min($x.length, $y.length);
           |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = (double) $x[$i]; double $yv = (double) $y[$i];
           |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
           |}
           |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($nx * $ny);
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** `l2_norm(a)`. */
  case class L2Norm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val x = floats(a); var acc = 0.0; var i = 0
      while (i < x.length) { acc += x(i).toDouble * x(i); i += 1 }
      math.sqrt(acc)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val (x, i, acc) = (ctx.freshName("x"), ctx.freshName("i"), ctx.freshName("acc"))
        s"""
           |float[] $x = $a.toFloatArray();
           |double $acc = 0.0;
           |for (int $i = 0; $i < $x.length; $i++) { $acc += ((double) $x[$i]) * $x[$i]; }
           |${ev.value} = java.lang.Math.sqrt($acc);
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /**
   * `hyperplane_lsh(vec)` — random-hyperplane (SimHash-for-vectors) bucket id: bit p of the
   * result is the sign of `planes(p) · vec`. Planes are generated deterministically from `seed`
   * driver-side and shipped inside the expression (broadcast with the serialized plan), so the
   * scan side needs no join to bucket — the standard scale path for ANN candidate generation.
   */
  case class HyperplaneLsh(child: Expression, planes: Array[Array[Float]])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val v = floats(a)
      var sig = 0L; var p = 0
      while (p < planes.length) {
        val plane = planes(p)
        var acc = 0.0; var i = 0
        val n = math.min(plane.length, v.length)
        while (i < n) { acc += plane(i).toDouble * v(i); i += 1 }
        if (acc >= 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
    // codegen'd since r12: this is the BQ signature builder — one eval per corpus
    // row on the scan side, so it must stay inside whole-stage codegen like the
    // dot/cosine kernels. The plane matrix rides the generated class as a
    // referenced object (same mechanism that ships it with the serialized plan).
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val pls = ctx.addReferenceObj("planes", planes, "float[][]")
        val (v, sig, p, pl, acc, i, n) = (ctx.freshName("v"), ctx.freshName("sig"),
          ctx.freshName("p"), ctx.freshName("pl"), ctx.freshName("acc"),
          ctx.freshName("i"), ctx.freshName("n"))
        s"""
           |float[] $v = $a.toFloatArray();
           |long $sig = 0L;
           |for (int $p = 0; $p < $pls.length; $p++) {
           |  float[] $pl = $pls[$p];
           |  int $n = java.lang.Math.min($pl.length, $v.length);
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) { $acc += ((double) $pl[$i]) * $v[$i]; }
           |  if ($acc >= 0) $sig |= (1L << $p);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `mat_project(vec)` — dense matrix–vector product against a small driver-side matrix:
   * out_k = rows(k) · vec. The Johnson–Lindenstrauss projection step (rows = seeded
   * Gaussian directions) and any other fixed linear map small enough to ride the
   * serialized plan. Output is float (the projection is itself an embedding).
   */
  case class MatProject(child: Expression, rows: Array[Array[Float]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val v = floats(a)
      val out = new Array[Float](rows.length)
      var kIdx = 0
      while (kIdx < rows.length) {
        val r = rows(kIdx)
        var acc = 0.0; var i = 0
        val n = math.min(r.length, v.length)
        while (i < n) { acc += r(i).toDouble * v(i); i += 1 }
        out(kIdx) = acc.toFloat
        kIdx += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `nearest_centroids(vec, nProbe)` — indices of the `nProbe` closest centroids by cosine:
   * the IVF (inverted-file) assignment step. Centroids ship inside the serialized plan like
   * the LSH planes; probing > 1 cells trades compute for recall.
   */
  case class NearestCentroids(child: Expression, centroids: Array[Array[Float]], nProbe: Int)
      extends UnaryExpression with CodegenFallback {
    require(nProbe > 0 && nProbe <= centroids.length)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val v = floats(a)
      var nv = 0.0; var i = 0
      while (i < v.length) { nv += v(i).toDouble * v(i); i += 1 }
      val sims = new Array[Double](centroids.length)
      var c = 0
      while (c < centroids.length) {
        val ct = centroids(c)
        var dot = 0.0; var nc = 0.0; var j = 0
        val n = math.min(ct.length, v.length)
        while (j < n) { dot += ct(j).toDouble * v(j); nc += ct(j).toDouble * ct(j); j += 1 }
        sims(c) = if (nc == 0.0 || nv == 0.0) -2.0 else dot / math.sqrt(nc * nv)
        c += 1
      }
      val idx = Array.tabulate(centroids.length)(identity)
        .sortBy(i => (-sims(i), i)).take(nProbe)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(idx)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `pq_encode(vec)` — Product-Quantization codes: the vector is split into `m` equal
   * subvectors; each is replaced by the index of its nearest (L2) codebook centroid.
   * 64 float32 dims × m=8, k=16 ⇒ 8 small ints per vector — the 16–32× compression that
   * lets a 100 TB embedding corpus fit cluster memory for ANN shortlisting. Codebooks
   * (m × k × dim/m, trained by [[graft.ops.VectorOps.pqTrain]]) ship inside the plan.
   */
  case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val v = floats(a)
      val m = codebooks.length
      val dsub = codebooks(0)(0).length
      // fail loudly on shape mismatch — silently truncated dimensions encode plausible
      // but wrong codes (same discipline as BandHashesExpr's degenerate-banding check)
      require(v.length == m * dsub,
        s"pq_encode: vector dim ${v.length} != m*dsub = ${m * dsub}")
      val codes = new Array[Int](m)
      var s = 0
      while (s < m) {
        val book = codebooks(s)
        var best = 0; var bestD = Double.MaxValue; var j = 0
        while (j < book.length) {
          val ct = book(j)
          var d = 0.0; var i = 0
          while (i < dsub) {
            val diff = v(s * dsub + i).toDouble - ct(i)
            d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        codes(s) = best
        s += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `pq_lut(qvec)` — the query's ADC lookup table: `lut[s][j] = q_sub_s · codebook[s][j]`,
   * flattened to one float array (m·k entries). Computed once per query row; scoring a
   * corpus code against it is `m` array reads ([[PqAdcDot]]) instead of a `dim`-length
   * dot product — the asymmetric-distance computation of Jégou et al. (PQ for NN search).
   */
  case class PqLut(child: Expression, codebooks: Array[Array[Array[Float]]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val q = floats(a)
      val m = codebooks.length
      val k = codebooks(0).length
      val dsub = codebooks(0)(0).length
      require(q.length == m * dsub,
        s"pq_lut: query dim ${q.length} != m*dsub = ${m * dsub}")
      val lut = new Array[Float](m * k)
      var s = 0
      while (s < m) {
        var j = 0
        while (j < k) {
          val ct = codebooks(s)(j)
          var acc = 0.0; var i = 0
          while (i < dsub) { acc += q(s * dsub + i).toDouble * ct(i); i += 1 }
          lut(s * k + j) = acc.toFloat
          j += 1
        }
        s += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(lut)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `sq_encode(vec)` — per-dimension 8-bit scalar quantization (FAISS's SQ8): code_i =
   * round((x_i − min_i)/Δ_i) clamped to [0,255] with Δ_i = (max_i − min_i)/255. One byte
   * per dimension ⇒ 4× smaller than float32 with per-dim resolution — the cheap point on
   * the compression spectrum before PQ's 16–32×. Out-of-range values (a pre-trained model
   * probed with drifted data) clamp to the rails instead of encoding garbage.
   */
  case class SqEncode(child: Expression, mins: Array[Float], deltas: Array[Float])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val v = floats(a)
      require(v.length == mins.length,
        s"sq_encode: vector dim ${v.length} != model dim ${mins.length}")
      val out = new Array[Byte](v.length)
      var i = 0
      while (i < v.length) {
        val d = deltas(i)
        val c = if (d <= 0f) 0 else math.round((v(i) - mins(i)) / d)
        out(i) = math.max(0, math.min(255, c)).toByte
        i += 1
      }
      out
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `sq_query(qvec)` — the query's asymmetric-distance coefficients against an SQ model,
   * flattened to one float array: slot 0 holds `Σ_i q_i·min_i` and slot i+1 holds
   * `q_i·Δ_i`, so `q · decode(codes) = arr[0] + Σ_i arr[i+1]·code_i` ([[SqAdcDot]]) —
   * the query never quantizes and the corpus never decodes to floats.
   */
  case class SqQuery(child: Expression, mins: Array[Float], deltas: Array[Float])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val q = floats(a)
      require(q.length == mins.length,
        s"sq_query: query dim ${q.length} != model dim ${mins.length}")
      val arr = new Array[Float](q.length + 1)
      var base = 0.0
      var i = 0
      while (i < q.length) {
        base += q(i).toDouble * mins(i)
        arr(i + 1) = q(i) * deltas(i)
        i += 1
      }
      arr(0) = base.toFloat
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** `sq_adc_dot(codes, qarr)` — approximate `q · x` from SQ8 codes:
    * `qarr[0] + Σ_i qarr[i+1]·(codes[i] & 0xFF)`. Codegen'd since r12: this is the
    * per-(corpus row, query) kernel of the SQ ADC scan — the hottest loop in the
    * sqTopK plan — and must stay inside whole-stage codegen like dot/cosine. */
  case class SqAdcDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val codes = a.asInstanceOf[Array[Byte]]
      val qarr = floats(b)
      var acc = qarr(0).toDouble
      var i = 0
      while (i < codes.length) { acc += qarr(i + 1).toDouble * (codes(i) & 0xFF); i += 1 }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (codes, qarr, acc, i) = (ctx.freshName("codes"), ctx.freshName("qarr"),
          ctx.freshName("acc"), ctx.freshName("i"))
        s"""
           |byte[] $codes = $a;
           |float[] $qarr = $b.toFloatArray();
           |double $acc = (double) $qarr[0];
           |for (int $i = 0; $i < $codes.length; $i++) {
           |  $acc += ((double) $qarr[$i + 1]) * ($codes[$i] & 0xFF);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** `pq_adc_dot(codes, lut)` — approximate `q · x` from PQ codes: `Σ_s lut[s·k + code_s]`. */
  case class PqAdcDot(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val codes = a.asInstanceOf[ArrayData].toIntArray()
      val lut = floats(b)
      var acc = 0.0; var s = 0
      while (s < codes.length) { acc += lut(s * k + codes(s)); s += 1 }
      acc
    }
    // codegen'd since r12: the m-array-read ADC kernel runs once per (corpus row,
    // query) inside the PQ/RQ/IVF-PQ scans — the asymmetric-distance hot loop
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (codes, lut, acc, s) = (ctx.freshName("codes"), ctx.freshName("lut"),
          ctx.freshName("acc"), ctx.freshName("s"))
        s"""
           |int[] $codes = $a.toIntArray();
           |float[] $lut = $b.toFloatArray();
           |double $acc = 0.0;
           |for (int $s = 0; $s < $codes.length; $s++) {
           |  $acc += (double) $lut[$s * $k + $codes[$s]];
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /**
   * `hamming_sim(csig, qsig)` — `bits − Σ popcount(xor)` over two multi-word signature
   * arrays (`array<long>`): the BQ candidate-scan kernel. This runs once per
   * (corpus row, query) pair — the hottest loop in the BQ family — so like the other
   * scan kernels it must stay inside whole-stage codegen: the prior
   * `aggregate(zip_with(...bit_count...))` HOF form is CodegenFallback and evaluated
   * through per-element lambda dispatch (measured 11.2 s of task time for a 4M-pair
   * wave at sf0.1 that this kernel runs in a fraction of). Identical arithmetic:
   * integer XOR + POPCNT word sums, cast to double at the end. A signature-width
   * mismatch throws IN THE KERNEL (ADVICE r13 #3: the old min-length fallback
   * silently inflated similarity for any future direct caller; the entry-point
   * `requireSigWidth` guards only the index probes) — one branch per pair,
   * negligible next to the popcount loop.
   */
  case class HammingSim(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toLongArray()
      val y = b.asInstanceOf[ArrayData].toLongArray()
      if (x.length != y.length) throw new IllegalArgumentException(
        s"hamming_sim: signature widths differ (${x.length} vs ${y.length} words) — " +
          "signatures at mixed bit budgets cannot be Hamming-compared")
      var acc = 0; var i = 0
      while (i < x.length) { acc += java.lang.Long.bitCount(x(i) ^ y(i)); i += 1 }
      (bits - acc).toDouble
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (x, y, i, acc) = (ctx.freshName("x"), ctx.freshName("y"),
          ctx.freshName("i"), ctx.freshName("acc"))
        s"""
           |long[] $x = $a.toLongArray();
           |long[] $y = $b.toLongArray();
           |if ($x.length != $y.length) throw new IllegalArgumentException(
           |  "hamming_sim: signature widths differ (" + $x.length + " vs " + $y.length +
           |  " words) - signatures at mixed bit budgets cannot be Hamming-compared");
           |int $acc = 0;
           |for (int $i = 0; $i < $x.length; $i++) { $acc += java.lang.Long.bitCount($x[$i] ^ $y[$i]); }
           |${ev.value} = (double) ($bits - $acc);
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }
}

/** Column-level API. */
object VectorFunctions {
  import VectorExpressions._

  def dot(a: Column, b: Column): Column    = column(DotProduct(expression(a), expression(b)))
  def cosine(a: Column, b: Column): Column = column(CosineSimilarity(expression(a), expression(b)))
  def l2Norm(a: Column): Column            = column(L2Norm(expression(a)))

  /** Deterministic Gaussian hyperplanes for LSH (fixed seed ⇒ reproducible buckets). */
  def makePlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  def hyperplaneLsh(v: Column, planes: Array[Array[Float]]): Column =
    column(HyperplaneLsh(expression(v), planes))

  def hammingSim(csig: Column, qsig: Column, bits: Int): Column =
    column(HammingSim(expression(csig), expression(qsig), bits))

  def matProject(v: Column, rows: Array[Array[Float]]): Column =
    column(MatProject(expression(v), rows))

  def nearestCentroids(v: Column, centroids: Array[Array[Float]], nProbe: Int): Column =
    column(NearestCentroids(expression(v), centroids, nProbe))

  def sqEncode(v: Column, mins: Array[Float], deltas: Array[Float]): Column =
    column(SqEncode(expression(v), mins, deltas))
  def sqQuery(q: Column, mins: Array[Float], deltas: Array[Float]): Column =
    column(SqQuery(expression(q), mins, deltas))
  def sqAdcDot(codes: Column, qarr: Column): Column =
    column(SqAdcDot(expression(codes), expression(qarr)))

  def pqEncode(v: Column, codebooks: Array[Array[Array[Float]]]): Column =
    column(PqEncode(expression(v), codebooks))
  def pqLut(q: Column, codebooks: Array[Array[Array[Float]]]): Column =
    column(PqLut(expression(q), codebooks))
  def pqAdcDot(codes: Column, lut: Column, k: Int): Column =
    column(PqAdcDot(expression(codes), expression(lut), k))
}
