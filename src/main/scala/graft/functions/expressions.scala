package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector/hash hot paths. These
  * replace higher-order-function pipelines (zip_with + aggregate) with
  * single fused loops inside whole-stage codegen — no intermediate
  * array allocation per row/pair.
  *
  * Determinism contract: each accumulator is summed sequentially in
  * element order, exactly like functions.aggregate and DuckDB's
  * list_sum, so results stay bit-identical to the oracle.
  */

/** cosine(a, b) over array<float> — fused dot + norms + divide.
  * NULL on length mismatch, as the HOF reference `VectorOps.cosine`
  * (zip_with null-pads → null dot). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_cosine expects two array<float> args, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
       |if ($a.numElements() != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  int $n = $a.numElements();
       |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
       |  for (int $i = 0; $i < $n; $i++) {
       |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
       |    double $xv = (double) $a.getFloat($i);
       |    double $yv = (double) $b.getFloat($i);
       |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
       |  }
       |  if (!${ev.isNull}) {
       |    ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       |  }
       |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object HashParams {
  private def splitmix(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Affine minhash permutation params, identical to Dedup.perms. */
  def minhashA(k: Int): Array[Long] = Array.tabulate(k)(i => splitmix(2L * i) | 1L)
  def minhashB(k: Int): Array[Long] = Array.tabulate(k)(i => splitmix(2L * i + 1))
}

/** graft_minhash(hashes, k): k-permutation MinHash signature from an
  * array of 64-bit element hashes — one pass per row, no explode, no
  * shuffle. pmod semantics match pmod(h*a+b, Long.MaxValue). */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  @transient private lazy val pa = HashParams.minhashA(k)
  @transient private lazy val pb = HashParams.minhashB(k)

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = h * pa(j) + pb(j)
        val m = v % Long.MaxValue
        val mm = if (m < 0) m + Long.MaxValue else m
        if (mm < sig(j)) sig(j) = mm
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val paRef = ctx.addReferenceObj("minhashA", pa, "long[]")
      val pbRef = ctx.addReferenceObj("minhashB", pb, "long[]")
      val sig = ctx.freshName("sig"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val h = ctx.freshName("h"); val v = ctx.freshName("v"); val m = ctx.freshName("m")
      s"""
       |int $n = $c.numElements();
       |long[] $sig = new long[$k];
       |java.util.Arrays.fill($sig, Long.MAX_VALUE);
       |for (int $i = 0; $i < $n; $i++) {
       |  long $h = $c.getLong($i);
       |  for (int $j = 0; $j < $k; $j++) {
       |    long $v = $h * $paRef[$j] + $pbRef[$j];
       |    long $m = $v % Long.MAX_VALUE;
       |    if ($m < 0) $m += Long.MAX_VALUE;
       |    if ($m < $sig[$j]) $sig[$j] = $m;
       |  }
       |}
       |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** graft_simhash64(hashes): 64-bit SimHash from an array of element
  * hashes — per-bit ±1 vote, sign → bit; one pass per row. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes"); val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i"); val j = ctx.freshName("j"); val h = ctx.freshName("h")
      s"""
       |int $n = $c.numElements();
       |int[] $votes = new int[64];
       |for (int $i = 0; $i < $n; $i++) {
       |  long $h = $c.getLong($i);
       |  for (int $j = 0; $j < 64; $j++) {
       |    if ((($h >>> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
       |  }
       |}
       |long $sig = 0L;
       |for (int $j = 0; $j < 64; $j++) { if ($votes[$j] > 0) $sig |= (1L << $j); }
       |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Shared sign-matrix cache + fused kernel for LshSigs: sign rows are
  * deterministic in (plane, dim) (Planes.sign), so one matrix per
  * (tables, planesPerTable, dims) serves every task thread. */
object LshSigsKernel {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  private def signs(tables: Int, planes: Int, dims: Int): Array[Array[Double]] =
    cache.computeIfAbsent((tables, planes, dims), { case (t, p, d) =>
      Array.tabulate(t * p)(pi => Planes.signRow(pi, d))
    })

  /** All table signatures in ONE pass over the vector. Each plane's dot
    * accumulates in element order — bit-identical to the zip_with +
    * aggregate formulation and to DuckDB's list_sum fold, so the
    * signature bits (sign of each dot) match the SQL oracle exactly.
    * A null element null-poisons every dot in the HOF reference
    * (`null > 0` is false → all bits 0), so the kernel returns all-zero
    * signatures the same way instead of reading undefined memory. */
  def compute(emb: ArrayData, tables: Int, planes: Int): ArrayData = {
    val dims = emb.numElements()
    var i = 0
    while (i < dims) {
      if (emb.isNullAt(i)) return new GenericArrayData(new Array[Long](tables))
      i += 1
    }
    val s = signs(tables, planes, dims)
    val nPlanes = tables * planes
    val dots = new Array[Double](nPlanes)
    var d = 0
    while (d < dims) {
      val x = emb.getFloat(d).toDouble
      var p = 0
      while (p < nPlanes) { dots(p) += x * s(p)(d); p += 1 }
      d += 1
    }
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L; var j = 0
      while (j < planes) {
        if (dots(t * planes + j) > 0) sig |= (1L << j)
        j += 1
      }
      sigs(t) = sig; t += 1
    }
    new GenericArrayData(sigs)
  }
}

/** graft_lsh_sigs(emb, tables, planesPerTable): the per-table
  * random-hyperplane signatures as array<long> — the fused form of
  * Planes.lshSig (interpreted HOF lambdas cost ~dims×planes expression-
  * node evals per row; this is one tight loop inside codegen). */
case class LshSigs(child: Expression, tables: Int, planesPerTable: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_sigs"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_lsh_sigs expects array<float>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    LshSigsKernel.compute(input.asInstanceOf[ArrayData], tables, planesPerTable)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LshSigsKernel.compute($c, $tables, $planesPerTable);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fused kernel for PhashBands — the aHash band vector in one pass.
  * Bit-identical to the HOF reference in Multimodal.phashTableFrom:
  * b(j) = ascii(substr(p, (j*numChars) div 64 + 1, 1)) — Spark 4's
  * Ascii is String.codePointAt(0) and Substring indexes by code point,
  * so the kernel samples a codepoint array (same indexing, same
  * values); ssum accumulates in j order; band bit i set iff
  * b(band*16+i)*64 >= ssum. Empty string → all-zero samples, ssum 0,
  * 0 >= 0 → every bit set, exactly like the SQL form. */
object PhashKernel {
  val Samples = 64
  def bands(s: org.apache.spark.unsafe.types.UTF8String,
      nBands: Int, bandBits: Int): ArrayData = {
    val cps = s.toString.codePoints.toArray
    val len = cps.length
    val b = new Array[Long](Samples)
    var j = 0
    while (j < Samples) {
      b(j) = if (len == 0) 0L else cps(j * len / Samples).toLong
      j += 1
    }
    var ssum = 0L; j = 0
    while (j < Samples) { ssum += b(j); j += 1 }
    val out = new Array[Long](nBands)
    var bd = 0
    while (bd < nBands) {
      var v = 0L; var i = 0
      while (i < bandBits) {
        if (b(bd * bandBits + i) * 64 >= ssum) v |= (1L << i)
        i += 1
      }
      out(bd) = v; bd += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_phash_bands(text): the 4×16-bit aHash band vector as
  * array<long> — the fused form of the 64-sample mean-threshold
  * perceptual hash (Multimodal.phashTableFrom's HOF pipeline costs 64
  * O(position) substr scans plus three interpreted aggregate lambdas
  * per row; this is one codepoint scan and two tight loops inside
  * whole-stage codegen). Parity with the HOF form is spec-gated. */
case class PhashBands(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_phash_bands"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_phash_bands expects string, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    PhashKernel.bands(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], 4, 16)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PhashKernel.bands($c, 4, 16);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fused kernel for the PQ per-subspace codeword argmin (r17, guide
  * §4) — the native form of Similarity.pqBest's HOF pipeline, which
  * cost ~K allocated zip_with arrays + interpreted struct array_min
  * per row per subspace. Bit-identical by construction:
  *  - l2(k) = Σ_i ((double)emb[m·sub+i] − (double)book[k][m·sub+i])²,
  *    accumulated in element order — the exact sequence the zip_with +
  *    sequential-fold (seqSum) reference evaluates;
  *  - the winner is min by (l2, cid): the scan runs in ascending-cid
  *    order (callers sort the book) keeping strictly-smaller l2, which
  *    is precisely array_min's lexicographic (l2, cid) struct order.
  * Reconstruction returns the winning codeword SLICES (original
  * floats), concatenated across subspaces — byte-equal to concat of
  * the reference struct's `sub` fields. */
object PqKernel {
  /** argmin codeword index per subspace; -1 never escapes (book
    * non-empty is require'd at every build site). */
  private def bestIdx(emb: ArrayData, book: Array[Array[Float]],
      m: Int, sub: Int): Int = {
    val base = m * sub
    var bestL2 = 0.0; var best = -1; var k = 0
    while (k < book.length) {
      var l2 = 0.0; var i = 0
      val cw = book(k)
      while (i < sub) {
        val d = emb.getFloat(base + i).toDouble - cw(base + i).toDouble
        l2 += d * d; i += 1
      }
      if (best < 0 || l2 < bestL2) { bestL2 = l2; best = k }
      k += 1
    }
    best
  }

  def codes(emb: ArrayData, cids: Array[Long], book: Array[Array[Float]],
      nSub: Int): ArrayData = {
    val sub = book(0).length / nSub
    val out = new Array[Long](nSub)
    var m = 0
    while (m < nSub) { out(m) = cids(bestIdx(emb, book, m, sub)); m += 1 }
    new GenericArrayData(out)
  }

  def recon(emb: ArrayData, book: Array[Array[Float]],
      nSub: Int): ArrayData = {
    val sub = book(0).length / nSub
    val out = new Array[Float](nSub * sub)
    var m = 0
    while (m < nSub) {
      val cw = book(bestIdx(emb, book, m, sub))
      System.arraycopy(cw, m * sub, out, m * sub, sub)
      m += 1
    }
    new GenericArrayData(out)
  }
}

/** Shared shape of the two PQ expressions: the codebook rides in the
  * expression as data (converted once from the builder's literal
  * args), emb is the only runtime child. */
trait PqExpression extends UnaryExpression {
  def cids: IndexedSeq[Long]
  def book: IndexedSeq[IndexedSeq[Float]]
  def nSub: Int
  @transient protected lazy val bookArr: Array[Array[Float]] =
    book.map(_.toArray).toArray
  @transient protected lazy val cidArr: Array[Long] = cids.toArray
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<float>, got $other")
    }
}

/** graft_pq_codes(emb, book, cids, nSub): per-subspace argmin codeword
  * ids as array<long> — the fused form of
  * array(pqBest(m).getField("cid") for m). */
case class PqCodes(child: Expression, cids: IndexedSeq[Long],
    book: IndexedSeq[IndexedSeq[Float]], nSub: Int) extends PqExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"
  override def nullSafeEval(input: Any): Any =
    PqKernel.codes(input.asInstanceOf[ArrayData], cidArr, bookArr, nSub)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("pqBook", bookArr, "float[][]")
    val cidsRef = ctx.addReferenceObj("pqCids", cidArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqKernel.codes($c, $cidsRef, $bookRef, $nSub);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** graft_pq_recon(emb, book, nSub): the PQ reconstruction (concat of
  * the winning codeword slices, original floats) as array<float> —
  * the fused form of concat(pqBest(m).getField("sub") for m). */
case class PqRecon(child: Expression, cids: IndexedSeq[Long],
    book: IndexedSeq[IndexedSeq[Float]], nSub: Int) extends PqExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_pq_recon"
  override def nullSafeEval(input: Any): Any =
    PqKernel.recon(input.asInstanceOf[ArrayData], bookArr, nSub)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("pqBook", bookArr, "float[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqKernel.recon($c, $bookRef, $nSub);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The native functions, registered once per session by GraftExtensions. */
object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  /** Builder-time literal decoding for the PQ functions: the codebook
    * is a typedLit the caller inlines, decoded ONCE here into plain
    * arrays so the per-row kernel never touches Catalyst array data
    * for the book side. */
  private def litFloatMatrix(e: Expression, fn: String): IndexedSeq[IndexedSeq[Float]] =
    e match {
      case l: Literal if l.value != null =>
        val ad = l.value.asInstanceOf[ArrayData]
        (0 until ad.numElements()).map { i =>
          val row = ad.getArray(i)
          (0 until row.numElements()).map(row.getFloat).toIndexedSeq
        }.toIndexedSeq
      case other => throw new IllegalArgumentException(
        s"$fn book must be an array<array<float>> literal, got $other")
    }
  private def litLongs(e: Expression, fn: String): IndexedSeq[Long] = e match {
    case l: Literal if l.value != null =>
      l.value.asInstanceOf[ArrayData].toLongArray().toIndexedSeq
    case other => throw new IllegalArgumentException(
      s"$fn cids must be an array<long> literal, got $other")
  }
  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(n: Int, IntegerType) => n
    case other => throw new IllegalArgumentException(
      s"$fn nSub must be an int literal, got $other")
  }

  val all: Seq[(String, Builder)] = Seq(
    "graft_cosine" -> ((args: Seq[Expression]) => CosineSim(args(0), args(1))),
    "graft_minhash" -> ((args: Seq[Expression]) => args(1) match {
      case Literal(k: Int, IntegerType) => MinHashSig(args(0), k)
      case other => throw new IllegalArgumentException(
        s"graft_minhash k must be an int literal, got $other")
    }),
    "graft_simhash64" -> ((args: Seq[Expression]) => SimHash64(args(0))),
    "graft_phash_bands" -> ((args: Seq[Expression]) => PhashBands(args(0))),
    "graft_lsh_sigs" -> ((args: Seq[Expression]) => (args(1), args(2)) match {
      case (Literal(t: Int, IntegerType), Literal(p: Int, IntegerType)) =>
        LshSigs(args(0), t, p)
      case other => throw new IllegalArgumentException(
        s"graft_lsh_sigs tables/planes must be int literals, got $other")
    }),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // runtime join filters but does NOT register them as SQL-callable
    // functions; these two names expose them for EXPLICIT broadcast
    // bloom pre-filters (decontamination against a bounded eval set,
    // sketch-style semi joins). args: (xxhash64 long, estimated items,
    // bits) / (built filter, xxhash64 long).
    "graft_bloom_agg" -> ((args: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        args(0), args(1), args(2)).toAggregateExpression()),
    "graft_bloom_contains" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        args(0), args(1))),
    // args: (emb, book literal, cids literal, nSub literal)
    "graft_pq_codes" -> ((args: Seq[Expression]) =>
      PqCodes(args(0), litLongs(args(2), "graft_pq_codes"),
        litFloatMatrix(args(1), "graft_pq_codes"),
        litInt(args(3), "graft_pq_codes"))),
    "graft_pq_recon" -> ((args: Seq[Expression]) =>
      PqRecon(args(0), litLongs(args(2), "graft_pq_recon"),
        litFloatMatrix(args(1), "graft_pq_recon"),
        litInt(args(3), "graft_pq_recon"))))
}

/** SparkSessionExtensions entry point and the only wiring path for the
  * native functions and the GroupedTopK strategy:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`,
  * which graft.GraftSession sets. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
  }
}
