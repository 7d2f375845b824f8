package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd sketch/vector kernels. The Column-composition versions
  * of these (zip_with/aggregate higher-order functions) evaluate
  * interpreted, one boxed lambda call per element — fine for correctness,
  * ~10-50x too slow for the hot paths (pairwise cosine, per-document
  * signatures). These expressions generate tight scalar loops instead and
  * stay inside whole-stage codegen.
  */

/** Dot product of two numeric arrays, accumulated left-to-right in double —
  * bit-identical to `aggregate(zip_with(a, b, _*_), 0d, _+_)` in double, so
  * DuckDB-oracle comparisons still match.
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_double"

  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType != DoubleType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType != DoubleType

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xi = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      s += xi * yi
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val getX = if (leftFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (rightFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $getX * $getY;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDouble =
    copy(left = newLeft, right = newRight)
}

/** The rounded-cosine row of one vector against a bounded centroid table —
  * the round-17 shuffle-free nearest-centroid kernel. Input: the vector
  * (array<float|double>), its precomputed norm (double), and the one-row
  * broadcast centroid table (array<struct<centroid_id: long,
  * c_emb: array<float|double>, c_nrm: double>>, id-ascending — see
  * graft.functions.VectorFunctions.centroidTableFrame). Output: one double
  * per slot, round(dot(v, c_emb_j) / (nrm · c_nrm_j), scale) — the EXACT
  * arithmetic the former crossJoin+groupBy argmax evaluated per (vector,
  * centroid) pair: the dot accumulates left-to-right in double
  * (DotProductDouble's loop), the division is the same two IEEE ops, and
  * the rounding replicates catalyst Round's DoubleType eval (NaN/Inf pass
  * through, else scala BigDecimal setScale HALF_UP — verified against the
  * RoundBase bytecode).
  *
  * Why a kernel and not the Column spelling: the declarative k-slot
  * array(CASE WHEN ... round(dot(...)) ...) form measured fine in a plain
  * projection, but any operator that later JOINS on the argmax cell gets
  * the whole k-slot tree INLINED into join conditions and pushed filters
  * by constraint inference (isnotnull(cell), cell-range bounds) — three
  * inlined copies of a 16-slot tree made s6 2.4x slower and ballooned the
  * codegen unit. One compact expression node keeps every inlined copy
  * cheap and the generated code tiny — the same escalation path as
  * QuantizedDotLong/BloomCandidates.
  */
case class CentroidCosines(emb: Expression, nrm: Expression,
                           tab: Expression, scale: Int)
    extends TernaryExpression {
  override def first: Expression = emb
  override def second: Expression = nrm
  override def third: Expression = tab
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_centroid_cosines"

  @transient private lazy val embFloat =
    emb.dataType.asInstanceOf[ArrayType].elementType != DoubleType
  @transient private lazy val cEmbFloat = {
    val st = tab.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    st(1).dataType.asInstanceOf[ArrayType].elementType != DoubleType
  }

  protected override def nullSafeEval(e: Any, n: Any, t: Any): Any =
    CentroidCosines.compute(e.asInstanceOf[ArrayData],
      n.asInstanceOf[Double], t.asInstanceOf[ArrayData], scale,
      embFloat, cEmbFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, n, t) => {
      val cls = "org.apache.spark.sql.graftbridge.CentroidCosines"
      s"${ev.value} = $cls.compute($e, $n, $t, $scale, $embFloat, $cEmbFloat);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CentroidCosines =
    copy(emb = newFirst, nrm = newSecond, tab = newThird)
}

object CentroidCosines {
  /** Catalyst Round's DoubleType eval, verbatim (HALF_UP at `scale`,
    * NaN/Inf pass through).
    */
  @inline def roundHalfUp(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else scala.math.BigDecimal(x)
      .setScale(scale, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  def compute(e: ArrayData, nrm: Double, tab: ArrayData, scale: Int,
              embFloat: Boolean, cEmbFloat: Boolean): ArrayData = {
    val k = tab.numElements()
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      val slot = tab.getStruct(j, 3)
      val ce = slot.getArray(1)
      val cn = slot.getDouble(2)
      val m = math.min(e.numElements(), ce.numElements())
      var s = 0.0
      var i = 0
      while (i < m) {
        val xi = if (embFloat) e.getFloat(i).toDouble else e.getDouble(i)
        val yi = if (cEmbFloat) ce.getFloat(i).toDouble else ce.getDouble(i)
        s += xi * yi
        i += 1
      }
      out(j) = roundHalfUp(s / (nrm * cn), scale)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** The rounded squared-L2 row of one subvector against a bounded PQ
  * codebook slice — the s5 encode kernel. Input: the subvector
  * (array<double>) and one subspace's codeword table
  * (array<array<double>>, kCodes slots). Output: one double per slot,
  * round(Σᵢ (sv_i - cw_i)², scale) with the sum accumulated left-to-right
  * in double — bit-identically the former unrolled
  * `(d1*d1 + d2*d2) + ...` reduceLeft chain — and the rounding catalyst
  * Round's DoubleType HALF_UP (shared [[CentroidCosines.roundHalfUp]]).
  *
  * Why a kernel: the declarative kCodes-slot `array(round(l2sq(...)))`
  * spelling worked — until constraint inference inlined the argmin cell
  * (`element_at(cids, array_position(d2s, array_min(d2s)))`) into the
  * downstream equi-join's inferred predicates (isnotnull / the lut
  * filter's `code != MaxValue` propagated across the join). Each inlined
  * copy carried the FULL 32-slot tree; the encode stage's generated
  * method blew past Janino's limit and the WHOLE corpus-sized encode
  * projection fell back to interpreted eval (visible as
  * WholeStageCodegenExec "Failed to compile" warnings in the bench).
  * One compact node keeps every inlined copy a single call.
  */
case class PqL2Distances(sv: Expression, cws: Expression, scale: Int)
    extends BinaryExpression {
  override def left: Expression = sv
  override def right: Expression = cws
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_l2_distances"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    PqL2Distances.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = "org.apache.spark.sql.graftbridge.PqL2Distances"
      s"${ev.value} = $cls.compute($a, $b, $scale);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqL2Distances =
    copy(sv = newLeft, cws = newRight)
}

object PqL2Distances {
  def compute(sv: ArrayData, cws: ArrayData, scale: Int): ArrayData = {
    val k = cws.numElements()
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      val cw = cws.getArray(j)
      val m = math.min(sv.numElements(), cw.numElements())
      var s = 0.0
      var i = 0
      while (i < m) {
        val d = sv.getDouble(i) - cw.getDouble(i)
        s += d * d
        i += 1
      }
      out(j) = CentroidCosines.roundHalfUp(s, scale)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** The shared engine-portable 64-bit primitives: a poly-31 byte fold and
  * the splitmix64 finalizer. Scala object methods get static forwarders,
  * so generated Java calls `GraftHash.mix(...)` directly. Any engine with
  * 64-bit modular arithmetic reproduces both (the DuckDB oracles do, via
  * HUGEINT with split hi/lo mulmods for the 64-bit constant multiplies).
  */
object GraftHash {
  @inline def poly31(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  @inline def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 30
    h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27
    h *= 0x94d049bb133111ebL
    h ^= h >>> 31
    h
  }
}

/** k-hash MinHash signature of a string array. The shingle bytes are
  * hashed ONCE (poly-31 + splitmix64, the shared engine-portable hash);
  * hash j is one further splitmix64 of base + j·φ64 (the golden-ratio
  * increment splitmix64 streams use), instead of k full re-hashes of the
  * string — and every step replays exactly in the d2 DuckDB oracle.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = GraftHash.mix(GraftHash.poly31(arr.getUTF8String(i).getBytes))
      var j = 0
      while (j < numHashes) {
        val h = GraftHash.mix(base + j * 0x9E3779B97F4A7C15L)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val gh = "org.apache.spark.sql.graftbridge.GraftHash"
      val gad = classOf[GenericArrayData].getName
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val base = ctx.freshName("base")
      val h = ctx.freshName("h")
      s"""
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $base = $gh.mix($gh.poly31($c.getUTF8String($i).getBytes()));
         |  for (int $j = 0; $j < $numHashes; $j++) {
         |    long $h = $gh.mix($base + $j * 0x9E3779B97F4A7C15L);
         |    if ($h < $mins[$j]) $mins[$j] = $h;
         |  }
         |}
         |${ev.value} = new $gad($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** 64-bit SimHash of a string array: per-bit majority vote over the
  * token hashes. One hash per token — poly-31 over the UTF-8 bytes plus
  * the splitmix64 finalizer, the same engine-portable hash HashEmbedding
  * uses, so the d3 DuckDB oracle replays the fingerprints bit-for-bit —
  * with the 64 bit votes reading that hash's bits directly.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val bytes = arr.getUTF8String(i).getBytes
      var h = 0L
      var j = 0
      while (j < bytes.length) { h = h * 31L + (bytes(j) & 0xffL); j += 1 }
      h ^= h >>> 30
      h *= 0xbf58476d1ce4e5b9L
      h ^= h >>> 27
      h *= 0x94d049bb133111ebL
      h ^= h >>> 31
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val bs = ctx.freshName("bs")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  byte[] $bs = $c.getUTF8String($i).getBytes();
         |  long $h = 0L;
         |  for (int $j = 0; $j < $bs.length; $j++) { $h = $h * 31L + ($bs[$j] & 0xffL); }
         |  $h ^= $h >>> 30;
         |  $h *= 0xbf58476d1ce4e5b9L;
         |  $h ^= $h >>> 27;
         |  $h *= 0x94d049bb133111ebL;
         |  $h ^= $h >>> 31;
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($counts[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Feature-hashing embedding of a string array: each token's hash picks a
  * dimension (`hash mod dim`) and a sign (top hash bit), accumulating a
  * signed bag-of-words vector that is then L2-normalized — the "hashing
  * trick" featurizer. Deterministic, fixed-size, one pass; the text-side
  * input to the embedding dedup / ANN operators when no model embedding
  * exists.
  *
  * The token hash is a poly-31 fold over the UTF-8 bytes followed by the
  * splitmix64 finalizer (Steele et al., the murmur-grade avalanche:
  * xor-shift-30, *0xbf58476d1ce4e5b9, xor-shift-27, *0x94d049bb133111eb,
  * xor-shift-31) — only wraparound multiply, logical shift, and xor, so
  * any engine with 64-bit modular arithmetic reproduces it bit-for-bit
  * (the DuckDB oracle does, via HUGEINT mod-2^64 with a split mulmod).
  * A raw poly-31 hash is GF(2)-structured and leaves short tokens'
  * high bits nearly constant; the nonlinear multiplies decorrelate
  * every output bit, which SimHash's per-bit votes require.
  */
case class HashEmbedding(child: Expression, dim: Int) extends UnaryExpression {
  require(dim > 0)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_hash_embedding"

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = new Array[Double](dim)
    var i = 0
    while (i < arr.numElements()) {
      val bytes = arr.getUTF8String(i).getBytes
      var h = 0L
      var j = 0
      while (j < bytes.length) { h = h * 31L + (bytes(j) & 0xffL); j += 1 }
      h ^= h >>> 30
      h *= 0xbf58476d1ce4e5b9L
      h ^= h >>> 27
      h *= 0x94d049bb133111ebL
      h ^= h >>> 31
      val idx = java.lang.Math.floorMod(h, dim.toLong).toInt
      acc(idx) += (if (h < 0) -1.0 else 1.0)
      i += 1
    }
    var ss = 0.0
    var j = 0
    while (j < dim) { ss += acc(j) * acc(j); j += 1 }
    if (ss > 0) {
      val inv = 1.0 / math.sqrt(ss)
      j = 0
      while (j < dim) { acc(j) *= inv; j += 1 }
    }
    new GenericArrayData(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val gad = classOf[GenericArrayData].getName
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val idx = ctx.freshName("idx")
      val ss = ctx.freshName("ss")
      val inv = ctx.freshName("inv")
      s"""
         |double[] $acc = new double[$dim];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  byte[] $b = $c.getUTF8String($i).getBytes();
         |  long $h = 0L;
         |  for (int $j = 0; $j < $b.length; $j++) { $h = $h * 31L + ($b[$j] & 0xffL); }
         |  $h ^= $h >>> 30;
         |  $h *= 0xbf58476d1ce4e5b9L;
         |  $h ^= $h >>> 27;
         |  $h *= 0x94d049bb133111ebL;
         |  $h ^= $h >>> 31;
         |  int $idx = (int) java.lang.Math.floorMod($h, (long) $dim);
         |  $acc[$idx] += ($h < 0L) ? -1.0 : 1.0;
         |}
         |double $ss = 0.0;
         |for (int $j = 0; $j < $dim; $j++) { $ss += $acc[$j] * $acc[$j]; }
         |if ($ss > 0.0) {
         |  double $inv = 1.0 / java.lang.Math.sqrt($ss);
         |  for (int $j = 0; $j < $dim; $j++) { $acc[$j] *= $inv; }
         |}
         |${ev.value} = new $gad($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HashEmbedding =
    copy(child = newChild)
}

/** Number of tokens (with multiplicity) of a string array that belong to a
  * fixed word set — the marker-lexicon hit counter behind language ID and
  * stopword-ratio scoring. The higher-order-function spelling
  * `size(filter(toks, _.isin(words)))` evaluates an interpreted lambda per
  * token and materializes the filtered array; this is one codegen'd loop
  * over a prebuilt hash set, no intermediate array.
  */
case class CountInSet(child: Expression, words: Seq[String])
    extends UnaryExpression {
  require(words.nonEmpty)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_count_in_set"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var c = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |long $cnt = 0L;
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if ($setRef.contains($c.getUTF8String($i))) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}

/** Intersection size of two LEXICOGRAPHICALLY SORTED string arrays (binary
  * UTF8 order, i.e. Spark's default array_sort order for strings) as one
  * merge pass — the exact set-similarity verification kernel. The builtin
  * `array_intersect` builds a per-row hash set plus a result array and is
  * re-evaluated wherever the optimizer substitutes it (join condition +
  * projections); this is a single allocation-free loop, ~30x cheaper per
  * candidate pair at 300k+ pairs.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Number of positions where two long arrays agree — the MinHash estimate
  * numerator — as one codegen'd loop.
  */
case class EqualCountLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_equal_count"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $c = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EqualCountLong =
    copy(left = newLeft, right = newRight)
}

/** XXH64(seed 42) of every k-token shingle of a space-delimited string, as
  * one pass over the raw bytes. Because tokens are split on single spaces
  * and shingles re-joined with single spaces, shingle i is EXACTLY the byte
  * range of the input from token i's start to token i+k-1's end — so each
  * hash reads the original buffer in place, no per-shingle string is ever
  * materialized, and the values are bit-identical to
  * `transform(shingles, s -> xxhash64(s))` over the concat_ws spelling
  * (0x20 never occurs inside a multi-byte UTF-8 sequence, so the byte scan
  * is codepoint-safe). The HOF spelling re-evaluates the split per element
  * after projection collapse — O(n²) per document; this is O(n).
  */
case class ShingleHash64(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash64"

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val nb = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // token i starts at starts(i); a token count of t has t-1 separating
    // spaces, so starts has at most nb+1 entries
    val starts = new Array[Int](nb + 2)
    var nTok = 1
    starts(0) = 0
    var p = 0
    while (p < nb) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + p) == 0x20.toByte) {
        starts(nTok) = p + 1
        nTok += 1
      }
      p += 1
    }
    if (nTok < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](nTok - k + 1)
    var i = 0
    while (i < out.length) {
      val from = starts(i)
      val to = if (i + k < nTok) starts(i + k) - 1 else nb
      out(i) = XXH64.hashUnsafeBytes(base, off + from, to - from, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val xxh = classOf[XXH64].getName
      val gad = classOf[GenericArrayData].getName
      val platform = "org.apache.spark.unsafe.Platform"
      val nb = ctx.freshName("nb")
      val base = ctx.freshName("base")
      val off = ctx.freshName("off")
      val starts = ctx.freshName("starts")
      val nTok = ctx.freshName("nTok")
      val p = ctx.freshName("p")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val from = ctx.freshName("from")
      val to = ctx.freshName("to")
      s"""
         |int $nb = $c.numBytes();
         |Object $base = $c.getBaseObject();
         |long $off = $c.getBaseOffset();
         |int[] $starts = new int[$nb + 2];
         |int $nTok = 1;
         |for (int $p = 0; $p < $nb; $p++) {
         |  if ($platform.getByte($base, $off + $p) == (byte) 0x20) {
         |    $starts[$nTok++] = $p + 1;
         |  }
         |}
         |long[] $out = new long[$nTok < $k ? 0 : $nTok - $k + 1];
         |for (int $i = 0; $i < $out.length; $i++) {
         |  int $from = $starts[$i];
         |  int $to = ($i + $k < $nTok) ? $starts[$i + $k] - 1 : $nb;
         |  $out[$i] = $xxh.hashUnsafeBytes($base, $off + $from, $to - $from, 42L);
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHash64 =
    copy(child = newChild)
}

/** The cls1 scoring dot product as ONE tight loop: for a double-array
  * embedding and a constant (dim+1)-slot long weight vector (slot `dim`
  * = bias), computes
  *   Σ_{j<dim} ⌊e[j]·10⁶ + 0.5⌋ · w[j]  +  10⁶ · w[dim]
  * — bit-identical to the unrolled `floor(element_at(e, j+1)·1e6+0.5)
  * .cast(long) · w(j)` spelling (same per-term floor/cast, and long
  * addition is order-independent), but ~15x faster: the embedding array
  * is traversed once instead of once per term through 64 separate
  * codegen'd element_at trees. Weights ride as a constructor constant
  * (the CountInSet pattern), not a child, so the loop bound and the
  * array reference are compile-time fixed.
  */
case class QuantizedDotLong(child: Expression, weights: Seq[Long])
    extends UnaryExpression {
  require(weights.size >= 2, "weights must hold >=1 dim slot plus the bias")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_quantized_dot"

  private val dim = weights.size - 1
  @transient private lazy val w: Array[Long] = weights.toArray

  protected override def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val n = math.min(dim, e.numElements())
    var z = 1000000L * w(dim)
    var j = 0
    while (j < n) {
      z += java.lang.Math.floor(e.getDouble(j) * 1e6 + 0.5).toLong * w(j)
      j += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("wq", w, "long[]")
    nullSafeCodeGen(ctx, ev, e => {
      val n = ctx.freshName("n")
      val z = ctx.freshName("z")
      val j = ctx.freshName("j")
      s"""
         |int $n = java.lang.Math.min($dim, $e.numElements());
         |long $z = 1000000L * $wRef[$dim];
         |for (int $j = 0; $j < $n; $j++) {
         |  $z += (long) java.lang.Math.floor($e.getDouble($j) * 1.0E6 + 0.5) * $wRef[$j];
         |}
         |${ev.value} = $z;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizedDotLong =
    copy(child = newChild)
}

/** Bloom-prefilter candidate emitter for the x42c blocklist gate: walks a
  * string ONCE and emits only the windows whose k Bloom probes all hit —
  * token mode (`gramLen == 0`: 0x20-delimited tokens, empty tokens
  * included, exactly `split(text, " ")`'s limit=-1 convention) or
  * char-gram mode (`gramLen > 0`: every contiguous gramLen-code-point
  * window). The hash family is BY CONSTRUCTION Spark SQL's xxhash64:
  * h1 = XXH64 over the window's UTF-8 bytes at seed 42 (= `xxhash64(w)`),
  * h2 = `XXH64.hashLong(1L, h1)` (= `xxhash64(w, 1L)` — the multi-arg
  * fold feeds the running hash back in as the seed), and probe i tests
  * bit `(h1 + i*h2) mod m` with both halves reduced mod m first — the
  * same algebra as `Curation.bloomMaybe`'s Column spelling (spec-pinned
  * equal), so the SQL-built reference filter and this kernel can never
  * disagree. The Column spelling materializes every token/gram before
  * its filter; this kernel allocates ONLY survivors.
  */
case class BloomCandidates(child: Expression, gramLen: Int,
                           bits: Array[Boolean], k: Int)
    extends UnaryExpression {
  require(gramLen >= 0 && k >= 1 && bits.nonEmpty)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_bloom_candidates"

  protected override def nullSafeEval(input: Any): Any =
    BloomCandidates.candidates(input.asInstanceOf[UTF8String], gramLen, bits, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("bloomBits", bits, "boolean[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = org.apache.spark.sql.graftbridge.BloomCandidates
         |  .candidates($c, $gramLen, $bRef, $k);
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomCandidates =
    copy(child = newChild)
}

object BloomCandidates {
  def candidates(s: UTF8String, gramLen: Int, bits: Array[Boolean],
                 k: Int): ArrayData = {
    val m = bits.length
    val nb = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val out = new java.util.ArrayList[AnyRef]()
    // window [from, from+len): probe the Bloom; copy out only survivors
    // (the input buffer may be a reused UnsafeRow page, so survivors are
    // materialized into fresh byte arrays)
    def probe(from: Int, len: Int): Unit = {
      val h1 = XXH64.hashUnsafeBytes(base, off + from, len, 42L)
      val h2 = XXH64.hashLong(1L, h1)
      val a = java.lang.Math.floorMod(h1, m.toLong).toInt
      val b = java.lang.Math.floorMod(h2, m.toLong).toInt
      var i = 0
      var ok = true
      while (ok && i < k) {
        if (!bits(((a.toLong + i.toLong * b) % m).toInt)) ok = false
        i += 1
      }
      if (ok) {
        val copy = new Array[Byte](len)
        org.apache.spark.unsafe.Platform.copyMemory(base, off + from, copy,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)
        out.add(UTF8String.fromBytes(copy))
      }
    }
    if (gramLen == 0) {
      // 0x20-delimited tokens, empties included (split's limit=-1)
      var tokStart = 0
      var p = 0
      while (p < nb) {
        if (org.apache.spark.unsafe.Platform.getByte(base, off + p) == 0x20.toByte) {
          probe(tokStart, p - tokStart)
          tokStart = p + 1
        }
        p += 1
      }
      probe(tokStart, nb - tokStart)
    } else {
      // code-point starts: UTF-8 bytes that are not continuation bytes
      val starts = new Array[Int](nb + 1)
      var nCh = 0
      var p = 0
      while (p < nb) {
        if ((org.apache.spark.unsafe.Platform.getByte(base, off + p) & 0xC0) != 0x80) {
          starts(nCh) = p
          nCh += 1
        }
        p += 1
      }
      starts(nCh) = nb
      var i = 0
      while (i + gramLen <= nCh) {
        probe(starts(i), starts(i + gramLen) - starts(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** Start positions (token indices) of the k-token shingles of a
  * space-delimited string whose XXH64 (seed 42, ShingleHash64's exact hash
  * — the byte-range walk, no per-shingle string) is a member of a constant
  * sorted long set. One pass per document, membership by binary search —
  * the fused replacement for `posexplode(shingleHash64(text, k))` followed
  * by a broadcast-hash membership join and a per-doc collect_set: the
  * probe set is EXACT (the same distinct hash set the join carried), so
  * the emitted positions are bit-identical to the join's, including the
  * 64-bit-collision contract the c3 scaladoc documents. The set rides the
  * expression as a constructor constant, the bloomBuild/x42c precedent for
  * bounded (benchmark-sized, MBs) reference data.
  */
case class ShingleHitStarts(child: Expression, k: Int, sortedHashes: Array[Long])
    extends UnaryExpression {
  require(k >= 1)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_shingle_hit_starts"

  protected override def nullSafeEval(input: Any): Any =
    ShingleHitStarts.hits(input.asInstanceOf[UTF8String], k, sortedHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("shingleHitSet", sortedHashes, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = org.apache.spark.sql.graftbridge.ShingleHitStarts
         |  .hits($c, $k, $setRef);
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHitStarts =
    copy(child = newChild)
}

object ShingleHitStarts {
  def hits(s: UTF8String, k: Int, sorted: Array[Long]): ArrayData = {
    val nb = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // ShingleHash64's token walk: 0x20-delimited, empties included
    val starts = new Array[Int](nb + 2)
    var nTok = 1
    starts(0) = 0
    var p = 0
    while (p < nb) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + p) == 0x20.toByte) {
        starts(nTok) = p + 1
        nTok += 1
      }
      p += 1
    }
    if (nTok < k) return new GenericArrayData(Array.emptyIntArray)
    // at most one hit per shingle: fill a primitive buffer, trim once
    val last = nTok - k
    val out = new Array[Int](last + 1)
    var n = 0
    var i = 0
    while (i <= last) {
      val from = starts(i)
      val to = if (i + k < nTok) starts(i + k) - 1 else nb
      val h = XXH64.hashUnsafeBytes(base, off + from, to - from, 42L)
      if (java.util.Arrays.binarySearch(sorted, h) >= 0) { out(n) = i; n += 1 }
      i += 1
    }
    new GenericArrayData(if (n == out.length) out else java.util.Arrays.copyOf(out, n))
  }
}

/** Number of elements of a long-array column that are members of a
  * constant sorted long set — the aggregate-free form of `explode` + a
  * broadcast-hash membership join + per-row count, for bounded reference
  * sets (the ShingleHitStarts companion; same constructor-constant
  * precedent). Elements are counted with multiplicity: callers that need
  * distinct-hit counts pass an array_distinct'ed child, exactly as the
  * join form exploded one.
  */
case class CountInSortedLongSet(child: Expression, sortedSet: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_count_in_sorted_set"

  protected override def nullSafeEval(input: Any): Any =
    CountInSortedLongSet.count(input.asInstanceOf[ArrayData], sortedSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("sortedLongSet", sortedSet, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = org.apache.spark.sql.graftbridge.CountInSortedLongSet
         |  .count($c, $setRef);
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSortedLongSet =
    copy(child = newChild)
}

object CountInSortedLongSet {
  def count(a: ArrayData, sorted: Array[Long]): Long = {
    val n = a.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (java.util.Arrays.binarySearch(sorted, a.getLong(i)) >= 0) c += 1
      i += 1
    }
    c
  }
}
