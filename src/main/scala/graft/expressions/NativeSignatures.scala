package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot signature computations
  * (SimHash, MinHash, signed-random-projection).
  *
  * The higher-order-function formulations (see Text.simhash64's
  * original zip_with/aggregate shape) build per-token expression trees
  * that the interpreter walks element by element — measured 10–40 s
  * per extension query at sf0.1. These expressions do the same math in
  * a tight JVM loop over the array data: one `XXH64` (seed 42, matching SQL xxhash64) per token plus
  * integer ops. Same operator shape around them (tokenize → signature
  * → band → equi-join), ~50× less per-row cost.
  *
  * Each function generates code as a single static call into the
  * JVM loop (`NativeSignatures.xxxEval`, through
  * `ColumnBridge.staticCall` or an expression class that holds the
  * hash constants), so the enclosing projection stays inside
  * whole-stage codegen — a CodegenFallback here would kick the whole
  * stage back to the interpreted path.
  */
object NativeSignatures {

  // --- static eval helpers (called from generated code) ---

  def simhashEval(arr: ArrayData): Long = {
    val counters = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counters(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  def minhashEval(arr: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val numHashes = as.length
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var k = 0
        while (k < numHashes) {
          val g = as(k) * h + bs(k)
          if (g < mins(k)) mins(k) = g
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Fused shingle+MinHash: signature of the char-n-gram multiset of
    * `str`, computed by sliding a two-pointer byte window over the
    * lowercased text and hashing each window IN PLACE. Bit-identical
    * to `minhashEval(charShinglesEval(str, n))`: MinHash is invariant
    * under duplicate shingles (min over a multiset = min over its
    * set), and each window hashes exactly the bytes the substring
    * copy would — so the distinct-set pass, the per-shingle
    * UTF8String allocations, and the intermediate array all drop out.
    * Fewer than n chars → the empty-set sentinel (Long.MaxValue
    * everywhere), matching the composed path on an empty shingle
    * array. */
  def minhashTextEval(str: UTF8String, n: Int,
                      as: Array[Long], bs: Array[Long]): ArrayData = {
    val s = str.toLowerCase
    val numHashes = as.length
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val total = s.numBytes()
    // advance the window end n chars in (UTF-8 aware)
    var end = 0
    var chars = 0
    while (chars < n && end < total) {
      end += UTF8String.numBytesForFirstByte(s.getByte(end))
      chars += 1
    }
    if (chars == n && end <= total) {
      var start = 0
      var more = true
      while (more) {
        val h = XXH64.hashUnsafeBytes(base, off + start, end - start, 42L)
        var k = 0
        while (k < numHashes) {
          val g = as(k) * h + bs(k)
          if (g < mins(k)) mins(k) = g
          k += 1
        }
        if (end >= total) more = false
        else {
          start += UTF8String.numBytesForFirstByte(s.getByte(start))
          end += UTF8String.numBytesForFirstByte(s.getByte(end))
        }
      }
    }
    new GenericArrayData(mins)
  }

  def srpEval(arr: ArrayData, planes: Int, coefCache: Array[Array[Double]]): Long = {
    val dim = arr.numElements()
    val vec = arr.toDoubleArray()
    var c = coefCache(0)
    if (c == null || c.length != planes * dim) {
      c = new Array[Double](planes * dim)
      var k = 0
      while (k < c.length) {
        c(k) = ((splitmix64(k) >>> 11) * (1.0 / (1L << 52))) - 1.0
        k += 1
      }
      coefCache(0) = c
    }
    var sig = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var j = 0
      val off = p * dim
      while (j < dim) { dot += vec(j) * c(off + j); j += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Exact distinct char-n-gram Jaccard of two RAW strings, fused:
    * value-identical to intersect/union over [[charShinglesEval]]
    * outputs (same lowercasing, distinct sets, inclusion-exclusion
    * union) but ONE evaluation with zero array materialization.
    * Built for verify predicates that end up inside JOIN conditions,
    * where expression trees evaluate without whole-stage-codegen
    * subexpression elimination — a composed
    * jaccard(charShingles(a), charShingles(b)) re-shingles both
    * texts for every sub-reference there (measured 154 s → 5 s on
    * the x56 sf1 verify). Unrounded; callers apply round(·, 4). */
  /** Visit every n-char window of the lowercased string as a
    * zero-copy UTF8String view over the backing bytes — the same
    * incremental UTF-8 byte walk as [[minhashTextEval]], O(len)
    * total (char-indexed substring would re-walk from byte 0 per
    * window, O(len²) on production-sized documents). */
  private def eachShingle(s0: UTF8String, n: Int)(f: UTF8String => Unit): Unit = {
    val s = s0.toLowerCase
    val bytes = s.getBytes
    val total = bytes.length
    var end = 0
    var chars = 0
    while (chars < n && end < total) {
      end += UTF8String.numBytesForFirstByte(bytes(end))
      chars += 1
    }
    if (chars == n && end <= total) {
      var start = 0
      var more = true
      while (more) {
        f(UTF8String.fromBytes(bytes, start, end - start))
        if (end >= total) more = false
        else {
          start += UTF8String.numBytesForFirstByte(bytes(start))
          end += UTF8String.numBytesForFirstByte(bytes(end))
        }
      }
    }
  }

  def jaccardTextEval(a: UTF8String, b: UTF8String, n: Int): Double = {
    val setA = new java.util.HashSet[UTF8String]()
    eachShingle(a, n)(sh => { setA.add(sh); () })
    val setB = new java.util.HashSet[UTF8String]()
    var inter = 0L
    eachShingle(b, n) { sh =>
      if (setB.add(sh) && setA.contains(sh)) inter += 1
    }
    val union = setA.size.toDouble + setB.size.toDouble - inter
    if (union > 0) inter / union else 0.0
  }

  /** Distinct n-char shingles of the lowercased string, in
    * first-occurrence order. Each kept shingle is copied out of the
    * [[eachShingle]] view: the view's backing array can be the input
    * row's buffer, which the next row overwrites. */
  def charShinglesEval(str: UTF8String, n: Int): ArrayData = {
    val seen = new java.util.LinkedHashSet[UTF8String]()
    eachShingle(str, n)(sh => if (!seen.contains(sh)) seen.add(sh.copy()))
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }


  /** Standard SplitMix64 — deterministic per-index constants. */
  private[expressions] def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash signature over an array<string> of shingles: one XXH64
    * base hash per shingle, `numHashes` affine rehashes (a·h+b with
    * SplitMix64-derived odd constants) — the standard trick that
    * avoids k full hash passes. Empty input → empty-set sentinel
    * signature (Long.MaxValue everywhere). */
  case class MinHashSigExpr(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_native"

    @transient private lazy val as: Array[Long] =
      Array.tabulate(numHashes)(i => splitmix64(2L * i) | 1L) // odd multipliers
    @transient private lazy val bs: Array[Long] =
      Array.tabulate(numHashes)(i => splitmix64(2L * i + 1))

    override def nullSafeEval(v: Any): Any =
      minhashEval(v.asInstanceOf[ArrayData], as, bs)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
      val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeSignatures.minhashEval($c, $asRef, $bsRef);")
    }

    override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
      copy(child = c)
  }

  /** Fused text→MinHash signature (see [[minhashTextEval]]): the
    * signature-table hot path. Same constants as [[MinHashSigExpr]],
    * so signatures from the two paths are interchangeable. */
  case class MinHashTextExpr(child: Expression, n: Int, numHashes: Int)
      extends UnaryExpression {
    require(n > 0, "shingle size must be positive")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_text_native"

    @transient private lazy val as: Array[Long] =
      Array.tabulate(numHashes)(i => splitmix64(2L * i) | 1L)
    @transient private lazy val bs: Array[Long] =
      Array.tabulate(numHashes)(i => splitmix64(2L * i + 1))

    override def nullSafeEval(v: Any): Any =
      minhashTextEval(v.asInstanceOf[UTF8String], n, as, bs)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
      val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeSignatures.minhashTextEval($c, $n, $asRef, $bsRef);")
    }

    override protected def withNewChildInternal(c: Expression): MinHashTextExpr =
      copy(child = c)
  }

  /** Signed-random-projection signature over an array<double>: bit p =
    * sign(Σ_j v[j]·c[p,j]) with SplitMix64-derived coefficients in
    * [-1,1). Coefficient matrix is built once per task (dim discovered
    * from the first row). */
  case class SrpSigExpr(child: Expression, planes: Int)
      extends UnaryExpression {
    require(planes > 0 && planes <= 63, "planes must be in 1..63")
    override def dataType: DataType = LongType
    override def prettyName: String = "srp_sig_native"

    // one-slot coefficient cache (dim discovered at first eval); a
    // benign race just recomputes the deterministic matrix
    private val coefCache: Array[Array[Double]] = new Array(1)

    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(srpEval(v.asInstanceOf[ArrayData], planes, coefCache))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cacheRef = ctx.addReferenceObj("srpCoefCache", coefCache, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeSignatures.srpEval($c, $planes, $cacheRef);")
    }

    override protected def withNewChildInternal(c: Expression): SrpSigExpr =
      copy(child = c)
  }

  /** Count of positionally-equal components of two long-array
    * signatures (the MinHash Jaccard estimator's numerator). One
    * primitive pass; the zip_with+aggregate HOF chain it replaces is
    * CodegenFallback and allocates per candidate pair. */
  def sigAgreeEval(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  case class SigAgreeExpr(left: Expression, right: Expression)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    // declared input types make analysis reject any other input
    // (DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE; ExpectsInputTypes
    // inserts no cast) — sigAgreeEval reads 8-byte strides, so an
    // undeclared array<int> input would silently return garbage
    override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "sig_agree_native"

    override def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Long.valueOf(
        sigAgreeEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.expressions.NativeSignatures.sigAgreeEval($a, $b);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgreeExpr =
      copy(left = l, right = r)
  }

  // Column-level entry points

  /** SimHash-64 over an array<string> of tokens. */
  def simhash64(tokens: Column): Column =
    ColumnBridge.staticCall(this, "simhashEval", LongType)(tokens)

  /** Distinct character n-gram shingles of a (lowercased) string —
    * one pass with a LinkedHashSet. The HOF formulation
    * (transform(sequence…, substr) + array_distinct) measured ~11 s
    * over 5000 docs at sf0.1; this runs in milliseconds. */
  def charShingles(str: Column, n: Int): Column = {
    require(n > 0, "shingle size must be positive")
    ColumnBridge.staticCall(this, "charShinglesEval",
      ArrayType(StringType, containsNull = false))(str, lit(n))
  }

  def jaccardText(a: Column, b: Column, n: Int): Column = {
    require(n > 0, "shingle size must be positive")
    ColumnBridge.staticCall(this, "jaccardTextEval", DoubleType)(a, b, lit(n))
  }

  def minhashSignature(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashSigExpr(ColumnBridge.expression(shingles), numHashes))

  def minhashText(str: Column, n: Int, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashTextExpr(ColumnBridge.expression(str), n, numHashes))

  def srpSignature(vec: Column, planes: Int): Column =
    ColumnBridge.column(SrpSigExpr(ColumnBridge.expression(vec), planes))

  def sigAgree(a: Column, b: Column): Column =
    ColumnBridge.column(
      SigAgreeExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
