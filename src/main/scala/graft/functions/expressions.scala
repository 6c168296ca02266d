package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSQLBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit hash family used by the sketch expressions.
  * Derived seeds are generated with a splitmix64 step so that the k minhash
  * permutations are pairwise independent-ish yet fully deterministic across
  * executors and rounds (no Random state shipped in closures).
  */
private[graft] object HashFamily {
  final val BaseSeed = 42L
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  /** Odd multiplier + offset for the i-th affine permutation. */
  def affine(i: Int): (Long, Long) = {
    val a = splitmix64(BaseSeed + 2L * i) | 1L
    val b = splitmix64(BaseSeed + 2L * i + 1)
    (a, b)
  }
  def hashString(s: UTF8String, seed: Long): Long =
    XxHash64Function.hash(s, StringType, seed)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** PORTABLE 64-bit hash: first 8 bytes of md5(utf8 bytes), big-endian.
    * Chosen because every engine with an `md5(varchar)` can reproduce it —
    * DuckDB: `('0x' || substr(md5(t), 1, 16))::UBIGINT` yields the identical
    * bit pattern — which is what lets hash-keyed operators (simhash) be
    * checked hash-exact against an external oracle. Slower than xxhash64
    * (a MessageDigest round per element), so it is the gate/interop variant,
    * not the default hot path.
    */
  def md5Long(s: UTF8String): Long = {
    val md = md5Local.get(); md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L; var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }
}

/** MinHash signature of an array<string> token/shingle column.
  *
  * One pass per row: each element is hashed once with xxhash64, then the k
  * "permutations" are affine transforms (a_i*h + b_i) of that base hash —
  * the standard one-permutation-free trick (Broder '97). Map-side only; no
  * shuffle. Scales to 100 TB because the signature is computed where the row
  * lives and only `k*8` bytes per row move afterwards.
  *
  * Capability parity note: the reference (zetaris/lightning-metastore) has no
  * sketching; this is part of the training-data-pipeline extension surface.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash expects array<string>, got $t")
  }
  private lazy val coeffs: Array[(Long, Long)] =
    Array.tabulate(numHashes)(HashFamily.affine)

  /** Whole-stage-codegen body: same arithmetic as nullSafeEval, with the
    * xxhash64 of each element computed once and the k affine transforms in a
    * tight register loop — this is the per-row hot path of 100 TB dedup.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("minhashA", coeffs.map(_._1), "long[]")
    val b = ctx.addReferenceObj("minhashB", coeffs.map(_._2), "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val s = ctx.freshName("s")
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |int $n = $c.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$c.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $s = $c.getUTF8String($i);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), ${HashFamily.BaseSeed}L);
         |    for (int $j = 0; $j < $numHashes; $j++) {
         |      long $v = $a[$j] * $h + $b[$j];
         |      if ($v < $sig[$j]) $sig[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })
  }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = HashFamily.hashString(arr.getUTF8String(i), HashFamily.BaseSeed)
        var j = 0
        while (j < numHashes) {
          val (a, b) = coeffs(j)
          val v = a * h + b
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** 64-bit SimHash (Charikar '02) of an array<string> column. Map-side only.
  *
  * `doGenCode` keeps the kernel inside whole-stage codegen (the expression
  * rides along as a reference object and the generated code calls
  * [[computeHash]] — one JIT-compiled monomorphic call per row, the
  * [[InBroadcastSet]] pattern), so the corpus-wide simhash stage no longer
  * breaks the codegen span with an interpreted fallback.
  *
  * @param portable when true, tokens are hashed with [[HashFamily.md5Long]]
  *                 (md5-derived, engine-portable) instead of xxhash64 — the
  *                 variant the hash-exact DuckDB oracle of the dedup_simhash
  *                 gate reproduces bit-for-bit. Default stays xxhash64 (fast).
  */
case class SimHash64(child: Expression, portable: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash expects array<string>, got $t")
  }
  def computeHash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val acc = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h =
          if (portable) HashFamily.md5Long(arr.getUTF8String(i))
          else HashFamily.hashString(arr.getUTF8String(i), HashFamily.BaseSeed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  override def nullSafeEval(input: Any): Any = computeHash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeHash($c);")
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** Sliding word n-gram shingles over an array<string>: ["a","b","c"], n=2 ->
  * ["a b","b c"]. Arrays shorter than n yield the whole-array join (one
  * shingle) so short docs still participate in dedup.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"shingles expects array<string>, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val words = new Array[UTF8String](len)
    var i = 0
    while (i < len) { words(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i); i += 1 }
    val sep = UTF8String.fromString(" ")
    if (len == 0) new GenericArrayData(Array.empty[Any])
    else if (len <= n) new GenericArrayData(Array[Any](UTF8String.concatWs(sep, words.toIndexedSeq: _*)))
    else {
      val out = new Array[Any](len - n + 1)
      var s = 0
      while (s <= len - n) {
        val slice = new Array[UTF8String](n)
        var j = 0
        while (j < n) { slice(j) = words(s + j); j += 1 }
        out(s) = UTF8String.concatWs(sep, slice.toIndexedSeq: _*)
        s += 1
      }
      new GenericArrayData(out)
    }
  }
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  override def prettyName: String = "word_shingles"
}

/** Occurrence count of each distinct element of an array<string>, in
  * first-occurrence order: ["a","b","a"] -> [{a,2},{b,1}]. One hash pass,
  * linear in the array's length. Null elements are not counted.
  */
case class TokenCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w", StringType, nullable = false),
    StructField("c", IntegerType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"token_counts expects array<string>, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Int]]()
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val w = arr.getUTF8String(i)
        val c = counts.get(w)
        if (c == null) counts.put(w.clone(), Array(1)) else c(0) += 1
      }
      i += 1
    }
    val out = new Array[Any](counts.size)
    var j = 0
    counts.forEach((w, c) => { out(j) = InternalRow(w, c(0)); j += 1 })
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): TokenCounts = copy(child = c)
  override def prettyName: String = "token_counts"
}

/** FUSED shingle→MinHash kernel: bit-identical to
  * `MinHashSignature(WordShingles(tokens, n), numHashes)` with ZERO
  * per-shingle allocation. The r13 same-JVM A/B proved candidate
  * generation is ~90% of the sf5 dedup gates, and the composed pipeline's
  * hot loop was an allocation storm — one UTF8String + byte copy per
  * shingle per row ([[WordShingles]]) plus the intermediate array.
  *
  * The fusion rests on one structural fact: shingles are SPACE-JOINED runs
  * of consecutive words, so every shingle is a CONTIGUOUS BYTE SLICE of
  * the space-joined token buffer. One pass builds that buffer in a
  * thread-local scratch (grown geometrically, zero steady-state
  * allocation) with the word start offsets; each shingle hash is then
  * `XXH64.hashUnsafeBytes` over a slice — the identical bytes the composed
  * pipeline hashed, hence identical signatures (gates stay hash-exact).
  * The k affine "permutations" fold into the same loop, so per row the
  * kernel allocates exactly the output signature array.
  *
  * Codegen: the expression rides along as a reference object and the
  * generated code calls [[computeRaw]] — a monomorphic JIT-compiled call,
  * keeping the whole scan stage inside whole-stage codegen (no
  * CodegenFallback in the signature stage).
  *
  * [[WordShingles]] stays as the standalone set-producing function for the
  * exact-Jaccard verify stage, which genuinely needs the shingle sets.
  */
case class ShingleMinHash(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression {
  require(n >= 1 && numHashes >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"shingle_minhash expects array<string>, got $t")
  }
  private lazy val coeffA: Array[Long] = Array.tabulate(numHashes)(HashFamily.affine(_)._1)
  private lazy val coeffB: Array[Long] = Array.tabulate(numHashes)(HashFamily.affine(_)._2)

  def computeRaw(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    if (len == 0) return new GenericArrayData(sig) // no shingles (WordShingles parity)
    val scratch = ShingleMinHash.scratch.get()
    val words = scratch.words(len)
    var total = 0L
    var i = 0
    while (i < len) {
      val w = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      words(i) = w
      total += w.numBytes()
      i += 1
    }
    total += len - 1 // single-space separators, empty words kept (concatWs parity)
    if (total > Int.MaxValue - 16)
      // absurd row (>2 GB of tokens): fall back to semantics-equivalent slow
      // path rather than overflowing the scratch index
      return new GenericArrayData(
        MinHashSignature(child, numHashes).nullSafeEval(
          WordShingles(child, n).nullSafeEval(arr).asInstanceOf[ArrayData])
          .asInstanceOf[GenericArrayData].toLongArray())
    val tot = total.toInt
    val buf = scratch.bytes(tot)
    // starts has len+1 entries; starts(len) points one PAST a phantom
    // trailing separator, so shingle s always spans
    // [starts(s), starts(s+n) - 1) — no special case for the last window
    val starts = scratch.starts(len + 1)
    var pos = 0
    i = 0
    while (i < len) {
      starts(i) = pos
      val w = words(i)
      w.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
      pos += w.numBytes()
      if (i < len - 1) { buf(pos) = ' '; pos += 1 }
      words(i) = null // release the row's refs (scratch outlives the row)
      i += 1
    }
    starts(len) = tot + 1
    val nShingles = if (len <= n) 1 else len - n + 1
    val step = if (len <= n) len else n // short arrays: one whole-join shingle
    var s = 0
    while (s < nShingles) {
      val off = starts(s)
      val sliceLen = starts(s + step) - 1 - off
      val h = XXH64.hashUnsafeBytes(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, sliceLen,
        HashFamily.BaseSeed)
      var j = 0
      while (j < numHashes) {
        val v = coeffA(j) * h + coeffB(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      s += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any = computeRaw(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleMinhash", this, classOf[ShingleMinHash].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.computeRaw($c);")
  }
  override protected def withNewChildInternal(c: Expression): ShingleMinHash = copy(child = c)
  override def prettyName: String = "shingle_minhash"
}

object ShingleMinHash {
  /** Per-thread growable buffers: whole-stage codegen shares reference
    * objects across partitions/threads, so the reusable scratch must be
    * thread-confined. Geometric growth; steady state is zero allocation
    * per row beyond the output signature.
    */
  private final class Scratch {
    private var buf = new Array[Byte](8192)
    private var off = new Array[Int](256)
    private var ws = new Array[UTF8String](256)
    def bytes(min: Int): Array[Byte] = {
      if (buf.length < min) buf = new Array[Byte](java.lang.Integer.highestOneBit(min - 1) * 2)
      buf
    }
    def starts(min: Int): Array[Int] = {
      if (off.length < min) off = new Array[Int](java.lang.Integer.highestOneBit(min - 1) * 2)
      off
    }
    def words(min: Int): Array[UTF8String] = {
      if (ws.length < min) ws = new Array[UTF8String](java.lang.Integer.highestOneBit(min - 1) * 2)
      ws
    }
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }
}

/** Cosine similarity of two float/double vectors with whole-stage codegen.
  *
  * Accumulates dot and norms sequentially in double (IEEE-deterministic, so
  * results are bit-identical across engines that do the same), which makes it
  * oracle-comparable against DuckDB's list_cosine_similarity. This is the hot
  * inner loop of brute-force ANN — doGenCode keeps it inside whole-stage
  * codegen instead of falling back to interpreted eval.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }
  override def checkInputDataTypes(): TypeCheckResult = (elemType(left), elemType(right)) match {
    case (FloatType, FloatType) | (DoubleType, DoubleType) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"cosine expects two array<float> or two array<double>, got $t")
  }
  private lazy val isFloat = elemType(left) == FloatType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
    } else {
      while (i < n) {
        val x = a.getDouble(i); val y = b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$getter($i);
         |  double $y = (double) $b.$getter($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_similarity"
}

/** Sign-bit LSH bucket for a float/double vector: the i-th bit is the sign of
  * the dot product with a deterministic pseudo-random hyperplane (random
  * hypercube rounding, Charikar '02). Used as the coarse quantizer for
  * bucketed ANN — vectors in the same bucket are likely cosine-close.
  * Hyperplane components are derived per (plane, dim) with splitmix64 and
  * mapped to {-1,+1} (Achlioptas-style sparse projections work as well and
  * this avoids materializing a dense random matrix on the driver).
  */
case class HyperplaneLshBucket(child: Expression, bits: Int, planeOffset: Int = 0)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 32)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"lsh_bucket expects array<float|double>, got $t")
  }
  private lazy val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  // the (plane, dim) sign derivation is row-INVARIANT: hoist it out of the
  // per-row loop into a grow-on-demand cached matrix instead of paying
  // bits*dim splitmix64 rounds per corpus row (the embedding-dedup and
  // ann_lsh bucket assignment is a full-corpus map stage)
  @transient private var signs: Array[Array[Double]] = _
  private def signsFor(dim: Int): Array[Array[Double]] = {
    var s = signs
    if (s == null || s(0).length < dim) {
      s = Array.tabulate(bits, math.max(dim, 64)) { (p, i) =>
        if ((HashFamily.splitmix64((p.toLong + planeOffset) << 32 | i.toLong) & 1L) == 0L) 1.0
        else -1.0
      }
      signs = s
    }
    s
  }
  def computeBucket(a: ArrayData): Int = {
    val n = a.numElements()
    val s = signsFor(n)
    var bucket = 0
    var p = 0
    while (p < bits) {
      val sp = s(p)
      var dot = 0.0
      var i = 0
      while (i < n) {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        dot += sp(i) * v
        i += 1
      }
      if (dot >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }
  override def nullSafeEval(input: Any): Any = computeBucket(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBucket", this, classOf[HyperplaneLshBucket].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeBucket($c);")
  }
  override protected def withNewChildInternal(c: Expression): HyperplaneLshBucket = copy(child = c)
  override def prettyName: String = "lsh_bucket"
}

/** Index of the nearest centroid (max dot product over a broadcast-small
  * UNIT-NORM centroid table) for a float/double vector. This is the spherical
  * IVF coarse-quantizer cell assignment: the engine scores with cosine, so the
  * quantizer must carve cells in cosine geometry — against unit centroids,
  * argmax dot(x, c) == argmax cos(x, c) with no per-row normalization (the
  * input's norm scales every dot equally). The per-row hot path over the full
  * corpus at 100 TB stays inside whole-stage codegen: the centroid matrix
  * rides along as a codegen reference object (one per JVM, not per row), and
  * the argmax is a tight primitive double loop. Ties break to the lowest
  * cell index. The centroid table is L2-normalized on construction, so the
  * cosine semantics hold for arbitrary caller-supplied centroids.
  */
case class ArgminCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  require(centroids.nonEmpty)
  // Enforce the unit-norm contract instead of documenting it: the table is
  // re-normalized here, so the result is cosine-nearest no matter what the
  // caller passes (an already-unit table is unchanged).
  private lazy val unitCentroids = CentroidTable.normalizeRows(centroids)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"argmin_centroid expects array<float|double>, got $t")
  }
  private lazy val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    var best = 0; var bestD = Double.NegativeInfinity
    var c = 0
    while (c < unitCentroids.length) {
      val cc = unitCentroids(c)
      val n = math.min(cc.length, a.numElements())
      var d = 0.0; var i = 0
      while (i < n) {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        d += v * cc(i); i += 1
      }
      if (d > bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centroids", unitCentroids, "double[][]")
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c"); val cc = ctx.freshName("cc")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $best = 0; double $bestD = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $cs.length; $c++) {
         |  double[] $cc = $cs[$c];
         |  int $n = java.lang.Math.min($cc.length, $a.numElements());
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $d += (double) $a.$getter($i) * $cc[$i];
         |  }
         |  if ($d > $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }
  // Array fields get identity equality; compare centroid contents so plan
  // canonicalization (e.g. reused subexpressions) behaves.
  override def equals(o: Any): Boolean = o match {
    case ArgminCentroid(c2, cs2) => child == c2 &&
      centroids.length == cs2.length &&
      centroids.indices.forall(i => java.util.Arrays.equals(centroids(i), cs2(i)))
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + centroids.map(java.util.Arrays.hashCode).toSeq.hashCode()
  override protected def withNewChildInternal(c: Expression): ArgminCentroid = copy(child = c)
  override def prettyName: String = "argmin_centroid"
}

/** L2 row normalization for the centroid-assignment expressions: against
  * unit rows, argmax dot == argmax cosine, so normalizing once here makes the
  * assignment independent of the scale of each caller-supplied centroid.
  */
private[graft] object CentroidTable {
  def normalizeRows(cs: Array[Array[Double]]): Array[Array[Double]] =
    cs.map { row =>
      var s = 0.0; var i = 0
      while (i < row.length) { s += row(i) * row(i); i += 1 }
      val n = math.sqrt(s)
      // a zero row stays zero (dots 0 against everything) rather than NaN
      if (n == 0.0 || math.abs(n - 1.0) < 1e-12) row else row.map(_ / n)
    }
}

/** The `nProbe` nearest centroid indices (descending by dot product against
  * the unit-norm centroid table — cosine order, see [[ArgminCentroid]]) for a
  * float/double vector — the IVF query-side probe list. Runs on the small
  * query side only, so interpreted eval (CodegenFallback) is fine.
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]], nProbe: Int)
    extends UnaryExpression with CodegenFallback {
  require(centroids.nonEmpty && nProbe >= 1)
  private lazy val unitCentroids = CentroidTable.normalizeRows(centroids)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"nearest_centroids expects array<float|double>, got $t")
  }
  private lazy val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val dots = new Array[Double](unitCentroids.length)
    var c = 0
    while (c < unitCentroids.length) {
      val cc = unitCentroids(c)
      val n = math.min(cc.length, a.numElements())
      var d = 0.0; var i = 0
      while (i < n) {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        d += v * cc(i); i += 1
      }
      dots(c) = d
      c += 1
    }
    val idx = dots.indices.sortBy(i => (-dots(i), i)).take(math.min(nProbe, unitCentroids.length))
    new GenericArrayData(idx.map(Int.box).toArray[Any])
  }
  override def equals(o: Any): Boolean = o match {
    case NearestCentroids(c2, cs2, p2) => child == c2 && nProbe == p2 &&
      centroids.length == cs2.length &&
      centroids.indices.forall(i => java.util.Arrays.equals(centroids(i), cs2(i)))
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() + nProbe) + centroids.map(java.util.Arrays.hashCode).toSeq.hashCode()
  override protected def withNewChildInternal(c: Expression): NearestCentroids = copy(child = c)
  override def prettyName: String = "nearest_centroids"
}

/** Product-quantization codes (Jegou et al. '11) for a float/double vector:
  * the vector is L2-normalized (cosine geometry), split into
  * `codebooks.length` contiguous subspaces, and each subvector maps to the
  * index of its EUCLIDEAN-nearest codeword — per-subspace argmin, unlike
  * the cosine argmax of [[ArgminCentroid]], because subvectors of a unit
  * vector are not themselves unit and quantization error, not direction,
  * is what PQ minimizes. Runs over the whole corpus at build time, so it
  * generates code (no UDF, stays inside whole-stage codegen on the scan).
  * Subspace boundaries are derived from the codeword lengths, so ragged
  * splits (dim not divisible by M) encode consistently with training.
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]],
    normalize: Boolean = true)
    extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"pq_encode expects array<float|double>, got $t")
  }
  private lazy val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  // starts(m) = first dimension of subspace m
  private lazy val starts: Array[Int] =
    codebooks.map(_.head.length).scanLeft(0)(_ + _).init
  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val v = new Array[Double](n)
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      v(i) = x; s += x * x; i += 1
    }
    // normalize=false is the residual-encoding mode (IVFADC): the input is
    // already a residual in unit-sphere space, scaling it would distort the
    // quantization error being minimized
    val inv = if (!normalize) 1.0 else if (s == 0.0) 0.0 else 1.0 / math.sqrt(s)
    val out = new Array[Any](codebooks.length)
    var m = 0
    while (m < codebooks.length) {
      val cb = codebooks(m); val off = starts(m)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cc = cb(c)
        var d = 0.0; var j = 0
        while (j < cc.length) {
          val x = (if (off + j < n) v(off + j) * inv else 0.0) - cc(j)
          d += x * x; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(m) = best
      m += 1
    }
    new GenericArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbs = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    val sts = ctx.addReferenceObj("starts", starts, "int[]")
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val v = ctx.freshName("v")
      val s = ctx.freshName("s"); val inv = ctx.freshName("inv")
      val out = ctx.freshName("out"); val m = ctx.freshName("m")
      val cb = ctx.freshName("cb"); val off = ctx.freshName("off")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c"); val cc = ctx.freshName("cc")
      val d = ctx.freshName("d"); val j = ctx.freshName("j"); val x = ctx.freshName("x")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |double[] $v = new double[$n];
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$getter($i);
         |  $v[$i] = $x; $s += $x * $x;
         |}
         |double $inv = ${if (normalize) s"($s == 0.0) ? 0.0 : 1.0 / java.lang.Math.sqrt($s)" else "1.0"};
         |int[] $out = new int[$cbs.length];
         |for (int $m = 0; $m < $cbs.length; $m++) {
         |  double[][] $cb = $cbs[$m];
         |  int $off = $sts[$m];
         |  int $best = 0; double $bestD = Double.MAX_VALUE;
         |  for (int $c = 0; $c < $cb.length; $c++) {
         |    double[] $cc = $cb[$c];
         |    double $d = 0.0;
         |    for (int $j = 0; $j < $cc.length; $j++) {
         |      double $x = (($off + $j < $n) ? $v[$off + $j] * $inv : 0.0) - $cc[$j];
         |      $d += $x * $x;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $c; }
         |  }
         |  $out[$m] = $best;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })
  }
  override def equals(o: Any): Boolean = o match {
    case PqEncode(c2, b2, n2) => child == c2 && normalize == n2 &&
      b2.length == codebooks.length &&
      codebooks.indices.forall(m => b2(m).length == codebooks(m).length &&
        codebooks(m).indices.forall(i => java.util.Arrays.equals(codebooks(m)(i), b2(m)(i))))
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() + (if (normalize) 1 else 0)) +
      codebooks.map(_.map(java.util.Arrays.hashCode).toSeq).toSeq.hashCode()
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
  override def prettyName: String = "pq_encode"
}

/** Asymmetric-distance (ADC) score of a PQ code array against one of a
  * bound set of per-query lookup tables: `luts(qid)(m)(code)` holds the
  * partial dot product of query subvector m with codeword `code`, so each
  * (corpus row, query) score is M array lookups — the PQ payoff: the scan
  * touches the M-byte codes, never the full vectors. Tables are built
  * driver-side from the (broadcast-small) query batch and ride into
  * generated code as a reference object.
  */
case class PqLutScore(left: Expression, right: Expression,
    luts: Map[Long, Array[Array[Double]]])
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // an unknown qid scores null even when both children are non-nullable —
  // without this override ev.isNull generates as the literal `false` and
  // the null branch below would not compile
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_lut_score expects (array<int>, bigint), got ($l, $r)")
  }
  // the generated code indexes a dense java map-free structure: sorted qid
  // array + parallel table array, binary-searched once per row
  private lazy val qids: Array[Long] = luts.keys.toArray.sorted
  private lazy val tables: Array[Array[Array[Double]]] = qids.map(luts)
  override def nullSafeEval(codes: Any, qid: Any): Any = {
    val idx = java.util.Arrays.binarySearch(qids, qid.asInstanceOf[Long])
    if (idx < 0) null
    else {
      val t = tables(idx)
      val a = codes.asInstanceOf[ArrayData]
      val m = math.min(t.length, a.numElements())
      var s = 0.0; var i = 0
      while (i < m) {
        val c = a.getInt(i)
        if (c >= 0 && c < t(i).length) s += t(i)(c)
        i += 1
      }
      s
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qs = ctx.addReferenceObj("qids", qids, "long[]")
    val ts = ctx.addReferenceObj("tables", tables, "double[][][]")
    nullSafeCodeGen(ctx, ev, (codes, qid) => {
      val idx = ctx.freshName("idx"); val t = ctx.freshName("t")
      val m = ctx.freshName("m"); val s = ctx.freshName("s")
      val i = ctx.freshName("i"); val c = ctx.freshName("c")
      s"""
         |int $idx = java.util.Arrays.binarySearch($qs, $qid);
         |if ($idx < 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[][] $t = $ts[$idx];
         |  int $m = java.lang.Math.min($t.length, $codes.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    int $c = $codes.getInt($i);
         |    if ($c >= 0 && $c < $t[$i].length) $s += $t[$i][$c];
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
  }
  override def equals(o: Any): Boolean = o match {
    case PqLutScore(l2, r2, u2) => left == l2 && right == r2 &&
      u2.keySet == luts.keySet && luts.keys.forall(k =>
        u2(k).length == luts(k).length &&
          luts(k).indices.forall(i => java.util.Arrays.equals(luts(k)(i), u2(k)(i))))
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * left.hashCode() + right.hashCode()) + qids.toSeq.hashCode()
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqLutScore =
    copy(left = l, right = r)
  override def prettyName: String = "pq_lut_score"
}

/** Karp-Rabin rolling fingerprints + winnowing (Schleimer et al. '03):
  * polynomial hashes of every k-char window, then the min hash of each
  * w-window is kept. Output: array<long> document fingerprint, robust to
  * local edits — complements md5 exact fingerprints.
  *
  * @param portable when true, k-gram hashes use mod-P polynomial arithmetic
  *                 (P = 2^31-1, base 1000003) over UTF-16 code units instead
  *                 of the wrap-around 2^64 polynomial — every intermediate
  *                 fits a 64-bit engine without overflow, so an external SQL
  *                 oracle (DuckDB) reproduces the values bit-for-bit. Same
  *                 winnowing either way; default stays the fast wrap-around.
  */
case class WinnowedFingerprints(child: Expression, k: Int, w: Int,
    portable: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(k >= 2 && w >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"fingerprints expects string, got $t")
  }
  private final val B = 1000000007L
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val nh = n - k + 1
    val hashes = new Array[Long](nh)
    var i = 0
    if (portable) {
      import WinnowedFingerprints.{PortableBase => PB, PortableMod => P}
      var h = 0L
      var pow = 1L
      while (i < k) {
        h = (h * PB + s.charAt(i)) % P
        if (i < k - 1) pow = pow * PB % P
        i += 1
      }
      hashes(0) = h
      i = 1
      while (i < nh) {
        // rolling update mod P: all intermediates stay below 2^52
        h = (((h - s.charAt(i - 1) * pow % P + P) % P) * PB + s.charAt(i + k - 1)) % P
        hashes(i) = h
        i += 1
      }
    } else {
      var h = 0L
      var pow = 1L
      while (i < k) { h = h * B + s.charAt(i); if (i < k - 1) pow = pow * B; i += 1 }
      hashes(0) = h
      i = 1
      while (i < nh) {
        h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + k - 1)
        hashes(i) = h
        i += 1
      }
    }
    // winnow: min of each window of w consecutive hashes, deduped consecutively
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var last = Long.MinValue
    if (nh <= w) {
      out += hashes.min
    } else {
      var start = 0
      while (start <= nh - w) {
        var m = Long.MaxValue
        var j = start
        while (j < start + w) { if (hashes(j) < m) m = hashes(j); j += 1 }
        if (out.isEmpty || m != last) { out += m; last = m }
        start += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): WinnowedFingerprints = copy(child = c)
  override def prettyName: String = "winnowed_fingerprints"
}

object WinnowedFingerprints {
  /** Portable-variant polynomial parameters: P = 2^31 - 1 keeps every
    * intermediate product under 2^52, so engines with checked (non-wrapping)
    * 64-bit arithmetic — DuckDB BIGINT errors on overflow — can evaluate the
    * identical polynomial. Exposed so the gate's oracle SQL derives its
    * inlined power table from the same constants.
    */
  final val PortableMod = 2147483647L
  final val PortableBase = 1000003L
}

/** (sample_rate, duration_ms) probed from an audio byte column — the SQL
  * surface of the multimodal audio header probes (WAV PCM, FLAC STREAMINFO,
  * Ogg Opus/Vorbis granules, MP3 frame header; see
  * [[graft.multimodal.Multimodal.audioInfo]]). Null for unrecognized bytes.
  * The reference runtime-rejects AUDIO sources outright
  * (execution/command/DataSourceType.scala:26-73), so this (plus the AUDIO
  * unstructured scan) extends the surface rather than porting it.
  */
case class AudioInfo(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"audio_info expects binary, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    graft.multimodal.Multimodal.audioInfo(input.asInstanceOf[Array[Byte]]) match {
      case Some((rate, durMs)) => InternalRow(rate, durMs)
      case None => null
    }
  override protected def withNewChildInternal(c: Expression): AudioInfo = copy(child = c)
  override def prettyName: String = "audio_info"
}

/** The full Gopher repetition battery (Rae et al. '21 "Scaling Language
  * Models: Methods, Analysis & Insights from Training Gopher", Table A1)
  * computed DOC-LOCALLY in one pass: duplicate line / paragraph fractions
  * (count- and character-weighted), top {2,3,4}-gram character occupancy,
  * and duplicated {5..10}-gram character coverage.
  *
  * Every signal is a within-document statistic, so the scale-right shape is
  * a single map-side expression — one corpus scan, zero shuffles — rather
  * than exploded groupBys that would shuffle the corpus text once per
  * n-gram size. (The expression body is a per-row hash-count kernel; like
  * the signature kernels above it uses interpreted eval inside the codegen
  * stage.)
  *
  * Definitions pinned for oracle comparability (each mirrors what a SQL
  * engine can recompute):
  *  - paragraphs = text split on "\n\n", lines on "\n"; elements blank
  *    after trim are dropped. A duplicate is any occurrence beyond the
  *    first of an identical element; char fractions weight by element
  *    length over total element chars.
  *  - tokens = lower(trim(text)) with whitespace runs collapsed, split on
  *    " " (the same normalization as [[TextFunctions.normText]]);
  *    `norm_len` = chars of the space-joined tokens.
  *  - top n-gram occupancy (n=2,3,4) = cnt * chars(ngram) / norm_len for
  *    the most frequent space-joined n-gram (ties broken by longer chars —
  *    the fraction is identical for exact (cnt, chars) ties). 0.0 when the
  *    doc has fewer than n tokens.
  *  - dup n-gram coverage (n=5..10) = total chars of tokens covered by at
  *    least one n-gram occurring more than once, over total token chars
  *    (whitespace excluded from both sides; overlaps counted once). 0.0
  *    when the doc has fewer than n tokens.
  */
case class GopherRepetition(child: Expression) extends UnaryExpression with CodegenFallback {
  import GopherRepetition._
  override def dataType: DataType = StructType(FieldNames.map(StructField(_, DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"gopher_repetition expects string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val out = new Array[Any](13)
    val (lf, lcf) = dupElementStats(text.split("\n", -1))
    val (pf, pcf) = dupElementStats(text.split("\n\n", -1))
    out(0) = lf; out(1) = lcf; out(2) = pf; out(3) = pcf
    // UTF8String lowercase (not String.toLowerCase) so SQL lower() semantics
    // are matched exactly, then the normText whitespace collapse
    val norm = input.asInstanceOf[UTF8String].trim().toLowerCase.toString
      .replaceAll("\\s+", " ")
    val tokens = norm.split(" ", -1)
    var totalTokChars = 0L
    var ti = 0
    while (ti < tokens.length) { totalTokChars += tokens(ti).length; ti += 1 }
    var k = 4
    for (n <- 2 to 4) { out(k) = topNgramFrac(tokens, n, norm.length); k += 1 }
    for (n <- 5 to 10) { out(k) = dupNgramCoverage(tokens, n, totalTokChars); k += 1 }
    InternalRow(out.toIndexedSeq: _*)
  }
  override protected def withNewChildInternal(c: Expression): GopherRepetition = copy(child = c)
  override def prettyName: String = "gopher_repetition"
}

object GopherRepetition {
  val FieldNames: Seq[String] = Seq(
    "dup_line_frac", "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac",
    "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
    "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
    "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac")

  /** Table A1 removal thresholds, keyed by signal column name: a doc is
    * kept iff every signal is <= its threshold.
    */
  val KeepThresholds: Seq[(String, Double)] = Seq(
    "dup_line_frac" -> 0.30, "dup_line_char_frac" -> 0.20,
    "dup_para_frac" -> 0.30, "dup_para_char_frac" -> 0.20,
    "top_2gram_char_frac" -> 0.20, "top_3gram_char_frac" -> 0.18,
    "top_4gram_char_frac" -> 0.16,
    "dup_5gram_char_frac" -> 0.15, "dup_6gram_char_frac" -> 0.14,
    "dup_7gram_char_frac" -> 0.13, "dup_8gram_char_frac" -> 0.12,
    "dup_9gram_char_frac" -> 0.11, "dup_10gram_char_frac" -> 0.10)

  private def safeDiv(num: Long, den: Long): Double =
    if (den == 0L) 0.0 else num.toDouble / den.toDouble

  private def dupElementStats(raw: Array[String]): (Double, Double) = {
    val counts = new java.util.HashMap[String, Int]()
    var totalE = 0L; var totalC = 0L
    var i = 0
    while (i < raw.length) {
      val e = raw(i)
      if (e.trim.nonEmpty) {
        counts.merge(e, 1, (a, b) => a + b)
        totalE += 1; totalC += e.length
      }
      i += 1
    }
    var dupE = 0L; var dupC = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val kv = it.next()
      val c = kv.getValue
      if (c > 1) { dupE += c - 1; dupC += (c - 1).toLong * kv.getKey.length }
    }
    (safeDiv(dupE, totalE), safeDiv(dupC, totalC))
  }

  private def ngramAt(tokens: Array[String], start: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(tokens(start + j))
      j += 1
    }
    sb.toString
  }

  private def topNgramFrac(tokens: Array[String], n: Int, normLen: Int): Double = {
    if (tokens.length < n || normLen == 0) return 0.0
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i + n <= tokens.length) { counts.merge(ngramAt(tokens, i, n), 1, (a, b) => a + b); i += 1 }
    var bestCnt = 0; var bestLen = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val kv = it.next()
      val c = kv.getValue; val l = kv.getKey.length
      if (c > bestCnt || (c == bestCnt && l > bestLen)) { bestCnt = c; bestLen = l }
    }
    bestCnt.toLong * bestLen / normLen.toDouble
  }

  private def dupNgramCoverage(tokens: Array[String], n: Int, totalTokChars: Long): Double = {
    if (tokens.length < n || totalTokChars == 0L) return 0.0
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i + n <= tokens.length) { counts.merge(ngramAt(tokens, i, n), 1, (a, b) => a + b); i += 1 }
    val covered = new Array[Boolean](tokens.length)
    i = 0
    while (i + n <= tokens.length) {
      if (counts.get(ngramAt(tokens, i, n)) > 1) {
        var j = i
        while (j < i + n) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    var cov = 0L
    i = 0
    while (i < tokens.length) { if (covered(i)) cov += tokens(i).length; i += 1 }
    safeDiv(cov, totalTokChars)
  }
}

/** Column-API wrappers (ExpressionUtils bridges Column <-> Expression on Spark 4). */
object GraftFunctions {
  private def col(e: Expression): Column = GraftSQLBridge.column(e)
  private def expr(c: Column): Expression = GraftSQLBridge.expression(c)

  def minhash_signature(c: Column, numHashes: Int = 128): Column =
    col(MinHashSignature(expr(c), numHashes))
  def simhash64(c: Column, portable: Boolean = false): Column =
    col(SimHash64(expr(c), portable))
  def word_shingles(c: Column, n: Int): Column = col(WordShingles(expr(c), n))
  def token_counts(c: Column): Column = col(TokenCounts(expr(c)))
  def shingle_minhash(c: Column, n: Int, numHashes: Int = 128): Column =
    col(ShingleMinHash(expr(c), n, numHashes))
  def cosine_similarity(a: Column, b: Column): Column =
    col(CosineSimilarity(expr(a), expr(b)))
  def lsh_bucket(c: Column, bits: Int = 8, planeOffset: Int = 0): Column =
    col(HyperplaneLshBucket(expr(c), bits, planeOffset))
  def winnowed_fingerprints(c: Column, k: Int = 9, w: Int = 4,
      portable: Boolean = false): Column =
    col(WinnowedFingerprints(expr(c), k, w, portable))
  def argmin_centroid(c: Column, centroids: Array[Array[Double]]): Column =
    col(ArgminCentroid(expr(c), centroids))
  def nearest_centroids(c: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    col(NearestCentroids(expr(c), centroids, nProbe))
  def pq_encode(c: Column, codebooks: Array[Array[Array[Double]]],
      normalize: Boolean = true): Column =
    col(PqEncode(expr(c), codebooks, normalize))
  def pq_lut_score(codes: Column, qid: Column,
      luts: Map[Long, Array[Array[Double]]]): Column =
    col(PqLutScore(expr(codes), expr(qid), luts))
  def minhash_agg(c: Column, numHashes: Int = 128): Column =
    col(MinHashAgg(expr(c), numHashes).toAggregateExpression())
  def sketch_jaccard(a: Column, b: Column): Column =
    col(SketchJaccard(expr(a), expr(b)))
  def audio_info(c: Column): Column = col(AudioInfo(expr(c)))
  def gopher_repetition(c: Column): Column = col(GopherRepetition(expr(c)))

  /** SQL registration so spark.sql("SELECT cosine_similarity(a,b) ...") works. */
  /** The SQL surface of the pipeline expressions — ONE builder table shared
    * by [[registerAll]] (temp functions, `Graft.install` path) and
    * `GraftExtensions` (session-extension injection), so the two surfaces
    * cannot drift. Centroid-table expressions (argmin_centroid /
    * nearest_centroids) are deliberately absent: their centroid matrix
    * comes from a fitted model object, not a SQL literal.
    */
  private def intArg(es: Seq[Expression], i: Int, default: => Int): Int =
    es.lift(i).map(_.eval(null).asInstanceOf[Number].intValue).getOrElse(default)

  val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_signature" -> ((es: Seq[Expression]) =>
      MinHashSignature(es.head, intArg(es, 1, 128))),
    "simhash64" -> ((es: Seq[Expression]) => SimHash64(es.head)),
    "word_shingles" -> ((es: Seq[Expression]) =>
      WordShingles(es.head, intArg(es, 1, 3))),
    "shingle_minhash" -> ((es: Seq[Expression]) =>
      ShingleMinHash(es.head, intArg(es, 1, 3), intArg(es, 2, 128))),
    "cosine_similarity" -> ((es: Seq[Expression]) => CosineSimilarity(es.head, es(1))),
    "lsh_bucket" -> ((es: Seq[Expression]) =>
      HyperplaneLshBucket(es.head, intArg(es, 1, 8), intArg(es, 2, 0))),
    "winnowed_fingerprints" -> ((es: Seq[Expression]) =>
      WinnowedFingerprints(es.head, intArg(es, 1, 9), intArg(es, 2, 4))),
    "minhash_agg" -> ((es: Seq[Expression]) =>
      MinHashAgg(es.head, intArg(es, 1, 128)).toAggregateExpression()),
    "sketch_jaccard" -> ((es: Seq[Expression]) => SketchJaccard(es.head, es(1))),
    "audio_info" -> ((es: Seq[Expression]) => AudioInfo(es.head)),
    "gopher_repetition" -> ((es: Seq[Expression]) => GopherRepetition(es.head)),
    // Morton z-value as a composed tree of Spark's own codegen'd bit ops.
    // NOT delegated to Layout.zValue2 via the Column bridge: a Column built
    // from functions._ carries unresolved ColumnNode wrappers that the
    // injectFunction path never analyzes (Unevaluable at codegen). The bit
    // layout therefore exists twice; GraftExtensionsSuite pins the two
    // implementations bit-for-bit at bits=8 and the default 16.
    "z_value2" -> ((es: Seq[Expression]) => {
      val bits = intArg(es, 2, 16)
      require(bits >= 1 && bits <= 31, s"z_value2 bits must be in [1, 31], got $bits")
      def long(e: Expression) = Cast(e, org.apache.spark.sql.types.LongType)
      (0 until bits).foldLeft[Expression](Literal(0L)) { (acc, i) =>
        Add(Add(acc,
          ShiftLeft(BitwiseAnd(ShiftRight(long(es.head), Literal(i)), Literal(1L)),
            Literal(2 * i))),
          ShiftLeft(BitwiseAnd(ShiftRight(long(es(1)), Literal(i)), Literal(1L)),
            Literal(2 * i + 1)))
      }
    }))

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** O(1) membership of a string column in a BROADCAST set — the scale form
  * of `array_contains(lit(set), col)`, whose literal-array probe is O(set)
  * string compares per row. The set ships once per executor (broadcast,
  * not per-task expression serialization), hashes once per executor into
  * a UTF8String-keyed table, and `doGenCode` keeps the probing stage
  * inside whole-stage codegen (same shape as the lake readers' DvMasked
  * probe). Used by `Dedup.stripBoilerplate`, where a 10k-paragraph
  * boilerplate set over a trillion paragraphs would otherwise pay 10^4
  * compares per paragraph.
  */
case class InBroadcastSet(child: Expression,
    set: org.apache.spark.broadcast.Broadcast[InBroadcastSet.SetHolder])
  extends UnaryExpression with Predicate {

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"in_broadcast_set expects string, got $t")
  }

  def probe(s: UTF8String): Boolean = set.value.contains(s)

  override def nullSafeEval(input: Any): Any = probe(input.asInstanceOf[UTF8String])

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) false else probe(v.asInstanceOf[UTF8String])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("inSet", this, classOf[InBroadcastSet].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.probe($v);")
  }

  override protected def withNewChildInternal(c: Expression): InBroadcastSet =
    copy(child = c)
  override def prettyName: String = "in_broadcast_set"
}

object InBroadcastSet {
  /** The broadcast payload: plain strings on the wire, a UTF8String-keyed
    * hash set built once per executor (owned copies — never the scan's
    * reused buffers).
    */
  final class SetHolder(strings: Array[String]) extends Serializable {
    @transient private lazy val utf8: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String](strings.length * 2)
      strings.foreach(x => s.add(UTF8String.fromString(x)))
      s
    }
    def contains(s: UTF8String): Boolean = utf8.contains(s)
  }

  /** `col IN broadcast(set)` as a Column (false for null input). */
  def column(spark: org.apache.spark.sql.SparkSession, c: Column,
      strings: Array[String]): Column = {
    val bc = spark.sparkContext.broadcast(new SetHolder(strings))
    GraftSQLBridge.column(InBroadcastSet(GraftSQLBridge.expression(c), bc))
  }
}
