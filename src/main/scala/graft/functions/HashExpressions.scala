package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Cols
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the hash-sketch operators Spark lacks as
  * built-ins (SURVEY.md §7 "custom Expression beats UDF"): SimHash and
  * random-hyperplane LSH. Both are per-row, deterministic, and serializable,
  * so they distribute like any other expression — no driver-side state.
  */
object HashExpressions {

  /** splitmix64 — public-domain mixing function (Steele et al.), the standard
    * way to derive independent pseudo-random streams from integer coordinates.
    */
  @inline private[functions] def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private[functions] def hash64(bytes: Array[Byte]): Long = {
    // Two independent 32-bit murmurs combined into 64 bits; self-contained
    // (scala.util.hashing), deterministic across JVMs.
    val lo = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x9747b28c)
    val hi = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x85ebca6b)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** Runtime kernel for [[SimHash64]] — public so generated Java code calls
    * it via the object's static forwarder (the [[nfcJava]] pattern). */
  def simhash64Java(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = hash64(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** 64-bit SimHash over an array<string> of tokens: per-token 64-bit hash,
    * per-bit ±1 vote, sign of each bit-sum forms the signature. Near-dup
    * docs ⇒ small hamming distance (`bit_count(a ^ b)`). Carries
    * `doGenCode` (a one-call static-forwarder body) so the sketch pass
    * stays inside whole-stage codegen with the scan/filter around it.
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(simhash64Java(input.asInstanceOf[ArrayData]))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExpressions.simhash64Java($c)")

    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  }

  private val GOLDEN = 0x9E3779B97F4A7C15L
  private val SHINGLE_SEED = 0x2545F4914F6CDD1DL

  /** Shared minhash kernel: token array -> k minima over word `shingleLen`-
    * gram hashes. Token hashes are computed once; each shingle's base hash
    * is an order-sensitive splitmix chain over its token hashes (no shingle
    * strings are ever materialized); the k independent hashes derive from
    * the base via `splitmix64(base + i*GOLDEN)` with a running min each.
    *
    * This exists because the declarative form (build shingle strings with
    * `transform`+`slice`+`concat_ws`, then
    * `transform(sequence(0,k-1), i -> array_min(transform(sh, hash(i,s))))`)
    * never enters whole-stage codegen and re-materializes arrays per row —
    * measured >40× slower at k=64. At 100 TB the signature pass is the
    * dominant narrow stage of minhash dedup, so it must be tight.
    */
  private[graft] def minhashMinima(arr: ArrayData, shingleLen: Int, k: Int): Array[Long] = {
    val n = arr.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (arr.isNullAt(i)) 0L else hash64(arr.getUTF8String(i).getBytes)
      i += 1
    }
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j <= n - shingleLen) {
      var base = SHINGLE_SEED
      var t = j
      while (t < j + shingleLen) {
        base = splitmix64(base ^ th(t))
        t += 1
      }
      var acc = base
      i = 0
      while (i < k) {
        val h = splitmix64(acc)
        if (h < mins(i)) mins(i) = h
        acc += GOLDEN
        i += 1
      }
      j += 1
    }
    mins
  }

  /** MinHash signature over an array<string> of TOKENS (word shingles are
    * formed internally — see [[minhashMinima]]). Returns array<long> length k.
    * Rows with fewer than `shingleLen` tokens yield an all-Long.MaxValue
    * signature — filter them out before LSH banding or they form one
    * degenerate bucket.
    */
  /** Static kernel for [[MinHashSignature]] (codegen entry point). */
  def minhashSignatureJava(arr: ArrayData, shingleLen: Int, k: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      minhashMinima(arr, shingleLen, k))

  case class MinHashSignature(child: Expression, shingleLen: Int, k: Int)
      extends UnaryExpression {
    require(k >= 1 && k <= 1024, s"k=$k out of range [1,1024]")
    require(shingleLen >= 1, s"shingleLen=$shingleLen must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_signature"

    override def nullSafeEval(input: Any): Any =
      minhashSignatureJava(input.asInstanceOf[ArrayData], shingleLen, k)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExpressions.minhashSignatureJava($c, $shingleLen, $k)")

    override protected def withNewChildInternal(c: Expression): MinHashSignature =
      copy(child = c)
  }

  /** LSH band hashes straight from tokens: the k minima of
    * [[minhashMinima]] folded into k/r band hashes (splitmix chain per
    * band). Skips materializing the signature array when only banding is
    * needed — the candidate-generation hot path.
    */
  /** Static kernel for [[MinHashBandHashes]] (codegen entry point). */
  def minhashBandsJava(arr: ArrayData, shingleLen: Int, k: Int, r: Int): ArrayData = {
    val mins = minhashMinima(arr, shingleLen, k)
    val bands = new Array[Long](k / r)
    var b = 0
    while (b < k / r) {
      var acc = SHINGLE_SEED + b
      var i = b * r
      while (i < (b + 1) * r) {
        acc = splitmix64(acc ^ mins(i))
        i += 1
      }
      bands(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bands)
  }

  case class MinHashBandHashes(child: Expression, shingleLen: Int, k: Int, r: Int)
      extends UnaryExpression {
    require(k % r == 0, s"k=$k not divisible by band width r=$r")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_bands"

    override def nullSafeEval(input: Any): Any =
      minhashBandsJava(input.asInstanceOf[ArrayData], shingleLen, k, r)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExpressions.minhashBandsJava($c, $shingleLen, $k, $r)")

    override protected def withNewChildInternal(c: Expression): MinHashBandHashes =
      copy(child = c)
  }

  /** Distinct 64-bit hashes of word `shingleLen`-grams, straight from the
    * token array — the same order-sensitive splitmix chain as
    * [[minhashMinima]] without the k-minima fold. Exists because building
    * shingle STRINGS via `transform`+`slice`+`concat_ws` is interpreted and
    * allocation-heavy (the same reason MinHash has a custom kernel), and a
    * shingle-keyed JOIN only needs shingle identity: an 8-byte key shuffles
    * and compares ~5× cheaper than the string. Collision probability across
    * a 2^64 space is negligible at any realistic corpus cardinality.
    */
  /** Static kernel for [[ShingleHashes]] (codegen entry point). */
  def shingleHashesJava(arr: ArrayData, shingleLen: Int): ArrayData = {
    val n = arr.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (arr.isNullAt(i)) 0L else hash64(arr.getUTF8String(i).getBytes)
      i += 1
    }
    val out = new java.util.HashSet[java.lang.Long]()
    var j = 0
    while (j <= n - shingleLen) {
      var base = SHINGLE_SEED
      var t = j
      while (t < j + shingleLen) {
        base = splitmix64(base ^ th(t))
        t += 1
      }
      out.add(base)
      j += 1
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { res(k) = it.next(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }

  case class ShingleHashes(child: Expression, shingleLen: Int)
      extends UnaryExpression {
    require(shingleLen >= 1, s"shingleLen=$shingleLen must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes"

    override def nullSafeEval(input: Any): Any =
      shingleHashesJava(input.asInstanceOf[ArrayData], shingleLen)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExpressions.shingleHashesJava($c, $shingleLen)")

    override protected def withNewChildInternal(c: Expression): ShingleHashes =
      copy(child = c)
  }

  /** Random-hyperplane LSH bucket id for an array<float|double> embedding:
    * `nBits` pseudo-random ±1 hyperplanes (derived from (seed, bit, dim) via
    * splitmix64 — no stored model), bucket bit = sign of the projection.
    * Cosine-similar vectors land in the same bucket with high probability,
    * turning ANN search into an equi-join on bucket id (SURVEY.md §7
    * "LSH-bucketed variant as the scale path").
    */
  /** Static kernel for [[HyperplaneLsh]] (codegen entry point); `isFloat`
    * is baked in at plan time from the child's array element type. */
  def hyperplaneLshJava(arr: ArrayData, nBits: Int, seed: Long,
                        isFloat: Boolean): Int = {
    val n = arr.numElements()
    var bucket = 0
    var b = 0
    while (b < nBits) {
      var s = 0.0
      var i = 0
      while (i < n) {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        // ±1 weight from the (seed, bit, dim) coordinate hash
        val w = if ((splitmix64(seed * 1000003L + b.toLong * 10007L + i) & 1L) == 1L) 1.0 else -1.0
        s += v * w
        i += 1
      }
      if (s > 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }

  case class HyperplaneLsh(child: Expression, nBits: Int, seed: Long)
      extends UnaryExpression {
    require(nBits >= 1 && nBits <= 32, s"nBits=$nBits out of range [1,32]")
    override def dataType: DataType = IntegerType
    override def prettyName: String = "hyperplane_lsh"

    private def isFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any =
      java.lang.Integer.valueOf(
        hyperplaneLshJava(input.asInstanceOf[ArrayData], nBits, seed, isFloat))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExpressions.hyperplaneLshJava($c, $nBits, ${seed}L, $isFloat)")

    override protected def withNewChildInternal(c: Expression): HyperplaneLsh = copy(child = c)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * SIGMOD'03): rolling hashes of character k-grams, then the minimum of
    * each sliding window of w hashes (rightmost-min tie rule) — the
    * guarantee is that any shared substring of length ≥ k+w-1 contributes a
    * shared fingerprint, at ~2/(w+1) the storage of all k-gram hashes.
    * Per-row, deterministic, distributes like any expression; fingerprint
    * overlap is the classic plagiarism/near-dup signal over a corpus.
    * Returns a sorted distinct array<long>.
    */
  /** Static kernel for [[WinnowFingerprints]] (codegen entry point). */
  def winnowJava(s: org.apache.spark.unsafe.types.UTF8String,
                 k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length - k + 1
    if (n <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
      // Rolling k-gram hashes (splitmix of a polynomial accumulator keeps
      // the roll cheap and the distribution uniform).
      val gh = new Array[Long](n)
      var i = 0
      while (i < n) {
        var acc = 0L
        var j = 0
        while (j < k) { acc = acc * 31L + (bytes(i + j) & 0xFF); j += 1 }
        gh(i) = splitmix64(acc)
        i += 1
      }
      val sel = scala.collection.mutable.SortedSet.empty[Long]
      var start = 0
      val lastStart = math.max(0, n - w)
      while (start <= lastStart) {
        var minIdx = start
        var j = start
        val end = math.min(start + w, n)
        while (j < end) {
          if (gh(j) <= gh(minIdx)) minIdx = j // rightmost min
          j += 1
        }
        sel += gh(minIdx)
        start += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(sel.toArray)
  }

  case class WinnowFingerprints(child: Expression, k: Int, w: Int)
      extends UnaryExpression {
    require(k >= 2 && w >= 1, s"need k>=2, w>=1 (got k=$k, w=$w)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "winnow_fingerprints"

    override def nullSafeEval(input: Any): Any =
      winnowJava(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExpressions.winnowJava($c, $k, $w)")

    override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
      copy(child = c)
  }

  /** Every n-th byte of a binary payload — the deterministic RESIZE stub
    * for multimodal columns (`???` real codec: an image resample would
    * decode, filter, and re-encode; the Spark-side contract — narrow
    * per-row binary-in/binary-out expression, no shuffle participation —
    * is what this pins down for 100 TB pipelines).
    */
  /** Static kernel for [[ByteStride]] (codegen entry point). */
  def byteStrideJava(bytes: Array[Byte], n: Int): Array[Byte] = {
    val out = new Array[Byte]((bytes.length + n - 1) / n)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * n); i += 1 }
    out
  }

  case class ByteStride(child: Expression, n: Int)
      extends UnaryExpression {
    require(n >= 1, s"stride n=$n must be >= 1")
    override def dataType: DataType = BinaryType
    override def prettyName: String = "byte_stride"

    override def nullSafeEval(input: Any): Any =
      byteStrideJava(input.asInstanceOf[Array[Byte]], n)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExpressions.byteStrideJava($c, $n)")

    override protected def withNewChildInternal(c: Expression): ByteStride = copy(c)
  }

  /** Runtime kernel for [[NfcNormalize]] — public so generated Java code
    * can call it via the object's static forwarder. Fast path: already-NFC
    * text (the overwhelming majority of a real corpus) returns the input
    * UTF8String untouched, no allocation.
    */
  def nfcJava(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Unicode NFC normalization — the first pass of every text pipeline
    * (decomposed e + U+0301 and precomposed é must dedup/shingle/count as
    * the same text) and a built-in Spark lacks. A native Catalyst
    * expression WITH `doGenCode` (unlike the sketch expressions above,
    * which fall back to interpreted eval): the call participates in
    * whole-stage codegen, so a normalize → tokenize → filter chain stays
    * one generated loop. DuckDB mirrors it as `nfc_normalize`.
    */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "nfc_normalize"

    override def nullSafeEval(input: Any): Any =
      nfcJava(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashExpressions.nfcJava($c)")

    override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(c)
  }

  /** Sum of UTF-8 byte values of a string — the simplest custom expression
    * that can key a shuffle (the reference's UDF-keyed shuffle coverage,
    * `/root/reference/tests/udfs.rs:18-76`) while staying DuckDB-mirrorable
    * (`list_sum(list_transform(string_split(s,''), c -> ascii(c)))` for
    * ASCII text). Grouping on an expression Spark cannot see through proves
    * the engine shuffles correctly on computed keys.
    */
  /** Static kernel for [[AsciiSum]] (codegen entry point). */
  def asciiSumJava(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) { acc += (bytes(i) & 0xFF); i += 1 }
    acc
  }

  case class AsciiSum(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "ascii_sum"

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(asciiSumJava(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExpressions.asciiSumJava($c)")

    override protected def withNewChildInternal(c: Expression): AsciiSum = copy(c)
  }

  /** Spread the low 32 bits of `v` into the even bit positions of a long
    * (the classic magic-mask Morton spread). Public so whole-stage-codegen
    * generated Java can call it via the object's static forwarder.
    */
  def spreadBits(v0: Long): Long = {
    var v = v0 & 0xFFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** Morton (Z-order) encode: interleave the low 32 bits of two
    * non-negative longs — x in even positions, y in odd. Injective on
    * [0,2^32)² , monotone along both axes, so range-partitioning + sorting
    * by the result clusters BOTH dimensions at once (multi-column
    * data-skipping layout).
    */
  def mortonJava(x: Long, y: Long): Long =
    spreadBits(x) | (spreadBits(y) << 1)

  /** Z-order key as a native expression WITH `doGenCode`: the layout pass
    * that rewrites 100 TB (compute key → range shuffle → sorted write) must
    * stay inside whole-stage codegen, because it touches every row of the
    * corpus exactly when no query is being answered — pure overhead to
    * amortize. Mirrored in DuckDB by an unrolled shift/mask sum, so layouts
    * are oracle-verifiable bit-for-bit.
    */
  case class InterleaveBits(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    // Children must already be LONG: `AbstractDataType` (and so
    // ExpectsInputTypes' inputTypes) is private[sql] on this Spark build, so
    // implicit coercion can't be declared here. Instead [[interleaveExpr]],
    // the one builder, wraps the arguments in Cast(_, LongType), keeping
    // interpreted eval and codegen consistent for integer-literal SQL
    // arguments.
    override def dataType: DataType = LongType
    override def prettyName: String = "interleave_bits"

    override def nullSafeEval(x: Any, y: Any): Any =
      java.lang.Long.valueOf(mortonJava(x.asInstanceOf[Long], y.asInstanceOf[Long]))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev,
        (x, y) => s"graft.functions.HashExpressions.mortonJava($x, $y)")

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): InterleaveBits = copy(l, r)
  }

  /** Bloom-filter membership probe over a LONG key, with `doGenCode` so the
    * probe stays inside whole-stage codegen on the corpus hot path. The
    * serialized filter travels as a plain constructor argument (like the
    * other expressions' Int parameters): it rides to executors inside the
    * serialized plan / codegen references array — the same transport Spark's
    * own runtime bloom pruning uses — and deserializes ONCE per executor
    * via the transient lazy val, not per row.
    *
    * May return true for absent keys (the bloom false-positive rate); never
    * false for present keys — callers must treat a `true` as "candidate,
    * verify exactly", which is why [[graft.operators.Dedup]] only uses this
    * to PRUNE rows ahead of an exact join that re-checks every survivor.
    */
  case class BloomContainsLong(child: Expression, bloomData: Array[Byte])
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "bloom_contains_long"

    @transient lazy val bloom: org.apache.spark.util.sketch.BloomFilter =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomData))

    override def nullSafeEval(v: Any): Any =
      java.lang.Boolean.valueOf(bloom.mightContainLong(v.asInstanceOf[Long]))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("bloom", bloom,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      defineCodeGen(ctx, ev, v => s"$ref.mightContainLong($v)")
    }

    override protected def withNewChildInternal(c: Expression): BloomContainsLong =
      copy(child = c)
  }

  /** The filter bytes live in the expression, so they live and die with
    * the plan that carries them.
    */
  def bloomContainsLong(key: Column, bloomData: Array[Byte]): Column =
    Cols.of(BloomContainsLong(Cols.expr(key), bloomData))

  /** Arguments are cast to LONG here, the one builder both the Column
    * accessor and the SQL name use (see [[InterleaveBits]]).
    */
  def interleaveExpr(x: Expression, y: Expression): Expression =
    InterleaveBits(Cast(x, LongType), Cast(y, LongType))

  def simhash64(tokens: Column): Column = Cols.of(SimHash64(Cols.expr(tokens)))

  def asciiSum(text: Column): Column = Cols.of(AsciiSum(Cols.expr(text)))

  def nfcNormalize(text: Column): Column = Cols.of(NfcNormalize(Cols.expr(text)))

  def interleaveBits(x: Column, y: Column): Column =
    Cols.of(interleaveExpr(Cols.expr(x), Cols.expr(y)))

  def byteStride(data: Column, n: Int): Column =
    Cols.of(ByteStride(Cols.expr(data), n))

  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    Cols.of(WinnowFingerprints(Cols.expr(text), k, w))

  def minhashSignature(tokens: Column, shingleLen: Int, k: Int): Column =
    Cols.of(MinHashSignature(Cols.expr(tokens), shingleLen, k))

  def shingleHashes(tokens: Column, shingleLen: Int): Column =
    Cols.of(ShingleHashes(Cols.expr(tokens), shingleLen))

  def minhashBands(tokens: Column, shingleLen: Int, k: Int, r: Int): Column =
    Cols.of(MinHashBandHashes(Cols.expr(tokens), shingleLen, k, r))

  def hyperplaneLsh(vec: Column, nBits: Int, seed: Long): Column =
    Cols.of(HyperplaneLsh(Cols.expr(vec), nBits, seed))
}
