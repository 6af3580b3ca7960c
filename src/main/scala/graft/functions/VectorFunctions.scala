package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * The reference exposes `l2_distance` as a scalar function
  * (`crates/glaredb_core/src/functions/scalar/builtin/similarity/l2_distance.rs:25`);
  * we add cosine/dot as well since the ANN operators need them. These are
  * full codegen expressions (not UDFs): the generated Java loops directly
  * over the unsafe float array data with zero boxing, and stays inside
  * whole-stage codegen — the brute-force KNN inner loop compiles into the
  * same function as the surrounding join.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  protected def compute(a: ArrayData, b: ArrayData): Double
  /** Java loop body: given array vars `a`,`b` and int `n`, set `result`. */
  protected def genLoop(a: String, b: String, n: String, result: String): String

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    VectorBinaryExpression.check(x, y)
    compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      s"""
         |graft.functions.VectorBinaryExpression.check($a, $b);
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${genLoop(a, b, n, ev.value)}
       """.stripMargin
    })
}

object VectorBinaryExpression {
  /** Reference list-reduction contract (l2_distance.rs): lists must have
    * equal length and contain no NULL elements. */
  def check(a: ArrayData, b: ArrayData): Unit = {
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        "List reduction requires lists be the same length, got " +
          s"${a.numElements()} and ${b.numElements()}")
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          "Cannot reduce list containing NULLs")
      i += 1
    }
  }
}

/** cosine_sim(a, b) — cosine similarity of two float vectors, in double. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_sim"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb) + 1e-12)
  }

  override protected def genLoop(a: String, b: String, n: String, result: String): String =
    s"""
       |double dot = 0.0, na = 0.0, nb = 0.0;
       |for (int i = 0; i < $n; i++) {
       |  double x = $a.getFloat(i); double y = $b.getFloat(i);
       |  dot += x * y; na += x * x; nb += y * y;
       |}
       |$result = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb) + 1e-12);
     """.stripMargin

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** dot_product(a, b) — inner product of two float vectors, in double. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def genLoop(a: String, b: String, n: String, result: String): String =
    s"""
       |double dot = 0.0;
       |for (int i = 0; i < $n; i++) {
       |  dot += ((double) $a.getFloat(i)) * ((double) $b.getFloat(i));
       |}
       |$result = dot;
     """.stripMargin

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** l2_distance(a, b) — Euclidean distance of two float vectors, in double.
  * Matches the reference's l2_distance contract (l2_distance.rs:25). */
case class L2Distance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "l2_distance"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    math.sqrt(acc)
  }

  override protected def genLoop(a: String, b: String, n: String, result: String): String =
    s"""
       |double acc = 0.0;
       |for (int i = 0; i < $n; i++) {
       |  double d = ((double) $a.getFloat(i)) - ((double) $b.getFloat(i));
       |  acc += d * d;
       |}
       |$result = java.lang.Math.sqrt(acc);
     """.stripMargin

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** minhash_est(sigA, sigB) — estimated Jaccard from two MinHash signatures
  * (fraction of agreeing slots). Codegen kernel: the LSH candidate-pair
  * prefilter evaluates this once per candidate, and the interpreted
  * higher-order-function equivalent (`aggregate(zip_with(...))`) was the
  * dominant cost of the banded join at sf0.1. */
case class MinHashEstimate(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "minhash_est"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var eq = 0; var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  override protected def genLoop(a: String, b: String, n: String, result: String): String =
    s"""
       |int eq = 0;
       |for (int i = 0; i < $n; i++) {
       |  if ($a.getLong(i) == $b.getLong(i)) eq++;
       |}
       |$result = $n == 0 ? 0.0 : ((double) eq) / $n;
     """.stripMargin

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}


/** JVM kernels shared by the sketch expressions' interpreted eval and
  * generated code. Top-level object => scalac emits static forwarders, so
  * Janino-generated Java calls these directly and the surrounding stage
  * stays inside whole-stage codegen (no CodegenFallback row boxing).
  */
object SketchKernels {
  def fnv1a64(bytes: Array[Byte], off: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = off
    val end = off + len
    while (i < end) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val bytes = arr.getUTF8String(i).getBytes
        val h = fnv1a64(bytes, 0, bytes.length)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def minhashSig(arr: ArrayData, k: Int): ArrayData = {
    val seeds = new Array[Long](k)
    var j = 0
    while (j < k) { seeds(j) = splitmix64(0x9e3779b97f4a7c15L * (j + 1)); j += 1 }
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        j = 0
        while (j < k) {
          val mixed = splitmix64(h ^ seeds(j))
          if (mixed < out(j)) out(j) = mixed
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** md5 hex (lowercase, Spark `md5()`-compatible) of the space-joined,
    * byte-lexicographically sorted tokens of a space-separated string.
    * One pass, no per-token UTF8String/array allocations beyond the slice
    * table — replaces split -> array_sort -> concat_ws -> md5 (which
    * builds and sorts a fresh array of UTF8Strings per row).
    */
  def sortedFingerprint(str: UTF8String): UTF8String = {
    val bytes = str.getBytes
    // token slice table: start offsets of each token (split on 0x20)
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    val lens = new Array[Int](nTok)
    var tok = 0; var s = 0; i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        starts(tok) = s; lens(tok) = i - s; tok += 1; s = i + 1
      }
      i += 1
    }
    // sort token indices by unsigned byte order (= UTF-8 binary collation,
    // identical to Spark array_sort and DuckDB LIST_SORT on varchar)
    val idx = new Array[Integer](nTok)
    i = 0; while (i < nTok) { idx(i) = i; i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = {
        val (sx, lx, sy, ly) = (starts(x), lens(x), starts(y), lens(y))
        val n = math.min(lx, ly)
        var j = 0
        while (j < n) {
          val c = (bytes(sx + j) & 0xff) - (bytes(sy + j) & 0xff)
          if (c != 0) return c
          j += 1
        }
        lx - ly
      }
    })
    // join with single spaces (same total length as the input)
    val joined = new Array[Byte](bytes.length)
    var p = 0
    i = 0
    while (i < nTok) {
      if (i > 0) { joined(p) = ' '.toByte; p += 1 }
      System.arraycopy(bytes, starts(idx(i)), joined, p, lens(idx(i)))
      p += lens(idx(i))
      i += 1
    }
    val md = md5Local.get()
    md.reset()
    val digest = md.digest(joined)
    val hex = new Array[Byte](32)
    i = 0
    while (i < 16) {
      hex(i * 2) = hexDigits((digest(i) >> 4) & 0xf).toByte
      hex(i * 2 + 1) = hexDigits(digest(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  def shingleHashes(str: UTF8String, n: Int): ArrayData = {
    // Primitive open-addressing dedup (insertion-order output preserved).
    // The previous LinkedHashSet[java.lang.Long] boxed every shingle of
    // every document — ~50 bytes of garbage per n-gram, hundreds of KB per
    // document — which made the d03 signature stage GC-bound and its
    // first-run warm-up pathological at sf30 (62 s first run vs 24 s
    // steady; young-gen growth + allocation stalls, not C2). 0 is remapped
    // to the table's empty sentinel via a separate flag.
    val bytes = str.getBytes
    val m = if (bytes.length <= n) 1 else bytes.length - n + 1
    var cap = 4
    while (cap < m * 2) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    val out = new Array[Long](m)
    var cnt = 0
    var hasZero = false
    def insert(h: Long): Unit = {
      if (h == 0L) {
        if (!hasZero) { hasZero = true; out(cnt) = 0L; cnt += 1 }
      } else {
        var idx = (h ^ (h >>> 33)).toInt & mask
        while (table(idx) != 0L && table(idx) != h) idx = (idx + 1) & mask
        if (table(idx) == 0L) { table(idx) = h; out(cnt) = h; cnt += 1 }
      }
    }
    if (bytes.length <= n) {
      insert(fnv1a64(bytes, 0, bytes.length))
    } else {
      var i = 0
      while (i + n <= bytes.length) { insert(fnv1a64(bytes, i, n)); i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (cnt == m) out else java.util.Arrays.copyOf(out, cnt))
  }
}

/** simhash64(tokens) — 64-bit SimHash of an array of string tokens.
  *
  * Each token is hashed with FNV-1a 64 (public-domain construction); each of
  * the 64 output bits is the sign of the +/-1 vote sum across token hashes.
  * Near-duplicate documents land within a small Hamming distance, which the
  * dedup operator exploits by banding the 64 bits into 16-bit keys.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    SketchKernels.simhash64(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.simhash64($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** minhash_sig(shingle_hashes, k) — k-permutation MinHash signature.
  *
  * Input: array<long> of (already hashed) shingles; output: array<long> of
  * k minimums over splitmix64-mixed permutations. One eval per row with a
  * tight k x n loop — replaces k separate higher-order-function passes
  * (interpreted per element) with a single JVM loop, and avoids ANSI
  * overflow on affine permutations by using splitmix64 mixing.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {
  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType)

  override def nullSafeEval(v: Any): Any =
    SketchKernels.minhashSig(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.minhashSig($c, $k);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** shingle_hashes(str, n) — distinct hashed character n-grams, one pass.
  *
  * Replaces the declarative transform(sequence(...), substring(...)) +
  * array_distinct pipeline (which interprets a lambda per position and
  * re-evaluates the inlined normalization per element) with a single eval
  * per row: a rolling byte window hashed with FNV-1a 64, deduplicated in a
  * hash set. Output order is first-occurrence; downstream set operations
  * (intersect/union, minhash_sig) are order-insensitive.
  */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "shingle_hashes"
  override def dataType: DataType = ArrayType(LongType)

  override def nullSafeEval(str: Any, nAny: Any): Any =
    SketchKernels.shingleHashes(str.asInstanceOf[UTF8String],
      nAny.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchKernels.shingleHashes($a, (int) $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sorted_fingerprint(text) — md5 of the sorted-token form of a normalized
  * document (word-order-insensitive fingerprint). Single JVM kernel pass;
  * see SketchKernels.sortedFingerprint for the exact byte contract.
  */
case class SortedFingerprint(child: Expression)
    extends UnaryExpression {
  override def prettyName: String = "sorted_fingerprint"
  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    SketchKernels.sortedFingerprint(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.sortedFingerprint($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SQL declarations so queries can use these via `expr("cosine_sim(a,b)")`. */
object GraftFunctions {
  // SQL callers may pass array<double>/array<decimal> literals; the
  // kernels read float arrays, so coerce at the boundary (no-op when the
  // input is already array<float>).
  private def farr(e: Expression) = Cast(e, ArrayType(FloatType))

  val functions: Seq[Declare.Fn] = Seq(
    Declare.fn("cosine_sim")(es => CosineSimilarity(farr(es(0)), farr(es(1)))),
    Declare.fn("dot_product")(es => DotProduct(farr(es(0)), farr(es(1)))),
    Declare.fn("l2_distance")(es => L2Distance(farr(es(0)), farr(es(1)))),
    // reference alias (similarity/l2_distance.rs registers both names)
    Declare.fn("array_distance")(es => L2Distance(farr(es(0)), farr(es(1)))),
    Declare.fn("simhash64")(es => SimHash64(es.head)),
    Declare.fn("minhash_sig")(es => MinHashSignature(es(0),
      es(1).eval().asInstanceOf[Number].intValue())),
    Declare.fn("shingle_hashes")(es => ShingleHashes(es(0), es(1))),
    Declare.fn("minhash_est")(es => MinHashEstimate(es(0), es(1))),
    Declare.fn("sorted_fingerprint")(es => SortedFingerprint(es.head)))
}
