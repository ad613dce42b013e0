package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths. The higher-order-
  * function formulations in [[graft.functions]] are the semantic spec
  * (and what the DuckDB oracles mirror); these compute the *same*
  * values with a tight compiled loop and `doGenCode` that stays inside
  * whole-stage codegen — the HOF versions cost an interpreted lambda
  * call per element (measured 92s → ~8s on dedup_minhash_lsh at sf0.1).
  */
object Kernels {
  /** See [[NormalizeAsciiExpr]]: keep [a-z0-9] bytes, collapse runs of
    * 0x20 to one space, drop everything else, trim — byte-equal to the
    * two-regex-pass formulation on lowercased input. */
  def normalizeAscii(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        out(o) = b; o += 1
        pendingSpace = false
      } else if (b == ' ') pendingSpace = true
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** Left-fold polynomial hash over Unicode code points — identical to
    * aggregate(split(s,''), 0, (h,c) -> (h*base + ascii(c)) % p) for
    * any string (fast byte path for ASCII). */
  def polyHash(u: UTF8String, base: Long, p: Long): Long = {
    val n = u.numBytes()
    var h = 0L
    var i = 0
    var ascii = true
    while (i < n && ascii) {
      val b = u.getByte(i)
      if (b >= 0) { h = (h * base + b) % p; i += 1 }
      else ascii = false
    }
    if (ascii) h
    else {
      // non-ASCII tail: fall back to code-point iteration
      val s = u.toString
      h = 0L
      var j = 0
      while (j < s.length) {
        val cp = s.codePointAt(j)
        h = (h * base + cp) % p
        j += Character.charCount(cp)
      }
      h
    }
  }

  /** [[polyHash]] continued from a running value (for concatenations). */
  def polyHashContinue(h0: Long, u: UTF8String, base: Long, p: Long): Long = {
    val n = u.numBytes()
    var h = h0
    var i = 0
    var ascii = true
    while (i < n && ascii) {
      val b = u.getByte(i)
      if (b >= 0) { h = (h * base + b) % p; i += 1 }
      else ascii = false
    }
    if (ascii) h
    else {
      val s = u.toString
      h = h0
      var j = 0
      while (j < s.length) {
        val cp = s.codePointAt(j)
        h = (h * base + cp) % p
        j += Character.charCount(cp)
      }
      h
    }
  }

  /** Hashes of all n-token shingles of a token array, with a single
    * space (32) folded between tokens — byte-for-byte equal to
    * polyHash(concat_ws(" ", tok_i..tok_{i+n-1})) with zero string
    * allocation. */
  def shingleHashes(arr: ArrayData, n: Int, base: Long, p: Long): ArrayData = {
    val total = arr.numElements()
    val out = if (total < n) new Array[Long](0) else new Array[Long](total - n + 1)
    var i = 0
    while (i < out.length) {
      var h = 0L
      var j = 0
      while (j < n) {
        h = polyHashContinue(h, arr.getUTF8String(i + j), base, p)
        if (j < n - 1) h = (h * base + 32) % p
        j += 1
      }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** 62-bit SimHash over a token array: per-token h64 = h31·2³¹ + h131,
    * per-bit signed counts with multiplicity, sign → bit. Equals the
    * relational explode-tokens × explode-bits groupBy formulation
    * (integer sums — order-free). */
  def simhash62(arr: ArrayData, p: Long): Long = {
    val counts = new Array[Int](62)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      val tok = arr.getUTF8String(t)
      val h64 = polyHash(tok, 31L, p) * 2147483648L + polyHash(tok, 131L, p)
      var j = 0
      while (j < 62) {
        if (((h64 >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      t += 1
    }
    var fp = 0L
    var j = 0
    while (j < 62) { if (counts(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  /** Sequential double-precision dot product over two float arrays —
    * identical to aggregate(zip_with(a,b,(x,y)->double(x)*double(y)),
    * 0.0, +) for equal-length arrays. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** Exact integer sparse·dense inner product: Σ cnts[i] ·
    * dense[buckets[i]], skipping buckets outside the dense range —
    * equals the bucket-join Σ qcnt·cnt of
    * [[graft.operators.Encoders.sparseCosine]] for a dense side built
    * from the same postings (integer sums are order-free). */
  def sparseDotDense(b: ArrayData, c: ArrayData, d: ArrayData): Long = {
    val n = math.min(b.numElements(), c.numElements())
    val dn = d.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      val bi = b.getLong(i)
      if (bi >= 0 && bi < dn) s += c.getLong(i) * d.getLong(bi.toInt)
      i += 1
    }
    s
  }

  /** Intersection size of two SORTED long arrays (strictly increasing,
    * as produced by sort_array(array_distinct(...))): one O(n+m) merge
    * pass, no hash set, no result-array allocation — the Jaccard
    * verify step only needs the COUNT, not the intersection itself. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Sorted (bucket, cnt) run-length pairs of a token array under
    * polyHash % dim — the hashing-TF encode kernel as ONE map-side
    * pass (r16): equals the explode(tokens) → groupBy(doc, bucket) →
    * count(1) rows for the same document (integer counts are
    * order-free; the bucket set and each bucket's count are
    * identical), but needs no corpus-wide Exchange and no
    * hash-aggregate over the exploded token stream. Sorted by bucket,
    * which also makes downstream explode order deterministic. */
  def bucketCounts(arr: ArrayData, dim: Long, base: Long, p: Long): ArrayData = {
    val n = arr.numElements()
    val bs = new Array[Long](n)
    var i = 0
    while (i < n) {
      bs(i) = Kernels.polyHash(arr.getUTF8String(i), base, p) % dim
      i += 1
    }
    java.util.Arrays.sort(bs)
    var distinct = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && bs(j) == bs(i)) j += 1
      distinct += 1
      i = j
    }
    val out = new Array[Any](distinct)
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && bs(j) == bs(i)) j += 1
      out(o) = InternalRow(bs(i), (j - i).toLong)
      o += 1
      i = j
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Sorted (tok, tf) run-length pairs of a token array — the
    * term-frequency sibling of [[bucketCounts]] (r16): equals the
    * explode(tokens) → groupBy(doc, tok) → count(1) rows per document
    * with no Exchange and no hash-aggregate over the exploded stream.
    * Grouping is byte-equality of the UTF8 tokens; the sort order
    * (unsigned byte order) only serves to make equal tokens adjacent
    * and the output order deterministic. */
  def tokenCounts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val ts = new Array[UTF8String](n)
    var i = 0
    while (i < n) { ts(i) = arr.getUTF8String(i); i += 1 }
    java.util.Arrays.sort(ts,
      (a: UTF8String, b: UTF8String) => a.compareTo(b))
    var distinct = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && ts(j).equals(ts(i))) j += 1
      distinct += 1
      i = j
    }
    val out = new Array[Any](distinct)
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && ts(j).equals(ts(i))) j += 1
      out(o) = InternalRow(ts(i), (j - i).toLong)
      o += 1
      i = j
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Sequential squared-L2 distance (pre-sqrt), same fold order as the
    * HOF spec. */
  def dist2F(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Ranking of (score, id) pairs shared by the codebook kernels: score
    * descending, NaN last, ties (0.0 = -0.0 included) by id ascending —
    * the order `min_by(id, struct(-score, id))` and a finite-score
    * `TopKAgg.topKBy` both select by. */
  @inline private def ranksBefore(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
    if (sa.isNaN) sb.isNaN && ia < ib
    else sb.isNaN || sa > sb || (sa == sb && ia < ib)

  /** The ids of the `n` centroids with the largest [[dotF]] against `v`,
    * best first. Each score is dotF's sequential double fold over float
    * components, so the ids, ties and order equal the cross join of `v`
    * with the grid ranked by `topKBy(dotF, c_id, n)` (for n = 1, its
    * `min_by` argmax). */
  def topByDot(v: ArrayData, ids: Array[Long], vecs: Array[Array[Float]],
               n: Int): ArrayData = {
    val x = v.toFloatArray()
    val k = math.min(n, ids.length)
    val bestS = new Array[Double](k)
    val bestI = new Array[Long](k)
    var size = 0
    var c = 0
    while (c < ids.length) {
      val w = vecs(c)
      val m = math.min(x.length, w.length)
      var acc = 0.0
      var i = 0
      while (i < m) { acc += x(i).toDouble * w(i).toDouble; i += 1 }
      val id = ids(c)
      // insertion into the sorted best-k prefix
      if (size < k || (k > 0 && ranksBefore(acc, id, bestS(k - 1), bestI(k - 1)))) {
        var p = if (size < k) size else k - 1
        while (p > 0 && ranksBefore(acc, id, bestS(p - 1), bestI(p - 1))) {
          bestS(p) = bestS(p - 1); bestI(p) = bestI(p - 1); p -= 1
        }
        bestS(p) = acc; bestI(p) = id
        if (size < k) size += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bestI)
  }

  /** PQ codes of `v`: for each subspace j, the id of the codeword with
    * the smallest [[dist2F]] to the slice of components [j·sub,
    * (j+1)·sub) (cut at the vector's end), ties by id — the argmin
    * `min_by(c_id, struct(dist2F(slice, cvec), c_id))` selects per
    * (vector, subspace). */
  def subspaceArgmin(v: ArrayData, ids: Array[Array[Long]],
                     words: Array[Array[Array[Float]]], sub: Int): ArrayData = {
    val x = v.toFloatArray()
    val out = new Array[Long](ids.length)
    var j = 0
    while (j < ids.length) {
      val off = j * sub
      val len = math.max(0, math.min(sub, x.length - off))
      var bestD = 0.0
      var bestId = 0L
      var c = 0
      while (c < ids(j).length) {
        val w = words(j)(c)
        val m = math.min(len, w.length)
        var acc = 0.0
        var i = 0
        while (i < m) {
          val d = x(off + i).toDouble - w(i).toDouble
          acc += d * d
          i += 1
        }
        val id = ids(j)(c)
        if (c == 0 || ranksBefore(-acc, id, -bestD, bestId)) { bestD = acc; bestId = id }
        c += 1
      }
      out(j) = bestId
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** (n_toks, n_uniq, n_stop) of a text's single-space tokens in one
    * byte scan: the size of `tokens(s)`, of its `array_distinct`, and of
    * its `filter(isin(stop))` (byte equality throughout; 0x20 never
    * occurs inside a multi-byte UTF-8 sequence). */
  def tokenStats(s: UTF8String, stop: java.util.Set[UTF8String]): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    val seen = new java.util.HashSet[UTF8String]()
    var toks = 0L
    var stops = 0L
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      val start = i
      while (i < n && bytes(i) != ' ') i += 1
      if (i > start) {
        val t = UTF8String.fromBytes(bytes, start, i - start)
        toks += 1
        seen.add(t)
        if (stop.contains(t)) stops += 1
      }
    }
    InternalRow(toks, seen.size.toLong, stops)
  }
}

/** normalize_ascii(str) — on an already-lowercased string, equal to
  * trim(regexp_replace(regexp_replace(s, "[^a-z0-9 ]", ""), " +", " ")):
  * keep [a-z0-9], collapse space runs, trim. Operates on UTF-8 BYTES —
  * every byte of a multi-byte sequence is ≥ 0x80 and is dropped, which
  * is exactly what the char-class regex does to non-ASCII characters,
  * and the output is pure ASCII so byte = character. Two java.util.regex
  * passes over every document were the dominant cost of the quality-
  * filter/normalize family at the 500 k-doc scale. */
case class NormalizeAsciiExpr(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Kernels.normalizeAscii(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.normalizeAscii($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeAsciiExpr =
    copy(child = newChild)
}

/** polyhash(str) — codegen'd polynomial string hash. */
case class PolyHashExpr(child: Expression, base: Long, p: Long)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Kernels.polyHash(input.asInstanceOf[UTF8String], base, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.polyHash($c, ${base}L, ${p}L)")
  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)
}

/** Analysis-time guard shared by the float-array kernels: their tight
  * loops read raw FLOAT slots (`ArrayData.getFloat`), so an
  * array<double> input would be read as garbage BITS, not converted —
  * a silent-corruption class (r13: spherical k-means normalized its
  * double centroid means through the float kernel and produced an
  * index with recall 0.000). Fail at analysis instead. */
private object FloatArrayCheck {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def check(name: String, inputs: Expression*): TypeCheckResult = {
    val bad = inputs.map(_.dataType).collect {
      case t if !t.isInstanceOf[ArrayType] ||
        t.asInstanceOf[ArrayType].elementType != FloatType => t
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float> inputs (the kernel reads raw float " +
        s"slots; cast other element types explicitly), got " +
        bad.map(_.sql).mkString(", "))
  }
}

/** dot_f(array<float>, array<float>) — codegen'd double dot product. */
case class DotProductExpr(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    FloatArrayCheck.check("dot_f", left, right)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.dotF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductExpr =
    copy(left = l, right = r)
}

/** dist2_f(array<float>, array<float>) — codegen'd squared L2 distance. */
case class Dist2Expr(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    FloatArrayCheck.check("dist2_f", left, right)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dist2F(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.dist2F($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Dist2Expr =
    copy(left = l, right = r)
}

/** sorted_intersect_count(array<long>, array<long>) — |a ∩ b| for
  * sorted distinct arrays, by merge scan (no allocation). */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Kernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCountExpr =
    copy(left = l, right = r)
}

/** shingle_hashes(array<string>) — hashed n-token shingles. */
case class ShingleHashExpr(child: Expression, n: Int, base: Long, p: Long)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Kernels.shingleHashes(input.asInstanceOf[ArrayData], n, base, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.shingleHashes($c, $n, ${base}L, ${p}L)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashExpr =
    copy(child = newChild)
}

/** bucket_counts(array<string>) — sorted (bucket, cnt) pairs under
  * polyHash % dim; the map-side hashing-TF encode (see
  * [[Kernels.bucketCounts]]). */
case class BucketCountsExpr(child: Expression, dim: Long, base: Long, p: Long)
  extends UnaryExpression {
  import org.apache.spark.sql.types.{StructField, StructType}
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("bucket", LongType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Kernels.bucketCounts(input.asInstanceOf[ArrayData], dim, base, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.bucketCounts($c, ${dim}L, ${base}L, ${p}L)")
  override protected def withNewChildInternal(newChild: Expression): BucketCountsExpr =
    copy(child = newChild)
}

/** token_counts(array<string>) — sorted (tok, tf) pairs; the map-side
  * term-frequency encode (see [[Kernels.tokenCounts]]). */
case class TokenCountsExpr(child: Expression)
  extends UnaryExpression {
  import org.apache.spark.sql.types.{StructField, StructType}
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("tok", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Kernels.tokenCounts(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.tokenCounts($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenCountsExpr =
    copy(child = newChild)
}

/** simhash62(array<string>) — 62-bit SimHash fingerprint. */
case class SimHashExpr(child: Expression, p: Long)
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    Kernels.simhash62(input.asInstanceOf[ArrayData], p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash62($c, ${p}L)")
  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

/** minhash_sigs(array<long>) — all 16 permutation minima in one pass
  * (equals 16 separate aggregate-folds of least((h·a+b) mod p)). */
case class MinHashSigsExpr(child: Expression, as: Array[Long], bs: Array[Long], p: Long)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  def compute(arr: ArrayData): ArrayData = {
    val k = as.length
    val sigs = new Array[Long](k)
    java.util.Arrays.fill(sigs, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (h * as(j) + bs(j)) % p
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mhSigs", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSigsExpr =
    copy(child = newChild)
}

/** hyperplane_sig(array<float>) — LSH bit signature: bit j set iff
  * dot(v, plane_j) > 0, planes fixed at construction. Equals the
  * per-plane HOF dot + CASE formulation the oracle uses. */
case class HyperplaneSigExpr(child: Expression, planes: Array[Array[Double]])
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    FloatArrayCheck.check("hyperplane_sig", child)
  def compute(arr: ArrayData): Long = {
    var bits = 0L
    var j = 0
    while (j < planes.length) {
      val pl = planes(j)
      val n = math.min(arr.numElements(), pl.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += arr.getFloat(i).toDouble * pl(i); i += 1 }
      if (acc > 0.0) bits |= (1L << j)
      j += 1
    }
    bits
  }
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hpSig", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExpr =
    copy(child = newChild)
}

/** mat_vec(array<float>) — y_i = Σ_j m[i][j]·x_j, the fixed linear
  * projection applied per row (OPQ/PCA rotation before PQ encode; the
  * matrix is fit driver-side and travels as a construction-time
  * constant, the [[HyperplaneSigExpr]] pattern). Each output component
  * accumulates in DOUBLE in index order then casts to float — exactly
  * the arithmetic the oracle's nested list comprehension folds, so
  * both engines produce bit-identical REAL vectors. */
case class MatVecExpr(child: Expression, m: Array[Array[Double]])
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    FloatArrayCheck.check("mat_vec", child)
  def compute(x: ArrayData): ArrayData = {
    val rows = m.length
    val out = new Array[Float](rows)
    var i = 0
    while (i < rows) {
      val row = m(i)
      val n = math.min(row.length, x.numElements())
      var acc = 0.0
      var j = 0
      while (j < n) { acc += row(j) * x.getFloat(j).toDouble; j += 1 }
      out(i) = acc.toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matVec", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): MatVecExpr =
    copy(child = newChild)
}

/** A codebook pinned on the driver and held by [[CodebookAssignExpr]]
  * as a construction-time constant (bounded by construction: ≤ nlist
  * centroids, or PqM × codes codewords). */
sealed trait Codebook

/** IVF grid: centroid `ids(c)` is `vecs(c)`; assignment returns the ids
  * of the `n` best centroids by dot, best first ([[Kernels.topByDot]]). */
final case class TopByDot(ids: Array[Long], vecs: Array[Array[Float]], n: Int)
  extends Codebook

/** PQ codebook: codeword `ids(j)(c)` of subspace j is `words(j)(c)`;
  * subspace j covers components [j·sub, (j+1)·sub). Assignment returns
  * one code per subspace ([[Kernels.subspaceArgmin]]). */
final case class SubspaceCodes(ids: Array[Array[Long]],
                               words: Array[Array[Array[Float]]], sub: Int)
  extends Codebook

/** codebook_assign(array<float>) — the ids a vector is assigned under a
  * pinned [[Codebook]]: the in-row form of the broadcast cross join with
  * the codebook plus the per-vector argmin (`min_by`) or top-n
  * (`topKBy`) aggregate, with the same dotF/dist2F arithmetic, so every
  * assignment, tie and probe list is the same. Equality to that
  * relational form is a property in TopKProps. */
case class CodebookAssignExpr(child: Expression, book: Codebook)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "codebook_assign"
  // the codebook's arrays would print as object ids in plans
  override protected def flatArguments: Iterator[Any] = Iterator(child)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    FloatArrayCheck.check("codebook_assign", child)
  def compute(v: ArrayData): ArrayData = book match {
    case TopByDot(ids, vecs, n) => Kernels.topByDot(v, ids, vecs, n)
    case SubspaceCodes(ids, words, sub) => Kernels.subspaceArgmin(v, ids, words, sub)
  }
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("assign", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): CodebookAssignExpr =
    copy(child = newChild)
}

/** token_stats(string) — struct(n_toks, n_uniq, n_stop) of the text's
  * single-space tokens in one byte scan ([[Kernels.tokenStats]]): equal
  * to size(tokens(s)), size(array_distinct(tokens(s))) and
  * size(filter(tokens(s), t -> t IN stop)), without materializing the
  * token array or calling a lambda per token. */
case class TokenStatsExpr(child: Expression, stop: Seq[String])
  extends UnaryExpression {
  import org.apache.spark.sql.types.{StructField, StructType}
  private lazy val stopSet: java.util.Set[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stop.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_toks", LongType, nullable = false),
    StructField("n_uniq", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_stats"
  def compute(s: UTF8String): InternalRow = Kernels.tokenStats(s, stopSet)
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenStats", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): TokenStatsExpr =
    copy(child = newChild)
}

/** scored_pairs(array<struct<id long, vec array<float>>>) — all
  * unordered pairs among a gathered member array, cosine-scored once
  * per pair and emitted in BOTH directions as (src, dst, score)
  * structs: the in-row form of a within-group scored self-join
  * (guide §2.3 — the kNN-graph build gathers each group's ≤R member
  * vectors across ONE exchange and enumerates the R² pairs here,
  * instead of exploding the N·R² pair stream and joining the corpus
  * twice to re-attach vectors). Scores are bit-identical to
  * `cosine(va, vb)` = dotF/(√dotF·√dotF): same sequential double
  * folds, same IEEE divide — per-member norms are hoisted out of the
  * pair loop, which changes no bits (they are pure functions of the
  * member). Members with equal ids pair with everything but
  * themselves, exactly like the join's `a.id =!= b.id` filter. The
  * HOF formulation ([[graft.operators.KnnGraph.scoredPairsWithinHof]])
  * is the semantic spec, asserted equal in Round17Spec. */
case class ScoredPairsExpr(child: Expression)
  extends UnaryExpression {
  import org.apache.spark.sql.types.{StructField, StructType}
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("src", LongType, nullable = false),
      StructField("dst", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(StructType(fs), _)
        if fs.length == 2 && fs(0).dataType == LongType &&
          (fs(1).dataType match {
            case ArrayType(FloatType, _) => true
            case _ => false
          }) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"scored_pairs requires array<struct<long, array<float>>>, got ${t.sql}")
    }
  }
  def compute(mv: ArrayData): ArrayData = {
    val n = mv.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[ArrayData](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = mv.getStruct(i, 2)
      ids(i) = row.getLong(0)
      vecs(i) = row.getArray(1)
      norms(i) = math.sqrt(Kernels.dotF(vecs(i), vecs(i)))
      i += 1
    }
    val out = new Array[AnyRef](n * math.max(n - 1, 0))
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (ids(i) != ids(j)) {
          val score = Kernels.dotF(vecs(i), vecs(j)) / (norms(i) * norms(j))
          out(o) = InternalRow(ids(i), ids(j), score)
          out(o + 1) = InternalRow(ids(j), ids(i), score)
          o += 2
        }
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (o == out.length) out else java.util.Arrays.copyOf(out, o))
  }
  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("scoredPairs", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): ScoredPairsExpr =
    copy(child = newChild)
}

/** sparse_dot_dense(buckets array<long>, cnts array<long>,
  * dense array<long>) — exact integer inner product of a sparse
  * (indices, values) pair against a dense vector; the join-free
  * scoring kernel of the dense serving path. */
case class SparseDotDenseExpr(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any, c: Any, d: Any): Any =
    Kernels.sparseDotDense(b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, c, d) => s"graft.functions.Kernels.sparseDotDense($b, $c, $d)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SparseDotDenseExpr =
    copy(first = f, second = s, third = t)
}

/** Column-level entry points for the native kernels. */
object native {
  private def ex(c: Column) = Bridge.expression(c)

  def polyHash(s: Column, base: Long = 31L, p: Long = HashP): Column =
    Bridge.column(PolyHashExpr(ex(s), base, p))

  /** Input must already be lowercased (pair with `lower(col)`). */
  def normalizeAscii(s: Column): Column =
    Bridge.column(NormalizeAsciiExpr(ex(s)))

  /** Only valid on array<float> columns (the embeddings schema). */
  def dotF(a: Column, b: Column): Column =
    Bridge.column(DotProductExpr(ex(a), ex(b)))

  def dist2F(a: Column, b: Column): Column =
    Bridge.column(Dist2Expr(ex(a), ex(b)))

  /** Inputs MUST be sorted distinct array<long> (sort_array +
    * array_distinct); equals size(array_intersect(a, b)) then. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCountExpr(ex(a), ex(b)))

  def simhash62(toks: Column, p: Long = HashP): Column =
    Bridge.column(SimHashExpr(ex(toks), p))

  /** Sorted (bucket, cnt) struct pairs of a token array — the one-pass
    * hashing-TF encode; equals the explode→groupBy counts. */
  def bucketCounts(toks: Column, dim: Long, base: Long = 31L,
                   p: Long = HashP): Column =
    Bridge.column(BucketCountsExpr(ex(toks), dim, base, p))

  /** Sorted (tok, tf) struct pairs of a token array — the one-pass
    * term-frequency encode; equals the explode→groupBy counts. */
  def tokenCounts(toks: Column): Column =
    Bridge.column(TokenCountsExpr(ex(toks)))

  def shingleHashes(toks: Column, n: Int = 3, base: Long = 31L, p: Long = HashP): Column =
    Bridge.column(ShingleHashExpr(ex(toks), n, base, p))

  def minhashSigs(shingleHashes: Column, perms: Seq[(Long, Long)], p: Long = HashP): Column =
    Bridge.column(MinHashSigsExpr(ex(shingleHashes),
      perms.map(_._1).toArray, perms.map(_._2).toArray, p))

  def hyperplaneSig(v: Column, planes: Array[Array[Double]]): Column =
    Bridge.column(HyperplaneSigExpr(ex(v), planes))

  /** Fixed linear projection y = M·x of an array<float> column. */
  def matVec(v: Column, m: Array[Array[Double]]): Column =
    Bridge.column(MatVecExpr(ex(v), m))

  /** Ids of an array<float> column's vectors under a pinned codebook. */
  def codebookAssign(v: Column, book: Codebook): Column =
    Bridge.column(CodebookAssignExpr(ex(v), book))

  /** struct(n_toks, n_uniq, n_stop) of a text's single-space tokens. */
  def tokenStats(text: Column, stop: Seq[String]): Column =
    Bridge.column(TokenStatsExpr(ex(text), stop))

  def sparseDotDense(buckets: Column, cnts: Column, dense: Column): Column =
    Bridge.column(SparseDotDenseExpr(ex(buckets), ex(cnts), ex(dense)))

  /** Cosine-scored ordered pairs among a gathered (id, vec) member
    * array — the in-row scored self-join of the kNN-graph build. */
  def scoredPairs(mv: Column): Column =
    Bridge.column(ScoredPairsExpr(ex(mv)))
}
