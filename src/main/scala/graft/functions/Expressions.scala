package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot text path. Native expressions
  * (vs Scala UDFs) keep the operators inside whole-stage codegen and avoid
  * per-row serialization — the difference between a scan-speed pipeline and
  * a UDF-bound one at 100 TB.
  */

/** Polynomial rolling hash over a string's bytes (Karp-Rabin style):
  * acc = (acc * 31 + byte) mod 1_000_000_007, left to right.
  *
  * Used for document fingerprinting. Matches the pure-SQL fold
  * `list_reduce(list_transform(range(...), i -> ascii(text[i])), ...)` on
  * ASCII input, which is what the DuckDB oracle runs — so this native
  * implementation is verified end-to-end against an independent one.
  * Generates a tight byte loop via doGenCode (stays in whole-stage codegen).
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")

  protected override def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $acc = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $acc = ($acc * 31L + (long)($bytes[$i] & 0xFF)) % 1000000007L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  def hash(bytes: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31L + (bytes(i) & 0xFF).toLong) % 1000000007L
      i += 1
    }
    acc
  }
}

/** 64-bit SimHash over a token array: each token is FNV-1a-hashed to 64
  * bits; each bit position accumulates +1/-1 votes across tokens; the
  * fingerprint sets the bits with positive vote. Near-duplicate documents
  * (small token-set perturbations) land within a small Hamming distance.
  *
  * One pass per row, no shuffle — the whole signature computation is
  * embarrassingly parallel, which is the point of SimHash at corpus scale.
  * FNV-1a is implemented inline so the semantics are self-contained (no
  * dependence on engine-internal hash functions).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
    }

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = SimHash64.fnv1a(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      val cls = SimHash64.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    long $h = $cls.fnv1a($c.getUTF8String($i).getBytes());
         |    for (int $b = 0; $b < 64; $b++) {
         |      $votes[$b] += ((($h >>> $b) & 1L) == 1L) ? 1 : -1;
         |    }
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** FNV-1a 64-bit. */
  def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xFF).toLong) * 0x100000001b3L
      i += 1
    }
    h
  }
}

/** Distinct word-k-gram shingles of a space-separated string, in one native
  * pass per row.
  *
  * The compositional alternative — `array_distinct(transform(sequence(...),
  * i -> concat_ws(' ', element_at(split(text), i), ...)))` — is correct but
  * slow at scale: higher-order functions run on the interpreted path and
  * re-evaluate the outer `split(text)` for every `element_at` call, turning
  * an O(tokens) row into O(tokens x length). This expression tokenizes once
  * and emits the distinct k-gram set directly. Semantics match
  * `split(text, ' ')` shingling exactly (single-space delimiter, empties
  * preserved), so the DuckDB oracle for the compositional form still applies.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")

  protected override def nullSafeEval(input: Any): Any =
    WordShingles.shingle(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = WordShingles.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $cls.shingle($c, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  private val SPACE = UTF8String.fromString(" ")

  /** Distinct word-k-grams entirely in UTF8String space (no JVM String
    * conversion, no regex — called from both interpreted eval and the
    * generated code; the work is a single tokenize + concat pass).
    */
  def shingle(text: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = text.split(SPACE, -1)
    if (toks.length < k) {
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String]()
      val window = new Array[UTF8String](k)
      var i = 0
      while (i <= toks.length - k) {
        var j = 0
        while (j < k) { window(j) = toks(i + j); j += 1 }
        seen.add(UTF8String.concatWs(SPACE, window: _*))
        i += 1
      }
      val out = new Array[Any](seen.size())
      val it = seen.iterator()
      var idx = 0
      while (it.hasNext) { out(idx) = it.next(); idx += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }
}

/** Dot product of two array<double> columns as one native codegen'd loop.
  *
  * Bit-identical to the compositional `aggregate(zip_with(a, b, _*_), 0.0,
  * _+_)` left fold (same operations, same order) and therefore to DuckDB's
  * `list_dot_product` — but the HOF form runs interpreted and re-enters the
  * lambda per element, which dominates the ANN hot path. Used by cosine,
  * LSH bucketing, and norm computation.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  // NULL on length mismatch or null element (malformed vectors must not
  // produce plausible-looking truncated values), so nullable regardless of
  // the children's nullability.
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires two array<double>")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two array<double> columns in one native pass: three
  * sequential accumulators (dot, |a|^2, |b|^2) in a single loop — each
  * accumulator's addition order matches the three independent left folds of
  * the compositional form, so results are bit-identical to it and to
  * DuckDB's `list_cosine_similarity` on double arrays.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // NULL on length mismatch or null element — see DotProduct.
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires two array<double>")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val (xv, yv) = (x.getDouble(i), y.getDouble(i))
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb)); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** FNV-1a 64-bit of a string's bytes — the public, cross-engine-emulatable
  * base hash for the MinHash permutation family: each shingle string is
  * hashed ONCE, then the 16 "permutations" are cheap splitmix64 integer
  * mixes of this value (vs 16 separate string hashes with an
  * engine-internal function). A DuckDB oracle reproduces it exactly with
  * HUGEINT mod-2^64 arithmetic.
  */
case class Fnv1a64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv1a64"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")

  protected override def nullSafeEval(input: Any): Any =
    SimHash64.fnv1a(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = SimHash64.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.fnv1a($c.getBytes());"
    })

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 =
    copy(child = newChild)
}

/** splitmix64 finalizer over a long: +golden-gamma, two xor-shift-multiply
  * avalanche rounds, final xor-shift — with JVM WRAPPING arithmetic.
  * Exists as an expression because ANSI mode (Spark 4 default) makes the
  * builtin `*`/`+` THROW on long overflow, so the mix cannot be composed
  * from Column operators. The DuckDB oracle reproduces it with HUGEINT
  * mod-2^64 arithmetic (32-bit limb multiplies).
  */
case class Mix64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "mix64"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a bigint argument")

  protected override def nullSafeEval(input: Any): Any =
    Mix64.mix(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = Mix64.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.mix($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Mix64 =
    copy(child = newChild)
}

object Mix64 {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Hilbert-curve index of a 2-D cell (the classic iterative xy2d of
  * Warren / the Wikipedia formulation): unlike the Morton key's bit
  * interleave, consecutive Hilbert indices are always Manhattan-adjacent
  * cells, so range buckets of the key tile the plane without the
  * Z-curve's diagonal jumps — tighter per-file bounding boxes for
  * min/max skipping. Pure long bit-twiddling in one codegen'd loop; the
  * DuckDB oracle replays the SAME rotation recurrence as unrolled CTE
  * stages.
  */
case class HilbertXY2D(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_xy2d"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two bigint arguments")

  protected override def nullSafeEval(x: Any, y: Any): Any =
    HilbertXY2D.xy2d(1L << bits, x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val cls = HilbertXY2D.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.xy2d(${1L << bits}L, $x, $y);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertXY2D =
    copy(left = newLeft, right = newRight)
}

object HilbertXY2D {
  /** d ∈ [0, n²) for x, y ∈ [0, n); n a power of two. */
  def xy2d(n: Long, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }
}

/** Product-quantization encoder: assigns each of `m` subvectors to its
  * nearest codebook centroid in ONE pass over the row — argmin over
  * ||x_j - c||² computed as argmax(x_j·c − ½|c|²), so only dot products
  * touch the vector. Replaces the compositional m·ksub slice()+dot plan
  * (which allocated a subarray per subspace PER CENTROID) with a single
  * tight loop; codebooks ride into the generated code as reference
  * objects, not literal trees.
  *
  * Layout: `flatBooks`[(j*ksub + c)*dsub + d], `halfNorm2`[j*ksub + c].
  * Returns array<int> of m codes; null if the input length != m*dsub.
  */
case class PqEncode(
    child: Expression,
    flatBooks: Array[Double],
    halfNorm2: Array[Double],
    m: Int,
    ksub: Int,
    dsub: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>")
    }

  protected override def nullSafeEval(input: Any): Any =
    PqEncode.encode(input.asInstanceOf[ArrayData], flatBooks, halfNorm2, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val books = ctx.addReferenceObj("flatBooks", flatBooks, "double[]")
    val hn = ctx.addReferenceObj("halfNorm2", halfNorm2, "double[]")
    val cls = PqEncode.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
         |  $cls.encode($c, $books, $hn, $m, $ksub, $dsub);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  // the codebooks compare and print by content, so two builds of one plan
  // are equal and canonicalize alike, and plan strings carry no identity hash
  override def equals(o: Any): Boolean = o match {
    case p: PqEncode => child == p.child && m == p.m && ksub == p.ksub && dsub == p.dsub &&
      java.util.Arrays.equals(flatBooks, p.flatBooks) &&
      java.util.Arrays.equals(halfNorm2, p.halfNorm2)
    case _ => false
  }
  private lazy val contentHash =
    (child, PqEncode.digest(flatBooks), PqEncode.digest(halfNorm2), m, ksub, dsub).##
  override def hashCode(): Int = contentHash
  override def stringArgs: Iterator[Any] =
    Iterator(child, PqEncode.show(flatBooks), PqEncode.show(halfNorm2), m, ksub, dsub)
}

object PqEncode {
  /** Content hash of a codebook array. */
  private[functions] def digest(a: Array[Double]): Int = java.util.Arrays.hashCode(a)

  /** A codebook array as a plan string shows it: length and content hash. */
  private[functions] def show(a: Array[Double]): String =
    f"double[${a.length}]#${digest(a)}%08x"

  def encode(
      arr: ArrayData,
      books: Array[Double],
      hn: Array[Double],
      m: Int,
      ksub: Int,
      dsub: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (arr.numElements() != m * dsub) return null
    // null element -> null result (like DotProduct): ArrayData.getDouble on
    // a null slot reads an arbitrary value, which would yield a plausible
    // but wrong code instead of a visible null
    var e = 0
    while (e < m * dsub) { if (arr.isNullAt(e)) return null; e += 1 }
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      val voff = j * dsub
      var best = 0
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < ksub) {
        val off = (j * ksub + c) * dsub
        var s = 0.0
        var d = 0
        while (d < dsub) { s += arr.getDouble(voff + d) * books(off + d); d += 1 }
        s -= hn(j * ksub + c)
        if (s > bestScore) { bestScore = s; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }
}

/** PQ/IVF query-side lookup table in one native pass: lut[j*ksub + c] =
  * dot(subvector_j(x), codebook[j][c]) with the exact accumulation order
  * of [[PqEncode]]'s loop (and of the compositional slice()+DotProduct
  * form it replaces — the ~3000-node literal expression tree cost janino
  * compile time per plan build and could exceed codegen method limits).
  * Codebooks ride in as one reference object. Returns array<double> of
  * m*ksub; null on wrong input length or null element.
  */
case class PqLut(
    child: Expression,
    flatBooks: Array[Double],
    m: Int,
    ksub: Int,
    dsub: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>")
    }

  protected override def nullSafeEval(input: Any): Any =
    PqLut.lut(input.asInstanceOf[ArrayData], flatBooks, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val books = ctx.addReferenceObj("flatBooks", flatBooks, "double[]")
    val cls = PqLut.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
         |  $cls.lut($c, $books, $m, $ksub, $dsub);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)

  // by content, as in PqEncode
  override def equals(o: Any): Boolean = o match {
    case p: PqLut => child == p.child && m == p.m && ksub == p.ksub && dsub == p.dsub &&
      java.util.Arrays.equals(flatBooks, p.flatBooks)
    case _ => false
  }
  private lazy val contentHash = (child, PqEncode.digest(flatBooks), m, ksub, dsub).##
  override def hashCode(): Int = contentHash
  override def stringArgs: Iterator[Any] =
    Iterator(child, PqEncode.show(flatBooks), m, ksub, dsub)
}

object PqLut {
  def lut(
      arr: ArrayData,
      books: Array[Double],
      m: Int,
      ksub: Int,
      dsub: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (arr.numElements() != m * dsub) return null
    var e = 0
    while (e < m * dsub) { if (arr.isNullAt(e)) return null; e += 1 }
    val out = new Array[Any](m * ksub)
    var j = 0
    while (j < m) {
      val voff = j * dsub
      var c = 0
      while (c < ksub) {
        val off = (j * ksub + c) * dsub
        var s = 0.0
        var d = 0
        while (d < dsub) { s += arr.getDouble(voff + d) * books(off + d); d += 1 }
        out(j * ksub + c) = s
        c += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Code-indexed table sum: sum_j table[j*ksub + codes[j]] with ksub =
  * table.length / codes.length, left-to-right over j — the exact order of
  * the `(0 until m).map(element_at(...)).reduce(_ + _)` chain it replaces
  * (16 element_at nodes per pair collapse to one codegen'd loop). Serves
  * both the ADC inner-product accumulation (table = per-query LUT column)
  * and the reconstructed-norm lookup (table = constant-folded literal
  * array). Null on empty/indivisible/ill-indexed input or null element.
  */
case class CodeLookupSum(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "code_lookup_sum"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires (array<int>, array<double>)")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    CodeLookupSum.sum(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = CodeLookupSum.getClass.getName.stripSuffix("$") + "$.MODULE$"
    // freshName: two instances of this expression can fuse into ONE
    // whole-stage-codegen function (e.g. nx and adcIp in adjacent
    // projections) — a fixed local name would collide and silently drop
    // the stage to the interpreted path
    val r = ctx.freshName("clsum")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |Object $r = $cls.sum($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = (Double) $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CodeLookupSum =
    copy(left = newLeft, right = newRight)
}

object CodeLookupSum {
  def sum(codes: ArrayData, table: ArrayData): Any = {
    val m = codes.numElements()
    val t = table.numElements()
    if (m == 0 || t == 0 || t % m != 0) return null
    val ksub = t / m
    var s = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val c = codes.getInt(j)
      if (c < 0 || c >= ksub) return null
      val idx = j * ksub + c
      if (table.isNullAt(idx)) return null
      s += table.getDouble(idx)
      j += 1
    }
    s
  }
}

/** Nearest-centroid assignment over a fixed-point vector in ONE native
  * pass: struct(d2, cid) = argmin over k literal centroids of the exact
  * integer squared L2 distance, ties to the lowest cid — bit-identical to
  * the compositional `array_min(array(struct(aggregate(zip_with(v, cent,
  * (a,b) -> (a-b)*(a-b)), 0L, _+_), cid), ...))` form it replaces (same
  * subtract/multiply/add order per centroid, Java wrap-on-overflow =
  * Spark non-ANSI arithmetic; the lexicographic struct min with a null d2
  * in EVERY branch — null v, null element, or length mismatch, which the
  * zip_with null-padding makes all-or-nothing — resolves to (null, 0),
  * reproduced here explicitly). The HOF form re-enters two interpreted
  * lambdas per element per centroid (k·dim per row); this is the k-means
  * assignment hot path run by every fit iteration and every cluster
  * query, so it dominated the whole kmeans_* family. Centroids ride into
  * generated code as one reference object.
  */
case class NearestCentroidFp(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("d2", LongType, nullable = true),
    org.apache.spark.sql.types.StructField(
      "cid", org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def prettyName: String = "nearest_centroid_fp"
  // the struct itself is never null (null/malformed v yields (null, 0),
  // matching the lexicographic-min-over-all-null-d2 of the HOF form)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<bigint>")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    NearestCentroidFp.assign(
      if (v == null) null else v.asInstanceOf[ArrayData], cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("cents", cents, "long[][]")
    val cls = NearestCentroidFp.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${childGen.code}
        |InternalRow ${ev.value} = $cls.assign(
        |  ${childGen.isNull} ? null :
        |    (org.apache.spark.sql.catalyst.util.ArrayData) ${childGen.value},
        |  $cs);
       """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidFp =
    copy(child = newChild)
}

object NearestCentroidFp {
  def assign(v: ArrayData, cents: Array[Array[Long]])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val dim = cents(0).length
    var malformed = v == null || v.numElements() != dim
    if (!malformed) {
      var i = 0
      while (i < dim) { if (v.isNullAt(i)) { malformed = true; i = dim }; i += 1 }
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    if (malformed) { row.setNullAt(0); row.setInt(1, 0); return row }
    var best = Long.MaxValue
    var bcid = 0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d2 = 0L
      var i = 0
      while (i < dim) {
        val d = v.getLong(i) - cent(i)
        d2 += d * d
        i += 1
      }
      if (d2 < best) { best = d2; bcid = c }
      c += 1
    }
    row.setLong(0, best)
    row.setInt(1, bcid)
    row
  }
}

/** Dot product of an array<bigint> column with a literal long vector in
  * one native pass — bit-identical to `aggregate(zip_with(v, typedLit(w),
  * (a,b) -> a*b), 0L, _+_)` (same multiply/add order, Java wrap = Spark
  * non-ANSI; null v, null element, or length mismatch all null out, which
  * is what zip_with's null padding does to the fold). The linear-model
  * margin hot path: every classifier GD iteration and every scoring pass
  * evaluates it per (row, head).
  */
case class DotLongLit(child: Expression, w: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long_lit"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<bigint>")
    }

  protected override def nullSafeEval(input: Any): Any =
    DotLongLit.dot(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ws = ctx.addReferenceObj("w", w, "long[]")
    val cls = DotLongLit.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val r = ctx.freshName("dotll")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |Object $r = $cls.dot($c, $ws);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = (Long) $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DotLongLit =
    copy(child = newChild)
}

object DotLongLit {
  def dot(v: ArrayData, w: Array[Long]): Any = {
    if (v.numElements() != w.length) return null
    var s = 0L
    var i = 0
    while (i < w.length) {
      if (v.isNullAt(i)) return null
      s += v.getLong(i) * w(i)
      i += 1
    }
    s
  }
}

/** Upper-triangle Gram pair fan-out of one embedding row in a single
  * native pass: array of struct(i, j, p) for 0 <= i <= j < dim with
  * p = floor(v_i·2^20)·floor(v_j·2^20) — bit-identical to the nested
  * `flatten(transform(sequence(...), i -> transform(sequence(i, ...),
  * j -> struct(..., CAST(floor(element_at(v,i+1)*1048576.0) AS BIGINT) *
  * CAST(floor(...)) as p)))` spelling it replaces (each quantization is
  * an exact double op, the product exact int64; a null element makes
  * every product that touches it null, exactly as element_at's null
  * propagates through the literal form; `(long) Math.floor` = Spark's
  * Floor-then-cast on the same doubles). The interpreted nested lambdas
  * built d(d+1)/2 structs per row through two lambda re-entries each —
  * the whole cost of the Gram/PCA corpus pass at bench scale.
  */
case class GramPairs(child: Expression) extends UnaryExpression {
  private val st = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(
      "i", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField(
      "j", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("p", LongType, nullable = true)))
  override def dataType: DataType = ArrayType(st, containsNull = false)
  override def prettyName: String = "gram_pairs"
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>")
    }

  protected override def nullSafeEval(input: Any): Any =
    GramPairs.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = GramPairs.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
         |  $cls.pairs($c);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): GramPairs =
    copy(child = newChild)
}

object GramPairs {
  private val Scale = 1048576.0 // 2^20

  def pairs(v: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    val q = new Array[Long](n)
    val nul = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) nul(i) = true
      else q(i) = java.lang.Math.floor(v.getDouble(i) * Scale).toLong
      i += 1
    }
    val out = new Array[Any](n * (n + 1) / 2)
    var idx = 0
    i = 0
    while (i < n) {
      var j = i
      while (j < n) {
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
        row.setInt(0, i)
        row.setInt(1, j)
        if (nul(i) || nul(j)) row.setNullAt(2) else row.setLong(2, q(i) * q(j))
        out(idx) = row
        idx += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Sign-pattern LSH bucketer: computes ALL hash tables' bucket ids for a
  * vector in one pass (bit p of table t = sign of the dot product with
  * hyperplane t*P+p). The compositional form — numTables × planesPerTable
  * dot products against literal plane arrays — builds a multi-thousand-node
  * expression tree that blows past codegen method limits; here the plane
  * matrix rides into generated code as one reference object.
  *
  * Layout: `flatPlanes`[(t*P + p)*dim + d]. Returns array<long> of
  * numTables bucket ids; null if the input length != dim.
  */
case class LshBuckets(
    child: Expression,
    flatPlanes: Array[Double],
    numTables: Int,
    planesPerTable: Int,
    dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>")
    }

  protected override def nullSafeEval(input: Any): Any =
    LshBuckets.buckets(
      input.asInstanceOf[ArrayData], flatPlanes, numTables, planesPerTable, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planes = ctx.addReferenceObj("flatPlanes", flatPlanes, "double[]")
    val cls = LshBuckets.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
         |  $cls.buckets($c, $planes, $numTables, $planesPerTable, $dim);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

object LshBuckets {
  def buckets(
      arr: ArrayData,
      planes: Array[Double],
      numTables: Int,
      planesPerTable: Int,
      dim: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (arr.numElements() != dim) return null
    // null element -> null result (see PqEncode.encode)
    var e = 0
    while (e < dim) { if (arr.isNullAt(e)) return null; e += 1 }
    val out = new Array[Any](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var p = 0
      while (p < planesPerTable) {
        val off = (t * planesPerTable + p) * dim
        var s = 0.0
        var d = 0
        while (d < dim) { s += arr.getDouble(d) * planes(off + d); d += 1 }
        if (s >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Bloom-filter membership probe over a long column — the evaluation
  * primitive of a runtime semi-join filter. The (serializable) filter
  * rides into generated code as a reference object, one virtual call per
  * row inside whole-stage codegen — not a Scala UDF (no boxing-per-row
  * closure dispatch in the scan path).
  */
case class BloomMightContainLong(
    child: Expression,
    filter: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_might_contain_long"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a bigint argument")

  protected override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj(
      "bloom", filter, classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $f.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

/** Pack the first (up to) 8 characters of an ASCII string into one long:
  * acc = fold(acc << 7 | byte), left-padded semantics via a final shift
  * so shorter strings sort BEFORE their extensions (the 0 pad is below
  * every real byte — the prefix-sentinel rule of suffix ordering). For
  * byte values 1..127 the numeric order of the packed longs is EXACTLY
  * the binary string order, and equality is exact, so the pack replaces
  * [[graft.operators.SuffixArray]]'s base-level distinct + global rank +
  * string join with a map-only projection (an order/equality-preserving
  * rank bound of 2^56). Callers MUST gate on the ASCII-and-no-NUL corpus
  * guard: a 0x00 byte collides with the pad and multi-byte UTF-8 breaks
  * the byte==char equivalence (the guard falls back to the string-rank
  * path). Bytes are masked to 7 bits so even ungated input stays a
  * well-defined (if order-breaking) value rather than UB.
  */
case class PackAscii(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pack_ascii"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")

  protected override def nullSafeEval(input: Any): Any =
    PackAscii.pack(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = PackAscii.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.pack($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): PackAscii =
    copy(child = newChild)
}

object PackAscii {
  def pack(s: UTF8String): Long = {
    val len = s.numBytes()
    val n = if (len < 8) len else 8
    var acc = 0L
    var i = 0
    while (i < n) { acc = (acc << 7) | (s.getByte(i) & 0x7fL); i += 1 }
    acc << (7 * (8 - n))
  }
}

/** Length in BYTES of the longest common prefix of two strings — equal to
  * the common prefix in CHARACTERS on single-byte (ASCII) text, which is
  * the only place the suffix machinery uses it (gated by the same corpus
  * guard as [[PackAscii]]). One bounded byte loop, stays in codegen.
  */
case class AsciiCommonPrefixLen(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "ascii_common_prefix_len"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires two strings")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    AsciiCommonPrefixLen.lcp(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = AsciiCommonPrefixLen.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.lcp($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AsciiCommonPrefixLen =
    copy(left = newLeft, right = newRight)
}

object AsciiCommonPrefixLen {
  def lcp(a: UTF8String, b: UTF8String): Long = {
    val an = a.numBytes()
    val bn = b.numBytes()
    val n = if (an < bn) an else bn
    var i = 0
    while (i < n && a.getByte(i) == b.getByte(i)) i += 1
    i.toLong
  }
}

/** First element of a SORTED-ascending int array strictly greater than
  * the probe, null when none — the greedy-witness step of sequential
  * pattern support (first occurrence of the next symbol after the
  * current prefix position). Replaces the interpreted
  * `element_at(filter(arr, x -> x > v), 1)` HOF pair on the Apriori
  * join path: one bounded loop, stays in whole-stage codegen, and the
  * null (not ANSI-throw) empty case needs no CaseWhen guard.
  */
case class FirstGreaterInt(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "first_greater_int"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.IntegerType, _),
            org.apache.spark.sql.types.IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<int>, int)")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[Int]
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = arr.getInt(i)
        if (x > v) return x
      }
      i += 1
    }
    null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val found = ctx.freshName("found")
      s"""
         |int $n = $a.numElements();
         |boolean $found = false;
         |for (int $i = 0; $i < $n && !$found; $i++) {
         |  if (!$a.isNullAt($i) && $a.getInt($i) > $b) {
         |    ${ev.value} = $a.getInt($i);
         |    $found = true;
         |  }
         |}
         |if (!$found) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstGreaterInt =
    copy(left = newLeft, right = newRight)
}

/** Column-level API for the native expressions (no registry needed —
  * Spark 4's classic ExpressionUtils bridges Expression -> Column), so
  * `Similarity.cosine`/`lshBucket` work on any session out of the box.
  */
/** Lower + upper median of the Walsh pair-sum multiset of one group's
  * value array in a single native pass: for values v of length n, the
  * multiset S = { v_i + v_j : 0 ≤ i ≤ j < n } (self-pairs included) has
  * P = n(n+1)/2 members; returns S_(r1) + S_(r2) for the 1-based
  * ascending ranks r1 = (P+1) DIV 2 and r2 = P DIV 2 + 1 — exactly the
  * two rows the declarative hodges_lehmann spelling selected by
  * row_number over its pair-join frame (odd P makes r1 = r2 and the +
  * doubles the single middle member, reproducing the sum*2 special
  * case). The multiset is order-independent, so the unsorted
  * collect_list input is fine. Selection is by counting (sort +
  * two-pointer rank count inside a value binary search, O(n log n +
  * n log range)) — the pair multiset is never materialized, so the
  * expression stays exact at any group size where the declarative
  * frame was O(n²) rows (1.3M at sf0.1). Domain: the callers feed
  * non-negative counts, so v_i + v_j cannot overflow. Null element or
  * empty array → null (the declarative twin never feeds either).
  */
case class WalshMedianSum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "walsh_median_sum"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<bigint>")
    }

  protected override def nullSafeEval(input: Any): Any =
    WalshMedianSum.medianSum(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = WalshMedianSum.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val r = ctx.freshName("wms")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |Object $r = $cls.medianSum($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = (Long) $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): WalshMedianSum =
    copy(child = newChild)
}

object WalshMedianSum {
  /** #{(i,j) : i ≤ j, a_i + a_j ≤ x} over ascending `a` — two-pointer. */
  private def countLE(a: Array[Long], x: Long): Long = {
    var cnt = 0L
    var i = 0
    var j = a.length - 1
    while (i <= j) {
      while (j >= i && a(i) + a(j) > x) j -= 1
      if (j < i) return cnt
      cnt += (j - i + 1)
      i += 1
    }
    cnt
  }

  /** Smallest pair-sum value whose ≤-count reaches `k` (1-based rank). */
  private def kth(a: Array[Long], k: Long): Long = {
    var lo = 2 * a(0)
    var hi = 2 * a(a.length - 1)
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      if (countLE(a, mid) >= k) hi = mid else lo = mid + 1
    }
    lo
  }

  def medianSum(v: ArrayData): Any = {
    val n = v.numElements()
    if (n == 0) return null
    val a = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      a(i) = v.getLong(i)
      i += 1
    }
    java.util.Arrays.sort(a)
    val p = n.toLong * (n + 1) / 2
    val r1 = (p + 1) / 2
    val r2 = p / 2 + 1
    val s1 = kth(a, r1)
    (if (r2 == r1) 2 * s1 else s1 + kth(a, r2)): java.lang.Long
  }
}

object GraftColumns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  private def child(c: Column): Expression = ColumnBridge.expression(c)

  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(child(a), child(b)))
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(child(a), child(b)))
  def rollingHash(c: Column): Column =
    ColumnBridge.column(RollingHash(child(c)))
  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(child(c)))
  def wordShingles(c: Column, k: Int = 3): Column =
    ColumnBridge.column(WordShingles(child(c), k))
  def fnv1a64(c: Column): Column =
    ColumnBridge.column(Fnv1a64(child(c)))
  def winnowStats(c: Column, k: Int = 8, w: Int = 4): Column =
    ColumnBridge.column(WinnowStats(child(c), k, w))
  def winnowHashes(c: Column, k: Int = 8, w: Int = 4): Column =
    ColumnBridge.column(WinnowHashes(child(c), k, w))
  def wordpieceEncode(c: Column, vocab: Seq[String]): Column =
    ColumnBridge.column(WordpieceEncode(child(c), vocab))
  def mix64(c: Column): Column =
    ColumnBridge.column(Mix64(child(c)))
  def hilbertXY2D(x: Column, y: Column, bits: Int = 10): Column =
    ColumnBridge.column(HilbertXY2D(child(x), child(y), bits))
  def bloomMightContainLong(
      c: Column, filter: org.apache.spark.util.sketch.BloomFilter): Column =
    ColumnBridge.column(BloomMightContainLong(child(c), filter))
  def lshBuckets(
      c: Column, flatPlanes: Array[Double],
      numTables: Int, planesPerTable: Int, dim: Int): Column =
    ColumnBridge.column(LshBuckets(child(c), flatPlanes, numTables, planesPerTable, dim))
  def pqEncode(c: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length; val ksub = books(0).length; val dsub = books(0)(0).length
    val flat = books.flatten.flatten
    val hn = books.flatten.map(cv => cv.map(x => x * x).sum / 2.0)
    ColumnBridge.column(PqEncode(child(c), flat, hn, m, ksub, dsub))
  }
  def pqLut(c: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length; val ksub = books(0).length; val dsub = books(0)(0).length
    ColumnBridge.column(PqLut(child(c), books.flatten.flatten, m, ksub, dsub))
  }
  def codeLookupSum(codes: Column, table: Column): Column =
    ColumnBridge.column(CodeLookupSum(child(codes), child(table)))
  def nearestCentroidFp(v: Column, cents: Array[Array[Long]]): Column =
    ColumnBridge.column(NearestCentroidFp(child(v), cents))
  def dotLongLit(v: Column, w: Array[Long]): Column =
    ColumnBridge.column(DotLongLit(child(v), w))
  def gramPairs(v: Column): Column =
    ColumnBridge.column(GramPairs(child(v)))
  def packAscii(c: Column): Column =
    ColumnBridge.column(PackAscii(child(c)))
  def asciiCommonPrefixLen(a: Column, b: Column): Column =
    ColumnBridge.column(AsciiCommonPrefixLen(child(a), child(b)))
  def firstGreaterInt(arr: Column, v: Column): Column =
    ColumnBridge.column(FirstGreaterInt(child(arr), child(v)))
  def walshMedianSum(arr: Column): Column =
    ColumnBridge.column(WalshMedianSum(child(arr)))
}

/** SQL registration for the custom expressions (usable via `expr(...)` and
  * `spark.sql(...)`; avoids version-coupling to Column's internal ctor).
  */
/** One-pass winnowing fingerprint statistics (Schleimer et al. SIGMOD'03)
  * over a document's UTF-8 bytes: [n_grams, n_windows, n_fingerprints,
  * fp_checksum] as a 4-element BIGINT array — the NATIVE counterpart of
  * [[graft.functions.TextAnalysis.winnowFingerprints]]'s declarative
  * explode + frame-window + selection-join pipeline, equality-tested
  * against it (Round8Phase7Spec). The monotonic-deque sliding minimum
  * (pop `>=` on insert, so the rightmost of equal hashes survives at the
  * front) gives O(len) per document with zero shuffle, zero explode —
  * each selection is the window's rightmost min, and because winnowing
  * selections advance monotonically with the window, consecutive dedup
  * equals global dedup. Byte-based k-grams == character k-grams on ASCII
  * corpora (the same ascii-guard contract every FNV oracle carries).
  */
case class WinnowStats(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_stats"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0 && w > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument and positive k, w")

  protected override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      WinnowStats.compute(input.asInstanceOf[UTF8String].getBytes, k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = WinnowStats.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($cls.compute($c.getBytes(), $k, $w));""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowStats =
    copy(child = newChild)
}

/** The selected winnowing fingerprint HASHES as an array (positions
  * dropped, selection-order; values may repeat when distinct positions
  * select equal hashes) — the candidate-generation companion of
  * [[WinnowStats]]: explode + distinct + equi-join replaces the
  * declarative selection pipeline for pair mining. Same deque pass.
  */
/** Greedy longest-match WordPiece encode of one word — the native
  * one-pass form of [[TextAnalysis.wordpieceExpr]]'s declarative
  * 16-step fold (equality-spec-pinned in WordpieceSpec): at each step
  * the LONGEST vocab piece prefixing the remainder is consumed
  * (`##`-marked when not word-initial); `[UNK]` is emitted and the word
  * abandoned when nothing matches. The vocab rides the expression as a
  * constructor constant sorted by length descending, so the first
  * prefix hit IS the longest — one ≤|vocab| scan per emitted piece
  * instead of the fold's per-step filter+aggregate over array objects.
  */
case class WordpieceEncode(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "wordpiece_encode"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && vocab.nonEmpty &&
        vocab.forall(_.nonEmpty)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument and a non-empty vocab")

  // ties are harmless: two same-length prefixes of one string are equal
  @transient private lazy val sorted: Array[String] =
    vocab.sortBy(-_.length).toArray
  private val unk = UTF8String.fromString("[UNK]")

  def encodeWord(w: UTF8String): ArrayData = {
    val s = w.toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var off = 0
    while (off < n) {
      var best: String = null
      var i = 0
      while (best == null && i < sorted.length) {
        if (s.startsWith(sorted(i), off)) best = sorted(i)
        i += 1
      }
      if (best == null) {
        out += unk
        off = n
      } else {
        out += UTF8String.fromString(if (off == 0) best else "##" + best)
        off += best.length
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  protected override def nullSafeEval(input: Any): Any =
    encodeWord(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("wp", this, classOf[WordpieceEncode].getName)
      s"${ev.value} = $ref.encodeWord($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordpieceEncode =
    copy(child = newChild)
}

case class WinnowHashes(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_hashes"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0 && w > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument and positive k, w")

  protected override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      WinnowStats.hashes(input.asInstanceOf[UTF8String].getBytes, k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = WinnowStats.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($cls.hashes($c.getBytes(), $k, $w));""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}

object WinnowStats {
  private val P = 1000000007L

  private def fnv1aAt(bytes: Array[Byte], off: Int, len: Int): Long = {
    var h = -3750763034362895579L // 14695981039346656037 as signed
    var i = off
    val end = off + len
    while (i < end) {
      h = (h ^ (bytes(i) & 0xffL)) * 1099511628211L
      i += 1
    }
    h
  }

  /** [m, windows, n_fingerprints, checksum]; all zeros when len < k.
    * Derived from [[hashes]] (one selection per distinct position, so
    * the list length IS the fingerprint count).
    */
  def compute(bytes: Array[Byte], k: Int, w: Int): Array[Long] = {
    val n = bytes.length
    if (n < k) return Array(0L, 0L, 0L, 0L)
    val m = n - k + 1
    val hs = hashes(bytes, k, w)
    var checksum = 0L
    var i = 0
    while (i < hs.length) {
      checksum = (checksum + ((hs(i) % P) + P) % P) % P
      i += 1
    }
    Array(m.toLong, math.max(m - w + 1, 1).toLong, hs.length.toLong, checksum)
  }

  /** The selected hashes themselves (one per distinct selected position,
    * in selection order) — the same deque pass as [[compute]].
    */
  def hashes(bytes: Array[Byte], k: Int, w: Int): Array[Long] = {
    val n = bytes.length
    if (n < k) return Array.emptyLongArray
    val m = n - k + 1
    val h = new Array[Long](m)
    var i = 0
    while (i < m) { h(i) = fnv1aAt(bytes, i, k); i += 1 }
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0
    // selections are distinct positions, so at most m — primitive buffer,
    // no boxing on the per-row hot path
    val out = new Array[Long](m)
    var nOut = 0
    var lastSel = -1
    var idx = 0
    while (idx < m) {
      while (tail > head && h(deque(tail - 1)) >= h(idx)) tail -= 1
      deque(tail) = idx; tail += 1
      if (idx >= w - 1 || idx == m - 1) {
        val t = math.max(idx - w + 1, 0)
        while (deque(head) < t) head += 1
        val sel = deque(head)
        if (sel != lastSel) { out(nOut) = h(sel); nOut += 1; lastSel = sel }
      }
      idx += 1
    }
    java.util.Arrays.copyOf(out, nOut)
  }
}

object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", {
        case Seq(text) => WordShingles(text, 3)
        case Seq(text, k) => WordShingles(text, k.eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
        })
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fnv1a64", exprs => Fnv1a64(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "mix64", exprs => Mix64(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_stats", {
        case Seq(text) => WinnowStats(text, 8, 4)
        case Seq(text, k, w) =>
          def toInt(e: Expression): Int = e.eval(null) match {
            case i: Int => i
            case l: Long => l.toInt
          }
          WinnowStats(text, toInt(k), toInt(w))
      }, "built-in")
  }
}
