package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector scalar functions over `ArrayType(FloatType)` columns
  * (SURVEY M1/M6-M8; reference embedding matrix semantics,
  * /root/reference/code/embeddings.py:79-123 — 384-dim float32 rows,
  * L2-normalized).
  *
  * Pure built-in higher-order functions (`zip_with`/`aggregate`) — codegen'd,
  * no UDF, no driver round-trips. All arithmetic is widened to double BEFORE
  * multiply/accumulate so results are bit-stable and engine-portable (float32
  * intermediate rounding would diverge from any double-math oracle).
  */
object Vectors {

  /** Σ aᵢ·bᵢ with double accumulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ with double accumulation. */
  def norm2(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity; null-safe only for non-empty, equal-length inputs. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  /** Squared Euclidean distance with double accumulation. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** Pair-cosine kernel UDF over PRIMITIVE float arrays (no boxing — the
    * Seq[Float] signature measured 2.5× slower than even the HOF form).
    * Same double-widened left-fold accumulation order as `cosine`, so
    * results are bit-identical to the expression form and the SQL oracle.
    * Use for per-candidate-pair verification where the pair count is large;
    * the HOF forms remain for one-per-row uses. */
  val cosineKernel = udf { (a: Array[Float], b: Array[Float]) =>
    var dp = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dp += x * y; na += x * x; nb += y * y
      i += 1
    }
    dp / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Random-hyperplane LSH bucket: sign bits of dot products against
    * `nPlanes` hyperplanes whose coefficients are generated driver-side from
    * `seed` and captured in the UDF closure — the same bucket function
    * evaluates identically on any executor at any scale (no stored model).
    * Returns a Long bit-pattern (nPlanes ≤ 63).
    *
    * Deliberately a primitive-array JVM kernel, not an expression: the
    * nPlanes × dim FMA sweep unrolled as a literal expression chain falls
    * out of whole-stage codegen past ~100 terms and evaluates interpreted
    * (round-1 measurement — the kernel is ~10× faster at
    * 6 planes × 64 dims). Accumulation order matches the old expression
    * form (left fold per plane), so bucket assignments are unchanged. */
  def hyperplaneBucket(v: Column, nPlanes: Int, seed: Int, dim: Int = 64): Column = {
    require(nPlanes > 0 && nPlanes <= 63)
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian())
    val kernel = udf { (v: Array[Float]) =>
      // null in → null out (matches built-in scalar semantics); a vector
      // SHORTER than the plane dimension is malformed data and must surface
      // (the ANSI element_at of the old expression form threw there too) —
      // silently bucketing on a prefix would corrupt recall undetectably
      if (v == null) null
      else {
        require(v.length >= dim,
          s"hyperplaneBucket: embedding has ${v.length} dims, expected >= $dim")
        var bits = 0L
        var p = 0
        while (p < planes.length) {
          val pl = planes(p)
          var s = 0.0
          var i = 0
          while (i < pl.length) { s += v(i).toDouble * pl(i); i += 1 }
          if (s >= 0) bits |= 1L << p
          p += 1
        }
        java.lang.Long.valueOf(bits)
      }: java.lang.Long
    }
    kernel(v)
  }
}
