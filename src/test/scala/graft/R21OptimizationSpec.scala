package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal}

/** Focused pins for the r21 optimization round's operator-internal
  * changes: each test asserts the optimized form computes EXACTLY what
  * the pre-r21 form computed (the round's contract — speed may move,
  * values may not). */
class R21OptimizationSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("withPhashProbes (constant mask table) emits exactly the r20 per-row enumeration") {
    import spark.implicits._
    // reference: the r20 semantics — per hash, for each band (lo, width)
    // and each <=2-flip mask m, the row (band, ((h >>> lo) & wmask) ^ m)
    val hashBits = 64
    val (bands, flips) = Multimodal.phashBandScheme(hashBits)
    def slices = (0 until bands).map { b =>
      val lo = b * hashBits / bands
      (b, lo, (b + 1) * hashBits / bands - lo)
    }
    def refRows(h: Long): Seq[(Int, Long)] = slices.flatMap { case (b, lo, w) =>
      val wmask = if (w >= 64) -1L else (1L << w) - 1
      Multimodal.flipMasks(w, flips).map(m => (b, ((h >>> lo) & wmask) ^ m))
    }
    val rnd = new scala.util.Random(21L)
    val hs = Seq.fill(64)(rnd.nextLong()) :+ 0L :+ -1L :+ Long.MinValue
    val in = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "ahash")
    val got = Multimodal.withPhashProbes(in, hashBits)
      .select(col("doc_id"), col("band"), col("bhash"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = hs.zipWithIndex.flatMap { case (h, i) =>
      refRows(h).map { case (b, v) => (i.toLong, b, v) } }
    // exact multiset equality (and therefore the documented 718/hash
    // amplification and band-major enumeration order per doc)
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap)
    assert(got.size == hs.size * 718)
  }

  test("withPhashProbes at a 0-flip lattice is withPhashBands (16-bit path untouched)") {
    import spark.implicits._
    val in = Seq((1L, 0xBEEFL), (2L, 0x0L), (3L, 0xFFFFL)).toDF("doc_id", "ahash")
    val probes = Multimodal.withPhashProbes(in, 16)
      .select("doc_id", "band", "bhash").collect().map(_.toSeq).toSet
    val bands = Multimodal.withPhashBands(in, 16)
      .select("doc_id", "band", "bhash").collect().map(_.toSeq).toSet
    assert(probes == bands)
  }

  test("the persisted exact-Jaccard artifact equals the inline prefix-filter join") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), Dedup.shingleHashes(
        graft.functions.TextFns.normText(col("text"))).as("hs"))
      .filter(size(col("hs")) > 0)
      .cache()
    val inline = Dedup.exactJaccardPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    docs.unpersist()
    val served = Dedup.exactPairs08(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == inline)
  }
}
