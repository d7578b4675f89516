package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pipeline workload's seeded input: disjoint-vocabulary copies of the
  * base `documents` table (copy k > 0 prefixes every word with `c<k>_`),
  * a held-out eval split, and planted cases for each funnel stage:
  * exact clones, near-duplicates (last word replaced), documents that
  * quote an eval document, and documents cut to three words. The seed
  * picks one of [[Variants]] plantings; the expected funnel of every
  * variant is recorded. */
object Corpus {
  val Variants = 8

  def variant(seed: Long): Int = Math.floorMod(seed, Variants.toLong).toInt

  /** (docs, eval docs) for `seed`. Every column is a pure function of the
    * base table and the variant. */
  def build(base: DataFrame, seed: Long, copies: Int): (DataFrame, DataFrame) = {
    val v = variant(seed)
    // per-mille bucket of a doc for one planting decision
    def bucket(tag: String) = pmod(xxhash64(col("doc_id"), lit(v), lit(tag)), lit(1000))
    val docs0 = base.select(col("doc_id"), col("text"), col("source"))
    val copied = (0 until copies).map { k =>
      if (k == 0) docs0
      else docs0.select((col("doc_id") + lit(k * 10_000_000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\w+)", s"c${k}_$$1").as("text"), col("source"))
    }.reduce(_ unionByName _)
    val isEval = bucket("eval") < 10
    val evalDocs = copied.filter(isEval)
    val train = copied.filter(!isEval)
    val clones = train.filter(bucket("clone") < 20)
      .select((col("doc_id") + lit(100_000_000L)).as("doc_id"), col("text"), col("source"))
    val nearDups = train.filter(bucket("near") < 20)
      .select((col("doc_id") + lit(200_000_000L)).as("doc_id"),
        regexp_replace(col("text"), "\\S+\\s*$", "nearvariant").as("text"), col("source"))
    val quoting = evalDocs
      .select((col("doc_id") + lit(300_000_000L)).as("doc_id"),
        concat(lit("a note that quotes "), substring_index(col("text"), " ", 40)).as("text"),
        col("source"))
    val short = train.filter(bucket("short") < 10)
      .select((col("doc_id") + lit(400_000_000L)).as("doc_id"),
        substring_index(col("text"), " ", 3).as("text"), col("source"))
    val docs = Seq(train, clones, nearDups, quoting, short).reduce(_ unionByName _)
      .withColumn("n_chars", length(col("text")).cast("long"))
    (docs, evalDocs.select(col("text")))
  }

  /** Writes the corpus under `dir` and reads it back, so the pipeline
    * sees plain parquet inputs. Returns (docs, eval docs). */
  def materialize(spark: SparkSession, base: DataFrame, seed: Long, copies: Int,
      dir: String): (DataFrame, DataFrame) = {
    val (docs, evalDocs) = build(base, seed, copies)
    docs.write.mode("overwrite").parquet(s"$dir/corpus.parquet")
    evalDocs.write.mode("overwrite").parquet(s"$dir/eval.parquet")
    (spark.read.parquet(s"$dir/corpus.parquet"), spark.read.parquet(s"$dir/eval.parquet"))
  }
}
