package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev utility (r21 verdict #7/#9): materialize an INFLATED copy of a
  * testdata dir so the bench/profiler can read scaling ratios and
  * shuffle/spill numbers at a size where sf0.1 stops being
  * fixed-overhead-bound. `documents` is replaced by `mult` disjoint
  * copies (offset doc_ids, per-copy word prefixes so per-copy candidate/
  * vocabulary structure matches the base — the ScaleSmoke convention);
  * every other table is copied byte-for-byte. NOT part of any query
  * path — a measurement instrument only.
  *
  * Run: sbt "runMain graft.tools.InflateDataset /root/testdata/sf0.1 /tmp/sfx16 16"
  */
object InflateDataset {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: InflateDataset <baseDir> <outDir> <mult>")
    val (base, out, mult) = (args(0), args(1), args(2).toInt)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(out).mkdirs()
    val docs = graft.Tables.documents(spark, base)
    val cols = docs.columns
    // copies stay disjoint only while every base doc_id is below the
    // per-copy offset
    val offset = 10_000_000L
    val maxId = docs.agg(max(col("doc_id"))).head().getAs[Number](0).longValue
    require(maxId < offset, s"max doc_id $maxId is not below the per-copy offset $offset")
    val scaled = (0 until mult).map { k =>
      docs.select(cols.map {
        case "doc_id" => (col("doc_id") + lit(k * offset)).as("doc_id")
        case "text"   => regexp_replace(col("text"), "(\\w+)", s"c${k}_$$1").as("text")
        case c        => col(c)
      }: _*)
    }.reduce(_ unionByName _)
    scaled.write.mode("overwrite").parquet(s"$out/documents.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings")) {
      val src = java.nio.file.Paths.get(s"$base/$t.parquet")
      if (java.nio.file.Files.exists(src)) {
        // Files.copy of a directory (a Spark-written table) would copy
        // only the empty directory
        require(java.nio.file.Files.isRegularFile(src), s"$src is not a single parquet file")
        val dst = java.nio.file.Paths.get(s"$out/$t.parquet")
        java.nio.file.Files.copy(src, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    println(s"[inflate] wrote $out (documents x$mult)")
    spark.stop()
  }
}
