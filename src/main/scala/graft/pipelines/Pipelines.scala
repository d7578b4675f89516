package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}

import graft.functions.{Html, TextFns}
import graft.ops.Caching
import graft.sources.Archives

/** The reference's three entry points (SURVEY §3 EP1-EP3), re-expressed as
  * single lazy Spark plans. Each replaces a hand-rolled Python batch script
  * (thread pools, per-record logs, checkpoint counters) with one declarative
  * pipeline whose resume/checkpoint semantics come from the engine
  * (task retry, streaming checkpoints — graft.streaming.Incremental).
  */
object Pipelines {

  /** Stage timer for the batch pipelines' funnels ([[TrainingData]],
    * [[MultimodalData]], [[MediaData]], each run inside one
    * [[Caching.scope]]): wall-clock of the ONE action that materializes a
    * cached stage — the per-stage scaling signal ScaleSmoke's pipeline
    * section reads — then the release of everything the stage's composed
    * operators registered in the scope (signature tables, span tables,
    * pair verifies). Later stages read this stage's own cache, never a
    * released intermediate (a re-read would recompute, correctly, from
    * deterministic plans). */
  private[pipelines] def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    Caching.release()
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** EP1 (htmlConverter.py): HTML corpus → extracted post text table.
    * Scan is `binaryFile` (no RAM materialization); extraction is the C8
    * scanner; empty extractions are dropped (F4, htmlConverter.py:40-41).
    * Thread-pool parallelism (htmlConverter.py:70-79) ↔ task parallelism. */
  def htmlToText(spark: SparkSession, htmlDir: String): DataFrame = {
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.html").load(htmlDir)
      .select(col("path"),
        Html.html_post_text(decode(col("content"), "UTF-8")).as("text"))
      .withColumn("txt_name",
        regexp_replace(regexp_extract(col("path"), "([^/]+)$", 1), "\\.html$", ".txt"))
      .filter(length(trim(col("text"))) > 0)
      .select(col("txt_name"), col("text"))
  }

  /** EP2 (embeddings.py / embeddingsWithGPU.py): text corpus → normalized
    * embedding table. The corpus-in-RAM wall (embeddings.py:13-27) becomes a
    * streaming scan; the adaptive batch loop becomes batched mapPartitions
    * (graft.ml.Embed); the memmap sink becomes Parquet. */
  def embedCorpus(spark: SparkSession, textDir: String, batchSize: Int = 256): DataFrame = {
    import spark.implicits._
    val docs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt").load(textDir)
      .select(col("path"), decode(col("content"), "UTF-8").as("text"))
      .filter(length(trim(col("text"))) > 0)
      .select(xxhash64(col("path")).as("doc_id"), col("text"))
      .as[(Long, String)]
    graft.ml.Embed.embed(docs, batchSize)
  }

  /** EP3 phase 1 (ID_matching_metadata.py): metadata tar.gz → per-member GPS
    * status table. The per-record append log (:60-64) is a status column;
    * decode failures are data, not failures (:46-54). The member payload is a
    * JSON *array* of EXIF objects — like the reference's `json.loads(...)[0]`
    * we parse the array and inspect element 0, and a payload that fails to
    * parse reports the distinct "error" status (ID_matching_metadata.py:56-58)
    * rather than being conflated with "not detected". */
  def gpsStatus(spark: SparkSession, tarPath: String, searchKey: String = "GPS"): DataFrame = {
    val members = Archives.tarMembers(spark, tarPath, suffix = ".json")
    Archives.withAsciiDecode(members)
      // `get` (0-indexed) is null-on-missing even under ANSI mode, where
      // element_at would throw on an empty ("[]") payload array
      .withColumn("elem0", get(
        from_json(col("text"), ArrayType(MapType(StringType, StringType))), lit(0)))
      // payload keeps the element-0 object RAW (types intact for downstream
      // schema inference); null when not a parseable non-empty JSON array
      .withColumn("payload",
        when(col("elem0").isNotNull, get_json_object(col("text"), "$[0]")))
      .withColumn("detected",
        when(col("status") === "ok" && col("elem0").isNotNull,
          exists(map_keys(col("elem0")), k => k.startsWith(searchKey)))
          .otherwise(lit(false)))
      .withColumn("report",
        when(col("status") =!= "ok", col("status"))
          .when(col("elem0").isNull, lit("error"))
          .when(col("detected"), lit(s"${searchKey}_detected"))
          .otherwise(lit(s"${searchKey}_not_detected")))
      .select(col("member").as("filename"), col("report"), col("payload"))
  }

  /** EP3 phase 2 (preview_data.ipynb:cell-4..cell-11): status table →
    * contains-filter (F1) → semi-join back into the members (J1) → one-pass
    * dynamic-schema JSON assembly (U1: the 68,588× O(n²) pandas concat
    * becomes a single spark.read.json inference pass whose schema is the
    * union of all member schemas) → assembled wide table. */
  def assembleDetected(spark: SparkSession, tarPath: String, searchKey: String = "GPS"): DataFrame = {
    import spark.implicits._
    val status = gpsStatus(spark, tarPath, searchKey)
    // cache: the detected set feeds BOTH the schema-inference pass and the
    // row-parse pass below — without the barrier the whole tar walk replays
    val detected = status
      .filter(col("report") === s"${searchKey}_detected")
      .select(col("filename"), col("payload"))
      .cache()
    val parsed = spark.read.json(detected.select(col("payload")).as[String])
    // re-attach the member name by parsing payloads in member order — schema
    // inference and row parse happen in ONE pass each, vs per-record concat
    val withName = detected.withColumn("json", from_json(col("payload"),
      parsed.schema))
    Caching.materializeAndRelease(
      withName.select(col("filename") +: parsed.schema.fieldNames.toIndexedSeq.map(f =>
        col(s"json.`$f`").as(f)): _*),
      detected)
  }

  /** J2 (ID_matching_metadata.py / create_metadata_df.py): match metadata to
    * media records by the Parler ID embedded in member FILENAMES —
    * `metadata/meta-XXXX.json` ↔ `media/XXXX.<ext>`. The key exists in no
    * column: both sides `regexp_extract` it from their member names, then
    * equi-join. Inner join = "posts that have media", the reference's match
    * list; AQE broadcasts whichever extracted side is small. The id-keyed
    * oracle twin over parquet tables is q60. */
  def idMatch(spark: SparkSession, metadataTar: String, mediaTar: String): DataFrame = {
    val meta = Archives.tarMembers(spark, metadataTar, suffix = ".json")
      .select(col("member").as("meta_member"), col("content"),
        regexp_extract(col("member"), "meta-([A-Za-z0-9]+)\\.json$", 1).as("id"))
      .filter(col("id") =!= "")
    val media = Archives.tarMembers(spark, mediaTar)
      .select(col("member").as("media_member"),
        regexp_extract(col("member"), "([A-Za-z0-9]+)\\.[A-Za-z0-9]+$", 1).as("id"))
      .filter(col("id") =!= "")
    meta.join(media, Seq("id"))
      .select(col("id"), col("meta_member"), col("media_member"), col("content"))
  }
}
