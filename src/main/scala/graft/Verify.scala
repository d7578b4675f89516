package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Where the [[SparkEntry.oracleSupport]] writers place model-parameter
    * tables: a SIBLING of the dump dir, not inside it. The driver's
    * checker enumerates every parquet dir under outDir as a query result,
    * so support tables inside it — even nested under `_support/` — show
    * up as one spurious `err` row per run (its pandas sort dies on the
    * array-typed parameter columns). Outside outDir they are invisible to
    * the enumeration while the oracle SQL still reads them by absolute
    * path (`{GRAFT_OUT}_support/...` — the same `{GRAFT_OUT}`
    * substitution below, so writer and SQL can never disagree on the
    * location). */
  def supportDir(outDir: String): String =
    Paths.get(outDir).toAbsolutePath.toString + "_support"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional args: dump only the named queries (dev iteration; the driver
    // passes none and gets the full suite). Unknown names are an error.
    val only = args.drop(2).toSet
    val unknownNames = only.diff(SparkEntry.queries.keySet)
    require(unknownNames.isEmpty,
      s"unknown queries: ${unknownNames.toSeq.sorted.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // run query dumps concurrently: Spark's scheduler interleaves the jobs
    // across the local cores, cutting wall time ~3x vs sequential (the
    // queries are independent; failures stay per-query). Each dump runs
    // in its own cache scope — the lifecycle Bench measures — so one
    // thread's release never touches another's caches.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    val futures = selected.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        try graft.ops.Caching.scope(fn(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name"))
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // model-parameter support tables for oracle SQL that recomputes model
    // outputs (e.g. q94): written AFTER the dumps so memoized fits reuse.
    // Per-writer scoping — a subset run pays only the fits its selected
    // queries' oracles actually read (a q94-only run must not build the
    // IVF index, nor a q45-only run the topic model). Scoping includes
    // TRANSITIVE support reads swept from the oracle SQL itself, so a
    // subset selecting only q201 still gets q45's index export.
    val supportEntries =
      if (only.isEmpty) SparkEntry.oracleSupport
      else SparkEntry.supportEntriesFor(only)
    supportEntries.foreach { case (_, w) =>
      try w(spark, sfDir, outDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] oracle support failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{GRAFT_OUT}", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // selection MANIFEST (r21 ADVICE, medium): a query that throws during
    // DataFrame CONSTRUCTION leaves no dump dir at all, and the checker
    // used to read a missing dir as "not selected" — a real failure
    // silently passing the gate. The manifest pins what was selected, so
    // check_oracle.py can treat selected-but-missing as FAIL and
    // unselected-missing as a skip.
    val selectedNames = selected.keys.toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/selected.json"),
      selectedNames.map(q).mkString("[", ",", "]"))
    // tolerance-banded oracle for the approx tier (r21 verdict #5):
    // exact-answer acceptance bands for q62/q80 — see
    // SparkEntry.oracleTolerance. A separate file on purpose: the
    // driver's strict hash compare reads oracle_sql.json only.
    val tolJson = SparkEntry.oracleTolerance
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{GRAFT_OUT}", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_tolerance.json"), tolJson)
    spark.stop()
  }
}
