package graft
import org.apache.spark.sql.SparkSession
object Bench {

  @volatile private var calibrationSink: Long = 0L

  /** HOST-CALIBRATION probe (r16 verdict #2): three rounds running,
    * cross-round bench comparison has been blinded by ±25–45 % host
    * drift on identical code. This measures a FIXED, seeded, CPU-bound
    * workload — per thread: xorshift-fill 4M longs, sort, hash-fold —
    * on `threads` concurrent threads (the same exposure to host load
    * Spark's local[n] pool has), no Spark involved. One untimed JIT
    * warmup pass, then the min of two timed passes. The resulting
    * seconds scale with whatever the host is doing during the bench, so
    * `tools/bench_report.py` can print ratios normalized by the
    * calibration alongside the raw ones. */
  def hostCalibration(threads: Int): Double = {
    def work(seed: Long): Long = {
      val n = 4000000
      val a = new Array[Long](n)
      var x = seed | 1L
      var i = 0
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
      java.util.Arrays.sort(a)
      var h = 0L
      i = 0
      while (i < n) { h = h * 31 + a(i); i += 1 }
      h
    }
    def onePass(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => { calibrationSink ^= work(t + 1L) })
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    onePass() // JIT warmup, untimed
    math.min(onePass(), onePass())
  }

  /** Previous-round warm map + calibration, parsed from a committed
    * BENCH_FULL.json (Jackson is on Spark's classpath). Read BEFORE this
    * run overwrites the file. Returns (queries, meanCalibration).
    * The prev artifact's `failed_queries` are DROPPED from the returned
    * map (r20 ADVICE): a query that THREW in the previous run carries a
    * meaningless fast failure wall — after the fix lands, the now-working
    * query would read as a >=2x raw mover against that wall, and the
    * targeted repro pass would "confirm" it (working code really is
    * slower than an error), shipping a phantom regression. Symmetric
    * with the current run's own failed-query exclusion. */
  private[graft] def readPrevArtifact(path: String): Option[(Map[String, Double], Option[Double])] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path))
      val failed: Set[String] = Option(root.get("failed_queries")).map { node =>
        val it = node.elements()
        val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      }.getOrElse(Set.empty)
      val qs = Option(root.get("queries")).map { node =>
        val it = node.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        b.result() -- failed
      }
      val probes = Seq("host_calibration_sec", "host_calibration_end_sec")
        .flatMap(k => Option(root.get(k)).map(_.asDouble()))
      qs.map(q => (q, if (probes.nonEmpty) Some(probes.sum / probes.size) else None))
    } catch { case _: Throwable => None }

  /** One raw mover's full adjudication row (see [[adjudicateMovers]]). */
  private[graft] final case class Mover(q: String, prev: Double, cur: Double,
      ratioRaw: Double, ratioNorm: Option[Double], repro: Option[Double],
      reproduced: Option[Boolean], confirmed: Boolean)

  /** MECHANIZED mover adjudication (r19 verdict #1): the calibration-
    * normalized gate alone passes CPU-probe-invisible host noise — the
    * r19 driver artifact shipped 15 "confirmed" regressions on identical
    * code that a 60-second targeted rerun refuted, because IO/cache/
    * scheduler contention moves query times without moving the CPU
    * probe. The decisive test — re-run EXACTLY the raw movers subset-hot
    * and see whether they still read slow — previously lived in NOTES
    * prose and judge labor; it is now the artifact's own protocol: the
    * `rerun` callback executes a third, targeted pass over the raw-mover
    * names, and a mover is CONFIRMED only when the normalized gate AND
    * the reproduction both hold (a missing gate — no prev calibration,
    * a rerun that failed to time the query — is conservative: it cannot
    * clear the mover). Returns (common query names, median raw ratio,
    * mover rows sorted by raw ratio descending); `rerun` is invoked at
    * most once and only when raw movers exist. */
  private[graft] def adjudicateMovers(
      prevQ: Map[String, Double],
      prevCalib: Option[Double],
      results: Map[String, Double],
      calibCur: Double,
      rerun: Seq[String] => Map[String, Double])
      : (Seq[String], Double, Seq[Mover]) = {
    val common = results.keySet.intersect(prevQ.keySet).toSeq.sorted
      .filter(q => prevQ(q) > 0)
    if (common.isEmpty) return (common, 0.0, Nil)
    val factor = prevCalib.map(_ / calibCur)
    val ratios = common.map(q => (q, results(q) / prevQ(q)))
    val sortedR = ratios.map(_._2).sorted
    val medRaw = sortedR(sortedR.size / 2)
    val rawMovers = ratios
      .filter { case (q, r) => r >= 2.0 && results(q) - prevQ(q) >= 0.4 }
      .sortBy(-_._2)
    val repro =
      if (rawMovers.isEmpty) Map.empty[String, Double]
      else rerun(rawMovers.map(_._1))
    val movers = rawMovers.map { case (q, r) =>
      val rn = factor.map(_ * r)
      val rp = repro.get(q)
      // reproduced = the targeted re-pass still clears the SAME raw
      // mover gate (>=2x prev and >=0.4s absolute)
      val reproduced = rp.map(t => t / prevQ(q) >= 2.0 && t - prevQ(q) >= 0.4)
      val confirmed = rn.forall(_ >= 2.0) && reproduced.getOrElse(true)
      Mover(q, prevQ(q), results(q), r, rn, rp, reproduced, confirmed)
    }
    (common, medRaw, movers)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SELF-ADJUDICATING regression gate (r17 verdict #7): the raw
    // ">=2x and >=0.4s mover" check kept reading mid-run host transients
    // as regressions (r17's q180/q186/q187 artifact movers did not
    // reproduce under a judge rerun). The artifact now carries its own
    // verdict: the previous round's committed artifact is read BEFORE
    // this run overwrites it, and every mover is reported with BOTH the
    // raw ratio and the calibration-normalized one.
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "BENCH_FULL.json")
    val prev = readPrevArtifact(prevPath)
    // probe at START and END: a single start-of-run probe witnesses one
    // instant, not the suite's average load (NOTES r17: the faster of two
    // same-code runs drew the slower start probe). Reports use the mean.
    val hostCalib = hostCalibration(cpus.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: absorb JIT/codegen/parquet-footer costs so the first timed
    // query isn't charged for session startup. Fixed query, not Map.head —
    // an arbitrary warmup makes cross-round numbers drift
    try SparkEntry.queries.get("q01_pricing_summary")
      .orElse(SparkEntry.queries.headOption.map(_._2))
      .foreach(fn => graft.ops.Caching.scope(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
    catch { case _: Throwable => () }
    // same for the Spark ML stack (KMeans drives q45/q50/q51): class
    // loading + JIT of the ML fit path is session startup cost, not query
    // cost — a 16-point toy fit outside the timed region absorbs it
    try {
      import spark.implicits._
      val toy = (0 until 16).map(i => (i.toLong, Array(i.toDouble, (i % 4).toDouble)))
        .toDF("id", "arr")
        .select(org.apache.spark.ml.functions.array_to_vector(
          org.apache.spark.sql.functions.col("arr")).as("features"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(2).setSeed(1L).setMaxIter(2).setInitMode("random").fit(toy)
      ()
    } catch { case _: Throwable => () }
    // optional args: bench only the named queries (dev iteration; the
    // driver passes none and gets the full suite). Unknown names are an
    // error — a typo must not read as a fast passing zero-query benchmark.
    val only = args.toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"known: ${SparkEntry.queries.keySet.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val selected =
      if (only.isEmpty) SparkEntry.queries else SparkEntry.queries.filter(kv => only(kv._1))
    // Noise defense: run the whole suite PASSES times and report the
    // per-query MIN. A background-load spike on the host can no longer fake
    // a per-query regression (the r5 bench tail read 8x slow on queries
    // whose code hadn't changed — machine drift, not plans). Per-query min
    // composes with the session memos (topic model, embedding table, q93's
    // persisted index): pass 2 measures the warm serving path, which is the
    // deployed steady state for model/index-backed queries.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt max 1
    // pass-1 build attribution (r19 verdict #6): snapshot the session
    // artifact-cost total around each cold query, so a big pass-1
    // reading decomposes as attributed builds + plan cost per query
    // instead of needing manual subtraction against artifact_cost
    val buildAttribution = scala.collection.mutable.Map[String, Double]()
    // queries that THREW in any main pass: their fast failure wall is
    // NOT a speedup — without this flag a query regressing into an
    // error would read as a large improvement, never trip the mover
    // gate, and even pull the median down (r20 review). Failed names
    // are excluded from the verdict's ratio set and shipped in the
    // artifact so the reader sees the breakage, not a clean verdict.
    val failedQueries = scala.collection.mutable.Set[String]()
    // ONE timing methodology for main passes AND the mover re-pass —
    // a shared bracket so the re-pass stays definitionally comparable
    // to the prevQ numbers it adjudicates against. Returns (sec, ok).
    def evalOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      // noop sink: full evaluation of every output column (a bare count()
      // would let column pruning skip the expensive expressions entirely).
      // The cache scope releases the builder's intermediates after the
      // action, inside the timed bracket (Caching doc).
      val ok =
        try {
          graft.ops.Caching.scope(
            fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        attribute: Boolean): (String, Double) = {
      val c0 = if (attribute) graft.ops.SessionArtifacts.costs.values.sum else 0.0
      val (sec, ok) = evalOnce(name, fn)
      if (!ok) failedQueries += name
      if (attribute) {
        val d = graft.ops.SessionArtifacts.costs.values.sum - c0
        if (d > 0) buildAttribution(name) = d
      }
      name -> sec
    }
    def runPass(attribute: Boolean): Map[String, Double] =
      selected.toSeq.sortBy(_._1)
        .map { case (name, fn) => timeOne(name, fn, attribute) }.toMap
    val allPasses = (1 to passes).map(i => runPass(attribute = i == 1))
    val hostCalibEnd = hostCalibration(cpus.toInt)
    val firstPass = allPasses.head
    val firstTotal = firstPass.values.sum
    val results = allPasses.head.keys.map { name =>
      name -> allPasses.map(_(name)).min
    }.toMap
    // key order matters: the driver snapshots a bounded TAIL of the build
    // output, and with 70+ queries a head-first layout got the total
    // truncated away in round 3 (BENCH_r03 tail starts mid-queries-map).
    // Query maps first, scalar summary fields LAST, per-query millisecond
    // precision to keep the line short.
    def jsonMap(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // "value" is the COLD first-pass total — the same meaning the field
    // carried before the multi-pass methodology, so cross-round comparisons
    // stay cold-vs-cold. The warm serving-path total (sum of per-query
    // mins across passes) is a separate, explicitly named field, and BOTH
    // per-query maps are emitted: "queries_first" (cold — a build/fit
    // regression shows up per-query here) and "queries" (min/warm).
    val minTotal = if (results.nonEmpty) results.values.sum else 0.0
    // FULL per-query artifact (r15 verdict #6): the driver snapshots only
    // a bounded tail of stdout (2,000 chars — one 193-query map is ~6 KB),
    // so cross-round per-query comparison was blind for most of the
    // surface. Every pass's complete map is therefore written as a JSON
    // FILE next to the human log; the stdout line carries the pointer.
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val passMaps = allPasses.zipWithIndex
      .map { case (m, i) => s""""pass${i + 1}":${jsonMap(m)}""" }.mkString(",")
    // the verdict block: per-query warm ratios vs the previous artifact,
    // median raw AND calibration-normalized (norm = raw x calibPrev/
    // calibCur), and the mover list adjudicated by [[adjudicateMovers]]:
    // raw movers trigger an automatic TARGETED third pass (subset-hot,
    // exactly the mover names), and only a mover that clears both the
    // normalized gate and the reproduction counts as confirmed (r19
    // verdict #1 — the r19 driver artifact shipped 15 phantom confirmed
    // regressions the 60-second targeted rerun refutes).
    val calibCur = (hostCalib + hostCalibEnd) / 2
    val rerunMovers: Seq[String] => Map[String, Double] = names => {
      System.err.println(
        s"[bench] reproduction pass: re-running ${names.size} raw mover(s) subset-hot")
      // a query that FAILS during the re-pass is OMITTED from the map
      // (not timed): its fast failure wall would otherwise read as a
      // refutation, clearing a mover whose regression is exactly that
      // it now dies — a missing timing routes to the conservative
      // reproduced=None path in adjudicateMovers (r20 review)
      names.flatMap { n =>
        val (sec, ok) = evalOnce(n, SparkEntry.queries(n))
        if (ok) Some(n -> sec)
        else {
          System.err.println(
            s"[bench] repro $n FAILED — timing omitted, mover stays unclearable")
          None
        }
      }.toMap
    }
    var verdictScalars = "" // compact copy for the tail-truncated stdout line
    val verdictJson = prev match {
      case Some((prevQ, prevCalib)) =>
        val factor = prevCalib.map(_ / calibCur)
        // failed queries carry meaningless (fast) walls — they must not
        // read as speedups or dilute the median; they ship in the
        // artifact's failed_queries instead
        val (common, medRaw, movers) =
          adjudicateMovers(prevQ, prevCalib, results -- failedQueries,
            calibCur, rerunMovers)
        if (common.isEmpty) """"verdict":{"prev":"none","reason":"no common queries"},"""
        else {
          // ALL raw movers — counts come from the full set; only the
          // rendered list is capped (a 15-regression change must not
          // read as 10)
          val nConfirmed = movers.count(_.confirmed)
          val nReproduced = movers.count(_.reproduced.contains(true))
          val moverJson = movers.take(10).map { m =>
            s"""{"q":"${m.q}","prev":${f"${m.prev}%.3f"},"cur":${f"${m.cur}%.3f"},""" +
              s""""ratio_raw":${f"${m.ratioRaw}%.3f"},"ratio_norm":${m.ratioNorm.map(v => f"$v%.3f").getOrElse("null")},""" +
              s""""repro":${m.repro.map(v => f"$v%.3f").getOrElse("null")},""" +
              s""""reproduced":${m.reproduced.map(_.toString).getOrElse("null")},""" +
              s""""confirmed":${m.confirmed}}"""
          }.mkString("[", ",", "]")
          verdictScalars =
            factor.map(f0 => s""""verdict_median_norm":${f"${medRaw * f0}%.3f"},""").getOrElse("") +
              s""""verdict_median_raw":${f"$medRaw%.3f"},""" +
              s""""verdict_movers_confirmed":$nConfirmed,"""
          s""""verdict":{"prev":"$prevPath","n_common":${common.size},""" +
            s""""calib_prev":${prevCalib.map(v => f"$v%.3f").getOrElse("null")},""" +
            s""""calib_cur":${f"$calibCur%.3f"},""" +
            s""""median_ratio_raw":${f"$medRaw%.3f"},""" +
            s""""median_ratio_norm":${factor.map(f0 => f"${medRaw * f0}%.3f").getOrElse("null")},""" +
            s""""n_movers_raw":${movers.size},""" +
            s""""n_movers_reproduced":$nReproduced,""" +
            s""""n_movers_confirmed":$nConfirmed,""" +
            s""""movers":$moverJson},"""
        }
      case None => """"verdict":{"prev":"none","reason":"no previous artifact"},"""
    }
    // MECHANIZED cold-cost attribution (r18 verdict #5): the once-per-
    // session artifact builds (IVF/SQ/PQ indexes, KN fits, the topic
    // model) run inside whichever query hits them first, so pass-1 cold
    // readings like q138's 65 s are build cost, not query cost. Every
    // build records its wall in SessionArtifacts; emitting the map here
    // turns the NOTES attribution folklore into artifact data — the
    // cold−warm delta now decomposes as sum(artifact_cost) + plan cost.
    // emitted UNCONDITIONALLY (empty map, 0.000 total when no builds
    // ran) so the artifact schema matches the stdout line and never
    // flaps across runs (r19 review)
    val artifactCosts = graft.ops.SessionArtifacts.costs
    // cold story decomposed (r19 verdict #6): pass-1 charges once-per-
    // session builds to whichever query touched them first (q100 cold
    // 23.8 s vs warm 1.6); with per-query build attribution captured
    // during pass 1, the top-10 cold queries now carry cold = builds +
    // plan explicitly, so cross-round cold comparisons stop needing
    // manual subtraction. Emitted unconditionally (schema stability).
    val coldDecomposed = firstPass.toSeq.sortBy(-_._2).take(10).map { case (q, t) =>
      val b = buildAttribution.getOrElse(q, 0.0)
      s"""{"q":"$q","cold":${f"$t%.3f"},"builds":${f"$b%.3f"},"plan":${f"${t - b}%.3f"}}"""
    }.mkString("[", ",", "]")
    val failedJson = failedQueries.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val artifactJson =
      s""""artifact_cost":${jsonMap(artifactCosts)},""" +
        s""""artifact_cost_total":${f"${artifactCosts.values.sum}%.3f"},""" +
        s""""cold_decomposed":$coldDecomposed,""" +
        s""""failed_queries":$failedJson,"""
    val fullJson =
      s"""{"sf":"$sfDir","passes":$passes,"n_queries":${results.size},""" +
        s"""$passMaps,"queries_first":${jsonMap(firstPass)},""" +
        s""""queries":${jsonMap(results)},""" +
        verdictJson + artifactJson +
        s""""host_calibration_sec":${f"$hostCalib%.3f"},""" +
        s""""host_calibration_end_sec":${f"$hostCalibEnd%.3f"},""" +
        s""""min_total_sec":${f"$minTotal%.3f"},""" +
        s""""first_pass_total":${f"$firstTotal%.3f"}}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(fullOut), fullJson.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullOut: ${e.getMessage}")
    }
    println(s"""{"queries_first":${jsonMap(firstPass)},"queries":${jsonMap(results)},"sf":"$sfDir","passes":$passes,"full":"$fullOut","host_calibration_sec":${f"$hostCalib%.3f"},"host_calibration_end_sec":${f"$hostCalibEnd%.3f"},$verdictScalars"n_failed":${failedQueries.size},"artifact_cost_total":${f"${artifactCosts.values.sum}%.3f"},"min_total_sec":${f"$minTotal%.3f"},"metric":"first_pass_total","unit":"sec","value":${f"$firstTotal%.3f"}}""")
    // Compact FINAL line (r21 verdict #1): the full line above embeds two
    // 230-query maps (~12 KB), but the artifact reader keeps only a ~2 KB
    // tail of stdout, so that line's head — including its opening brace —
    // never survives and the parse has failed every round since the suite
    // passed ~70 queries. This last line carries the scalar summary and
    // the pointer to the complete per-query artifact ONLY (both per-query
    // maps live in BENCH_FULL.json, written above), so it always fits the
    // tail window whole. Additions-only: the full line keeps printing.
    println(
      s"""{"metric":"first_pass_total","unit":"sec","value":${f"$firstTotal%.3f"},""" +
        s""""min_total_sec":${f"$minTotal%.3f"},"n_queries":${results.size},""" +
        s""""n_failed":${failedQueries.size},"sf":"$sfDir","passes":$passes,""" +
        s""""host_calibration_sec":${f"$hostCalib%.3f"},""" +
        s""""host_calibration_end_sec":${f"$hostCalibEnd%.3f"},""" +
        s"""$verdictScalars"artifact_cost_total":${f"${artifactCosts.values.sum}%.3f"},""" +
        s""""full":"$fullOut"}""")
    spark.stop()
  }
}
