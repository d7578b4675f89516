package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** One timed call into the engine: a query request or a pipeline run. */
final case class Outcome(name: String, req: Long, secs: Double, ok: Boolean,
    buildS: Double = 0, planS: Double = 0, exchanges: Int = 0,
    builtKinds: Int = 0, builtS: Double = 0,
    persistedAfter: Int = 0, storedBytesAfter: Long = 0, fp: Option[Fp] = None)

final case class Metric(name: String, value: Double, unit: String, n: Int)

final case class Opts(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
}

/** Calls into graft for the workloads. Thread-safe: the concurrent
  * workload shares one runner between its clients. */
final class Runner(val spark: SparkSession, dataDir: String,
    expected: Map[String, Expected], val tracer: Option[Tracer],
    queries: Map[String, Registry.Q] = Registry.queries) {
  private val reqIds = new AtomicLong(0)
  val failures = new ConcurrentLinkedQueue[String]()

  def nextReq(): Long = reqIds.incrementAndGet()

  /** Runs `f` as request `req`: its jobs carry the request's job group and,
    * when tracing, it is one `request` span. */
  def asRequest[T](req: Long)(f: Long => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.group(req), s"request $req", interruptOnCancel = false)
    try tracer match {
      case Some(t) => val id = t.nextId(); t.span("request", req, 0L, id)(f(id))
      case None => f(0L)
    } finally sc.clearJobGroup()
  }

  private def layer[T](name: String, req: Long, parent: Long)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer match {
      case Some(t) => t.span(name, req, parent)(f)
      case None => f
    }
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One query request: build the DataFrame (ops), plan it (plans), run
    * the plan once while fingerprinting its rows (exec), check the answer.
    * A throw or a mismatch is a failed request; the caller carries on. */
  def query(name: String): Outcome = {
    val req = nextReq()
    val before = graft.ops.SessionArtifacts.costs
    val t0 = System.nanoTime()
    val (res, planS, buildS, exch) = asRequest(req) { parent =>
      var buildS, planS = 0.0
      var exch = 0
      val r = try {
        val (df, b) = layer("ops.build", req, parent)(queries(name)(spark, dataDir))
        buildS = b
        planS = layer("plans.plan", req, parent)(df.queryExecution.executedPlan)._2
        val fp = layer("exec", req, parent)(Fingerprint.of(df))._1
        if (tracer.isDefined) exch = Main.exchanges(df.queryExecution.executedPlan)
        Right(fp)
      } catch { case NonFatal(e) => Left(s"$name threw: ${e.toString.take(300)}") }
      (r, planS, buildS, exch)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val after = graft.ops.SessionArtifacts.costs
    val changed = after.filter { case (k, v) => before.get(k).forall(_ != v) }
    val verdict = res.flatMap(fp => check(name, fp).toLeft(fp))
    verdict.left.foreach(failures.add)
    val (persisted, stored) =
      if (tracer.isEmpty) (0, 0L)
      else {
        val sc = spark.sparkContext
        (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      }
    Outcome(name, req, secs, verdict.isRight, buildS, planS, exch, changed.size,
      changed.map { case (k, v) => v - before.getOrElse(k, 0.0) }.sum,
      persisted, stored, res.toOption)
  }

  /** None when `fp` is the recorded answer; else why not. With no
    * expectations loaded (record mode) every answer passes. */
  def check(name: String, fp: Fp): Option[String] =
    if (expected.isEmpty) None
    else expected.get(name) match {
      case None => Some(s"$name: no recorded answer")
      case Some(e) if e.check == "hash" && e.fp != fp =>
        Some(s"$name: answer ${fp.show} != recorded ${e.fp.show}")
      case Some(e) if e.fp.rows != fp.rows =>
        Some(s"$name: ${fp.rows} rows != recorded ${e.fp.rows}")
      case _ => None
    }
}

object Main {
  val Workloads = Seq("query_session", "pipeline_export")
  /** The query panel, one per owning module: the query whose recorded
    * warm latency is nearest its module's lower quartile, among those whose
    * recorded fresh-session cold cost is at most 4 s. Light enough that
    * three warm rounds fit a run; fixed, so that every run's cold phase
    * holds the same builds. The seed orders the warm rounds. */
  val Panel: IndexedSeq[String] = IndexedSeq(
    "q72_percentiles", "q61_exif_zoned", "q73_token_budget", "q91_substr_dedup",
    "q203_label_distinct", "q46_tumbling_window", "q49_embed_docs", "q124_image_roundtrip",
    "q136_shard_mix", "q107_temp_mix", "q196_ctx_sweep", "q134_bucketed_join")

  /** Run untimed before the cold phase: it absorbs the fresh JVM's class
    * loading and JIT start, which would otherwise land on whichever panel
    * query the seed puts first. Not in the panel. */
  val WarmUp = "q03_group_count"

  /** Disjoint-vocabulary copies of `documents` in the pipeline corpus. */
  val Copies = 1

  def log(s: String): Unit = System.err.println(s"[graftbench] $s")

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    Opts(args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k"); k.drop(2) -> v
    }.toMap)
  }

  /** The session Verify builds: local[cores], one shuffle partition per
    * core, UTC, no UI. Spark's local dirs and warehouse stay inside the
    * run directory. No graft.* setting is made. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Exchanges in a physical plan, looking through adaptive stages and
    * into subqueries; a reused exchange is not counted again. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case a: AdaptiveSparkPlanExec => return exchanges(a.executedPlan)
      case q: QueryStageExec => return exchanges(q.plan)
      case _: ReusedExchangeExec => return 0
      case _: Exchange => 1
      case _ => 0
    }
    own + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o("mode") match {
      case "run" => run(o)
      case "record-queries" => Record.queries(o)
      case "record-pipelines" => Record.pipelines(o)
      case "record-cold" => Record.coldCosts(o)
      case "selftest" => SelfTest.main(o)
      case m => sys.error(s"unknown mode $m")
    }
  }

  def run(o: Opts): Unit = {
    val workload = o("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val work = o("work")
    val t0 = o("t0").toDouble // epoch ms at process start
    val spark = session(cores, work)
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val result = workload match {
      case "pipeline_export" =>
        val exp = PipelineExpected.read(s"${o("expected")}/pipelines.tsv")
        Workload.pipeline(spark, o("corpus"), work, seed, seconds, t0, exp, tracer)
      case _ =>
        val exp = Expected.read(s"${o("expected")}/queries.tsv")
        val unknown = (Main.WarmUp +: Main.Panel)
          .filterNot(q => exp.contains(q) && Registry.queries.contains(q))
        require(unknown.isEmpty, s"panel queries without a recorded answer: $unknown")
        Workload.session(new Runner(spark, o("data"), exp, tracer), Main.Panel, seed, seconds, t0)
    }
    val spans = tracer.map(_.finish()).getOrElse(Nil)
    val layers = tracer.map(t => Layers.metrics(result, t, spans, cores)).getOrElse(Nil)
    if (spans.nonEmpty)
      Files.write(Paths.get(s"$work/spans.jsonl"), spans.map(Tracer.toJson).asJava)
    val metrics = (if (trace) layers else result.e2e) :+ Metric("peak_rss_mb", peakRssMb(), "MB", 1)
    // reported, not gated: the cold median and the highest percentile of
    // the measured operations with at least ten samples beyond it
    val lat = result.ops.map(_.secs)
    val report = Metric("cold_p50_s", Stats.median(result.cold.map(_.secs)), "s", result.cold.size) +:
      Stats.tailPercentile(lat.size).filter(_ > 0.5).toSeq.map(p =>
        Metric(f"op_p${p * 100}%.0f_s", Stats.quantile(lat, p), "s", lat.size))
    val failed = result.failures
    failed.foreach(f => log(s"FAILED $f"))
    val json = Json.obj(Seq(
      "correct" -> (failed.isEmpty && result.attempted > 0).toString,
      "attempted" -> result.attempted.toString,
      "failed" -> failed.size.toString,
      "sample" -> result.sample.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit), "n" -> m.n.toString)))),
      "report" -> Json.obj(report.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit), "n" -> m.n.toString)))),
      "failures" -> failed.map(Json.str).mkString("[", ",", "]")))
    Files.writeString(Paths.get(o("out")), json)
    spark.stop()
  }
}

/** What one workload run measured. */
final case class RunResult(e2e: Seq[Metric], outcomes: Seq[Outcome], ops: Seq[Outcome],
    cold: Seq[Outcome], failures: Seq[String], attempted: Int, sample: Seq[String],
    measuredS: Double, funnel: Seq[(String, Long, Double)] = Nil,
    exportBytes: Long = 0, exportFiles: Long = 0)

object Workload {

  private def sinceMs(t0: Double): Double = (System.currentTimeMillis() - t0) / 1e3

  /** The end-to-end metrics every workload reports. `first` is the first
    * pass over the run's distinct operations in a fresh session; `ops` are
    * the measured operations, which ran for `opsWallS`. */
  private def e2e(setupS: Double, firstWallS: Double, ops: Seq[Outcome],
      opsWallS: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s", 1),
    Metric("cold_wall_s", firstWallS, "s", 1),
    Metric("op_p50_s", Stats.median(ops.map(_.secs)), "s", ops.size),
    Metric("ops_per_s", ops.size / opsWallS, "1/s", ops.size))

  /** One client, fresh session: an untimed warm-up query, then every
    * query of `sample` once in its fixed order (cold), then whole seeded
    * rounds over it (warm) until `seconds` have passed. The cold order is
    * not seeded: with seeded orders its wall time spread twice as wide
    * from run to run. */
  def session(r: Runner, sample: IndexedSeq[String], seed: Long, seconds: Double,
      t0: Double): RunResult = {
    r.query(Main.WarmUp)
    val setupS = sinceMs(t0)
    val c0 = System.nanoTime()
    val cold = sample.map(r.query)
    val coldS = (System.nanoTime() - c0) / 1e9
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    val rounds = Sample.rounds(sample, seed ^ 0xd4a3)
    val warmB = Seq.newBuilder[Outcome]
    while ({ warmB ++= rounds.next().map(r.query); elapsed < seconds }) ()
    val warmS = elapsed
    val warm = warmB.result()
    RunResult(e2e(setupS, coldS, warm, warmS), cold ++ warm, warm, cold,
      r.failures.asScala.toSeq, 1 + cold.size + warm.size, sample, coldS + warmS)
  }

  /** One client, fresh session, a scheduled batch job: generate the
    * seeded corpus (set-up), then TrainingData.run writing sharded
    * parquet, repeated while `seconds` last. */
  def pipeline(spark: SparkSession, corpusBase: String, work: String, seed: Long,
      seconds: Double, t0: Double, exp: Map[Int, PipelineExpected],
      tracer: Option[Tracer]): RunResult = {
    val base = spark.read.parquet(corpusBase)
    val (docs, evalDocs) = Corpus.materialize(spark, base, seed, Main.Copies, s"$work/input")
    val weights = Pipelines.weights(spark, docs)
    val variant = Corpus.variant(seed)
    val setupS = sinceMs(t0)
    val runner = new Runner(spark, "", Map.empty, tracer)
    val failures = Seq.newBuilder[String]
    val outs = Seq.newBuilder[Outcome]
    var funnel: Seq[(String, Long, Double)] = Nil
    var bytes, files = 0L
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    var pass = 0
    while (pass == 0 || elapsed < seconds) {
      val out = s"$work/export/training-$pass"
      val req = runner.nextReq()
      val c0 = System.nanoTime()
      val res = runner.asRequest(req) { parent =>
        try Right(tracer match {
          case Some(t) => t.span("exec", req, parent)(Pipelines.training(spark, docs, evalDocs, weights, out))
          case None => Pipelines.training(spark, docs, evalDocs, weights, out)
        })
        catch { case NonFatal(e) => Left(s"training threw: ${e.toString.take(300)}") }
      }
      val secs = (System.nanoTime() - c0) / 1e9
      val checked = res.flatMap { f =>
        val (fp, b, n) = Pipelines.export(spark, out)
        if (pass == 0) { funnel = f; bytes = b; files = n }
        exp.get(variant) match {
          case Some(e) => e.mismatch(f, fp).toLeft(f)
          case None => Left(s"training variant $variant: no recorded result")
        }
      }
      checked.left.foreach(failures += _)
      outs += Outcome("training", req, secs, checked.isRight)
      pass += 1
    }
    val os = outs.result()
    val measuredS = elapsed
    RunResult(e2e(setupS, os.head.secs, os, measuredS), os, os, os.take(1),
      failures.result(), os.size, Seq(s"variant-$variant"), measuredS, funnel, bytes, files)
  }
}

/** Calls into the training-data pipeline and reads back what it wrote. */
object Pipelines {
  /** Every source kept as-is: graft's default mixing config. */
  def weights(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    graft.pipelines.TrainingData.flatWeights(spark,
      docs.select("source").distinct().as[String].collect().sorted.toSeq)
  }

  /** Runs TrainingData.run and collects its funnel summary (stage, docs, secs). */
  def training(spark: SparkSession, docs: DataFrame, evalDocs: DataFrame,
      weights: DataFrame, out: String): Seq[(String, Long, Double)] =
    graft.pipelines.TrainingData.run(spark, docs, evalDocs, weights, out)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq

  /** (fingerprint of the exported rows, bytes, parquet files) of the live
    * export under `out`. */
  def export(spark: SparkSession, out: String): (Fp, Long, Long) = {
    val live = graft.sources.ShardExport.resolve(spark, out)
    val fp = Fingerprint.of(spark.read.parquet(live))
    val files = Files.walk(Paths.get(new java.net.URI(live).getPath)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
    (fp, files.map(f => Files.size(f)).sum, files.size.toLong)
  }
}

/** The recorded TrainingData.run result for one corpus variant. */
final case class PipelineExpected(variant: Int, funnel: String, export: Fp) {
  def mismatch(f: Seq[(String, Long, Double)], fp: Fp): Option[String] = {
    val got = PipelineExpected.funnelString(f)
    if (got != funnel) Some(s"training variant $variant: funnel $got != recorded $funnel")
    else if (fp != export) Some(s"training variant $variant: export ${fp.show} != recorded ${export.show}")
    else None
  }
}

object PipelineExpected {
  val Header = "variant\tfunnel\texport"

  def funnelString(f: Seq[(String, Long, Double)]): String =
    f.map { case (s, n, _) => s"$s=$n" }.mkString(",")

  def read(path: String): Map[Int, PipelineExpected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().drop(1).filter(_.nonEmpty).map(_.split("\t", -1)).map { r =>
      r(0).toInt -> PipelineExpected(r(0).toInt, r(1), Fp.parse(r(2)))
    }.toMap
    finally src.close()
  }
}
