package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval at one layer boundary. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spark-side counters of one request, summed over its jobs' tasks. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
}

/** The traced run's recorder: spans the benchmark opens around its calls
  * into the engine, plus a `SparkListener` that attributes jobs, stages
  * and tasks to requests through their job group. Everything stays in
  * memory until [[finish]]. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  // listener-thread state; read only after BenchBus.drain
  private val jobReq = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageReq = mutable.Map[Int, (Long, Int)]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Int, Long, Long)]()
  private val stageSpans = mutable.ArrayBuffer[(Long, Int, Long, Long)]()
  val counters = mutable.Map[Long, Counters]()
  /** Time spent inside this listener's callbacks. */
  val listenerNanos = new java.util.concurrent.atomic.AtomicLong(0)
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNanos.addAndGet(System.nanoTime() - t0)
  }

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def nextId(): Long = ids.incrementAndGet()

  /** Times `f` as a span named `name` under `parent` within request `req`. */
  def span[T](name: String, req: Long, parent: Long, id: Long = nextId())(f: => T): T = {
    val t0 = now()
    try f finally spans.add(Span(id, parent, req, name, t0, now()))
  }

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(Tracer.requestOf(_)).foreach { req =>
        jobReq(e.jobId) = req
        jobStart(e.jobId) = e.time
        val c = counters.getOrElseUpdate(req, new Counters)
        c.jobs += 1
        e.stageIds.foreach(s => if (!stageReq.contains(s)) stageReq(s) = (req, e.jobId))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobReq.get(e.jobId).foreach(req =>
      jobSpans += ((req, e.jobId, jobStart(e.jobId), e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageReq.get(e.stageInfo.stageId).foreach { case (req, job) =>
      val c = counters.getOrElseUpdate(req, new Counters)
      c.stages += 1
      val s = e.stageInfo
      stageSpans += ((req, job, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(s.submissionTime.getOrElse(0L))))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stageReq.get(e.stageId).foreach { case (req, _) =>
      val c = counters.getOrElseUpdate(req, new Counters)
      c.tasks += 1
      stageSubmit.get(e.stageId).foreach(t => c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Drains the listener bus and returns every span: the benchmark's own,
    * then one per Spark job (under the benchmark span of its request that
    * contains the job's start) and one per stage (under its job). */
  def finish(): Seq[Span] = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(this)
    import scala.jdk.CollectionConverters._
    val own = spans.asScala.toSeq
    val byReq = own.filter(_.name != "request").groupBy(_.request)
    val jobIds = mutable.Map[Int, Long]()
    val jobs = jobSpans.toSeq.map { case (req, job, t0, t1) =>
      val parent = byReq.getOrElse(req, Nil)
        .find(s => s.start <= t0 && t0 <= s.end)
        .orElse(own.find(s => s.request == req && s.name == "request"))
        .map(_.id).getOrElse(0L)
      val id = nextId()
      jobIds(job) = id
      Span(id, parent, req, "spark.job", t0.toDouble, t1.toDouble)
    }
    val stages = stageSpans.toSeq.map { case (req, job, t0, t1) =>
      Span(nextId(), jobIds.getOrElse(job, 0L), req, "spark.stage", t0.toDouble, t1.toDouble)
    }
    own ++ jobs ++ stages
  }
}

object Tracer {
  val GroupPrefix = "graftbench-"
  def group(req: Long): String = s"$GroupPrefix$req"
  def requestOf(group: String): Option[Long] =
    if (group.startsWith(GroupPrefix)) group.stripPrefix(GroupPrefix).toLongOption else None

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }

  /** Self time per span name, in ms: each span's duration minus the part
    * of it its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)
      }.sum
    }
  }

  def toJson(s: Span): String =
    f"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
}
