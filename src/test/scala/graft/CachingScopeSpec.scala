package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.ops.{Caching, SessionArtifacts}
import graft.pipelines.TrainingData

/** The cache lifecycle: registrations belong to the thread's
  * [[Caching.scope]] (and to the scope an inParallel pool was started
  * from), are released when it exits however it exits, and never leak
  * into or out of a concurrent caller's scope. Outside a scope a call is
  * its own scope: an eager checkpoint plus an immediate unpersist. */
class CachingScopeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  /** A composed build: a cached intermediate read by the result; the
    * answer is `n`. Distinct `n` give distinct plans, so two callers
    * never share a CacheManager entry. */
  private def build(n: Int): (DataFrame, DataFrame) = {
    val mid = spark.range(n).groupBy((col("id") % 3).as("k"))
      .agg(count(lit(1)).as("c")).cache()
    (Caching.materializeAndRelease(mid.agg(sum(col("c")).as("t")), mid), mid)
  }

  private def answer(df: DataFrame): Long = df.collect().head.getLong(0)

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** Runs `body` and asserts it left no persisted RDD behind. Operators'
    * internal checkpoints of frames no longer reachable (ConnectedComponents'
    * edge levels) are freed by Spark's ContextCleaner after a GC; a cache
    * entry is held by the CacheManager, so a GC never hides a leaked one. */
  private def noLeak[T](body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = body
    eventually(timeout(1.minute), interval(250.millis)) {
      System.gc()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
    }
    r
  }

  /** Runs each thunk on its own thread; results in input order. */
  private def onThreads[T](thunks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(thunks)(t => Future(t())), Duration(5, "min"))
    finally pool.shutdown()
  }

  private def await(b: CyclicBarrier): Unit = b.await(2, TimeUnit.MINUTES)

  test("two threads in their own scopes interleave builds and actions") {
    noLeak {
      val barrier = new CyclicBarrier(2)
      def client(n: Int): Long = Caching.scope {
        val (first, _) = build(n)
        await(barrier) // both built before either acts
        val a = answer(first)
        await(barrier) // both acted before either builds again
        val (second, _) = build(n + 1)
        await(barrier)
        a + answer(second)
      }
      assert(onThreads(Seq(() => client(10), () => client(20))) == Seq(21L, 41L))
    }
  }

  test("one thread's scope exit leaves the other's registrations cached") {
    for (first <- Seq(0, 1)) noLeak {
      val built = new CyclicBarrier(2)
      val exited = new CyclicBarrier(2)
      def client(i: Int): Long =
        if (i == first) {
          val a = Caching.scope { val a = answer(build(30 + i)._1); await(built); a }
          await(exited)
          a
        } else Caching.scope {
          val (r, mid) = build(30 + i)
          await(built)
          await(exited) // the other scope has released everything it held
          assert(cached(r) && cached(mid))
          answer(r)
        }
      assert(onThreads(Seq(() => client(0), () => client(1))) == Seq(30L, 31L))
    }
  }

  test("inParallel thunks register with the caller's scope") {
    noLeak {
      val built = Caching.scope {
        val rs = SessionArtifacts.inParallel(Seq(() => build(7), () => build(8)))
        // the scope path: lazily cached result, intermediate still held
        rs.foreach { case (r, mid) => assert(cached(r) && cached(mid)) }
        assert(rs.map(p => answer(p._1)) == Seq(7L, 8L))
        rs
      }
      built.foreach { case (r, mid) => assert(!cached(r) && !cached(mid)) }
    }
  }

  test("a scope that throws still releases its registrations") {
    noLeak {
      var held = Seq.empty[DataFrame]
      intercept[IllegalStateException] {
        Caching.scope {
          val (r, mid) = build(5)
          held = Seq(r, mid)
          assert(answer(r) == 5L)
          throw new IllegalStateException("stage failed")
        }
      }
      assert(held.nonEmpty && held.forall(!cached(_)))
    }
  }

  test("outside any scope a call returns a checkpoint with its intermediates released") {
    noLeak {
      val (r, mid) = build(9)
      val scan = r.queryExecution.logical
      assert(scan.isInstanceOf[LogicalRDD], scan.getClass.getName)
      assert(!cached(mid))
      assert(answer(r) == 9L)
      // checkpoint blocks belong to the returned frame (ContextCleaner
      // frees them once it is unreachable); freed here so the leak check
      // sees only what the lifecycle itself left
      scan.asInstanceOf[LogicalRDD].rdd.unpersist()
    }
  }

  test("concurrent TrainingData.run calls return the sequential summaries") {
    import spark.implicits._
    // exact clones (doc pairs share a text, texts share no word) so dedup
    // has work; two corpus sizes so the runs' plans differ
    def corpus(n: Long) = (0L until n).map(i =>
        (i, (0 until 40).map(j => s"t${i / 2}w$j").mkString(" "), s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val evalDocs = Seq((1000L, "held out eval sentence that matches nothing"))
      .toDF("doc_id", "text")
    val weights = Seq(("src0", 1L, "ff"), ("src1", 1L, "ff"))
      .toDF("source", "base_copies", "thr")
    val corpora = Seq(corpus(40), corpus(60))
    def run(i: Int): Seq[(String, Long)] = {
      val out = java.nio.file.Files.createTempDirectory("graft-scope-td").toString
      TrainingData.run(spark, corpora(i), evalDocs, weights, out,
          nShards = 2, pplGate = false)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    noLeak {
      val sequential = Seq(0, 1).map(run)
      val concurrent = onThreads(Seq(() => run(0), () => run(1)))
      assert(concurrent == sequential)
      val funnel = sequential.head.toMap
      assert(funnel("clean") == 20L, funnel) // one doc per clone pair
    }
  }
}
