package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests. Each prints `ok <name>` or throws. */
object SelfTest {
  private def ok(name: String): Unit = println(s"ok $name")

  def main(o: Opts): Unit = {
    stats()
    draws()
    val spark = Main.session(2, o("work"))
    try {
      fingerprint(spark)
      corpus(spark, o("corpus"))
      plantedFailure(spark)
    } finally spark.stop()
    println("selftest passed")
  }

  def stats(): Unit = {
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(5.0), 0.9) == 5.0)
    assert(Stats.quantile((1 to 101).map(_.toDouble), 0.9) == 91.0)
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(40).contains(0.75))
    assert(Stats.tailPercentile(99).contains(0.75))
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Tracer.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)), 0.5, 10.0) == 4.5)
    val spans = Seq(Span(1, 0, 1, "request", 0, 10), Span(2, 1, 1, "exec", 1, 9),
      Span(3, 2, 1, "spark.job", 2, 5), Span(4, 2, 1, "spark.job", 4, 6))
    assert(Tracer.selfTimes(spans) == Map("request" -> 2.0, "exec" -> 4.0, "spark.job" -> 5.0))
    ok("percentile, sample-count and self-time reporting")
  }

  def draws(): Unit = {
    val a = Main.Panel
    assert(a.map(Registry.moduleOf).toSet == Registry.modules.map(_._1).toSet && a.size == 12,
      "the panel holds one query of every module")
    val d1 = Sample.rounds(a.toIndexedSeq, 3L).take(10).toSeq
    assert(d1 == Sample.rounds(a.toIndexedSeq, 3L).take(10).toSeq, "same seed, same draws")
    assert(d1 != Sample.rounds(a.toIndexedSeq, 4L).take(10).toSeq, "another seed, other draws")
    assert(d1.forall(_.sorted == a.sorted), "every round holds the whole sample")
    ok("same seed gives the same draw sequence")
  }

  def fingerprint(spark: SparkSession): Unit = {
    import spark.implicits._
    val df = Seq((1L, "a", 0.1 + 0.2, Seq(1.5, 2.5), Map("k" -> 1)),
      (2L, "b", 3.0, Seq(), Map("x" -> 2, "y" -> 3)), (2L, "b", 3.0, Seq(), Map("y" -> 3, "x" -> 2)),
      (3L, null, Double.NaN, null, null))
      .toDF("id", "s", "d", "arr", "m")
    val fp = Fingerprint.of(df)
    assert(fp.rows == 4)
    assert(Fingerprint.of(df.orderBy(desc("id"))) == fp, "row order is ignored")
    assert(Fingerprint.of(df.repartition(3)) == fp, "partitioning is ignored")
    assert(Fingerprint.of(df.withColumn("d", col("d") + 1e-14)) == fp,
      "floating-point noise below the rounding is ignored")
    assert(Fingerprint.of(df.withColumn("s", when(col("id") === 3, "c").otherwise(col("s")))) != fp,
      "one changed value changes the fingerprint")
    assert(Fingerprint.of(df.withColumn("d", when(col("id") === 1, 0.31).otherwise(col("d")))) != fp,
      "one changed double changes the fingerprint")
    assert(Fingerprint.of(df.limit(3)).rows == 3)
    ok("fingerprint ignores row order and sees one changed value")
  }

  def corpus(spark: SparkSession, base: String): Unit = {
    val docs = spark.read.parquet(base).limit(300)
    def fp(seed: Long) = { val (d, e) = Corpus.build(docs, seed, 2); (Fingerprint.of(d), Fingerprint.of(e)) }
    val a = fp(5L)
    assert(a == fp(5L), "same seed, same corpus")
    assert(a != fp(6L), "another seed, another corpus")
    val (d, _) = Corpus.build(docs, 5L, 2)
    assert(d.select("doc_id").distinct().count() == d.count(), "doc ids are unique")
    ok("same seed gives the same corpus")
  }

  def plantedFailure(spark: SparkSession): Unit = {
    val good: Registry.Q = (s, _) => s.range(5).toDF("id")
    val bad: Registry.Q = (_, _) => throw new IllegalStateException("planted failure")
    val queries = Map("good" -> good, "bad" -> bad, Main.WarmUp -> good)
    val goodFp = Fingerprint.of(spark.range(5).toDF("id"))
    val exp = Seq(Expected("good", "A", goodFp, "hash", ""), Expected("bad", "B", goodFp, "hash", ""),
      Expected(Main.WarmUp, "A", goodFp, "hash", "")).map(e => e.name -> e).toMap
    val runner = new Runner(spark, "", exp, None, queries)
    val r = Workload.session(runner, IndexedSeq("good", "bad"), 1L, 0.2,
      System.currentTimeMillis().toDouble)
    assert(r.attempted >= 5 && r.ops.size >= 2, s"the run went on: ${r.attempted}")
    assert(r.failures.nonEmpty && r.failures.forall(_.startsWith("bad threw")), r.failures.take(3))
    assert(r.failures.size == r.outcomes.count(_.name == "bad"))
    assert(r.outcomes.filter(_.name == "good").forall(_.ok))
    ok("a planted throwing query counts as failed while the run completes")
  }
}
