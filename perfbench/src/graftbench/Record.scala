package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Records the expected answers the benchmark checks against. Run on the
  * commit whose answers are taken as correct (see perfbench/README.md). */
object Record {
  import Main.log

  /** Every registered query, three times in one session: a cold pass, a
    * warm pass and a pass on `cores` threads. A query whose fingerprint
    * differs between passes, or from the `previous` recording, is checked
    * on its row count only. */
  def queries(o: Opts): Unit = {
    val cores = o("cores").toInt
    val spark = Main.session(cores, o("work"))
    val runner = new Runner(spark, o("data"), Map.empty, None)
    val names = Registry.queries.keys.toSeq.sorted
    val unowned = names.filterNot(Registry.moduleOf.contains)
    require(unowned.isEmpty, s"queries with no owning module: $unowned")
    def pass(label: String) = names.map { n =>
      val r = runner.query(n)
      log(f"$label $n ${r.secs}%.3f ${r.fp.map(_.show).getOrElse("FAILED")}")
      n -> r
    }.toMap
    val cold = pass("cold")
    val warm = pass("warm")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val conc = new ConcurrentLinkedQueue[(String, Outcome)]()
    names.map(n => pool.submit(new Runnable {
      def run(): Unit = conc.add(n -> runner.query(n))
    })).foreach(_.get())
    pool.shutdown()
    val concurrent = conc.asScala.toMap
    val previous = o.get("previous").filter(p => Files.exists(Paths.get(p)))
      .map(Expected.read).getOrElse(Map.empty)
    val lines = names.map { n =>
      val fps = Seq(cold(n).fp, warm(n).fp, concurrent(n).fp) ++ previous.get(n).map(e => Some(e.fp))
      val first = fps.head.getOrElse(sys.error(s"$n failed while recording"))
      require(fps.forall(_.exists(_.rows == first.rows)), s"$n: row count differs between passes: $fps")
      val prevWhy = previous.get(n).filter(_.check == "rows").map(_.why)
      val (check, why) =
        if (prevWhy.isDefined) ("rows", prevWhy.get)
        else if (fps.distinct.size == 1) ("hash", "")
        else ("rows", "fingerprint differs between runs: " + fps.flatten.map(_.show).distinct.mkString(" "))
      Seq(n, Registry.moduleOf(n), first.show, check, f"${cold(n).secs}%.3f",
        f"${warm(n).secs}%.3f", why).mkString("\t")
    }
    Files.write(Paths.get(o("out")), (Expected.Header +: lines).asJava)
    spark.stop()
  }

  /** Cold cost in a fresh session: the `batch`-th of `of` strided slices
    * of the sorted queries, each run once after an untimed warm-up;
    * appends `name<TAB>secs` lines to `out`. A slice is about the size of a run's sample, so the costs
    * include the builds a sample's queries pay for one another. */
  def coldCosts(o: Opts): Unit = {
    val (batch, of) = (o("batch").toInt, o("of").toInt)
    val spark = Main.session(o("cores").toInt, o("work"))
    val runner = new Runner(spark, o("data"), Map.empty, None)
    // untimed: the session's own warm-up is not any one query's cost
    runner.query(Main.WarmUp)
    val names = Registry.queries.keys.toSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % of == batch => n }
    val lines = names.map { n => val r = runner.query(n); log(f"fresh $n ${r.secs}%.3f"); f"$n\t${r.secs}%.3f" }
    Files.write(Paths.get(o("out")), lines.asJava,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }

  /** TrainingData.run on every corpus variant; variant 0 twice, to
    * confirm the recorded result repeats. */
  def pipelines(o: Opts): Unit = {
    val work = o("work")
    val spark = Main.session(o("cores").toInt, work)
    val base = spark.read.parquet(o("corpus"))
    val rows = (0 until Corpus.Variants).map { v =>
      val (docs, evalDocs) = Corpus.materialize(spark, base, v, Main.Copies, s"$work/input-$v")
      val weights = Pipelines.weights(spark, docs)
      val results = (0 until (if (v == 0) 2 else 1)).map { i =>
        val out = s"$work/export/training-$v-$i"
        val t0 = System.nanoTime()
        val funnel = PipelineExpected.funnelString(Pipelines.training(spark, docs, evalDocs, weights, out))
        val fp = Pipelines.export(spark, out)._1
        log(f"training variant $v: ${(System.nanoTime() - t0) / 1e9}%.1f s $funnel ${fp.show}")
        (funnel, fp)
      }
      require(results.distinct.size == 1, s"variant $v does not repeat: $results")
      Seq(v.toString, results.head._1, results.head._2.show).mkString("\t")
    }
    Files.write(Paths.get(o("out")), (PipelineExpected.Header +: rows).asJava)
    spark.stop()
  }
}
