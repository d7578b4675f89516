package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registered queries, grouped by the `ops` module that owns them. */
object Registry {
  type Q = (SparkSession, String) => DataFrame

  /** Each module's own public `queries` map: which module owns a query. */
  val modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.ops.Relational.queries,
    "SemiStructured" -> graft.ops.SemiStructured.queries,
    "TextOps" -> graft.ops.TextOps.queries,
    "Dedup" -> graft.ops.Dedup.queries,
    "Similarity" -> graft.ops.Similarity.queries,
    "Temporal" -> graft.ops.Temporal.queries,
    "Ml" -> graft.ops.Ml.queries,
    "Multimodal" -> graft.ops.Multimodal.queries,
    "Scoring" -> graft.ops.Scoring.queries,
    "Curation" -> graft.ops.Curation.queries,
    "CorpusReports" -> graft.ops.CorpusReports.queries,
    "sources.Bucketed" -> graft.sources.Bucketed.queries,
  ).map { case (m, qs) => m -> qs.keySet }

  /** Every query is called through the engine's entry point. */
  lazy val queries: Map[String, Q] = graft.SparkEntry.queries

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
}

/** One query's recorded answer. `check` is "hash" (rows and hash must
  * match) or "rows" (output not bit-stable, for the reason in `why`:
  * compare the row count only). The file's cold_s and warm_s columns are
  * recorded costs the panel was chosen by; the checks do not read them. */
final case class Expected(name: String, module: String, fp: Fp, check: String, why: String)

object Expected {
  val Header = "name\tmodule\tfingerprint\tcheck\tcold_s\twarm_s\twhy"

  def read(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().drop(1).filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      f(0) -> Expected(f(0), f(1), Fp.parse(f(2)), f(3), f(6))
    }.toMap
    finally src.close()
  }
}

/** Seeded orders over the query panel. */
object Sample {

  /** Fisher–Yates with an explicit generator. */
  def shuffle[T](xs: IndexedSeq[T], rng: java.util.SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** An endless seeded stream of rounds, each a fresh permutation of
    * `names`: every query recurs equally often, in seeded order. */
  def rounds(names: IndexedSeq[String], seed: Long): Iterator[IndexedSeq[String]] = {
    val rng = new java.util.SplittableRandom(seed)
    Iterator.continually(shuffle(names, rng))
  }
}
