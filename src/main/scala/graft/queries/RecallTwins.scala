package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Embeddings

/** Serve/recall twins registered from one row each. A row names an
  * approximate serve and its recall gate, and holds the serve's Spark frame
  * and the oracle CTEs that define it. From that row come both registries'
  * entries: the recall's Spark side goes through the one recall operator of
  * its shape ([[Embeddings.knnRecallOf]] / [[Embeddings.pairRecallOf]]), and
  * its oracle through the one SELECT of that shape below. No recall SELECT
  * is written per query.
  */
private[queries] object RecallTwins {

  type Query = (SparkSession, String) => DataFrame

  /** The per-query recall SELECT: |approx ∩ exact| and k per query, over two
    * (query_id, neighbor_id) CTEs — the oracle of [[Embeddings.knnRecallOf]].
    */
  def knnRecallSql(exact: String, approx: String): String =
    s"""SELECT e.query_id, count(a.neighbor_id) AS hits, count(*) AS k
       |FROM $exact e
       |LEFT JOIN $approx a
       |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id""".stripMargin

  /** The pair recall SELECT: one (hits, total) row over two pair CTEs whose
    * columns are `<id>_a < <id>_b` — the oracle of [[Embeddings.pairRecallOf]].
    * With a sample modulus, `exact` is restricted to pairs with both
    * endpoints in the id-sample, which equals all-pairs over the sample
    * because the cosine predicate is per-pair — the oracle of
    * [[Embeddings.pairRecallOfSampled]], reusing the shared CTEs.
    */
  def pairRecallSql(exact: String, blocked: String, id: String,
                    sampleMod: Option[Int]): String = {
    val e = sampleMod.fold(exact)(m =>
      s"(SELECT * FROM $exact WHERE ${id}_a % $m = 0 AND ${id}_b % $m = 0)")
    s"""SELECT count(l.${id}_a) AS hits, count(*) AS total
       |FROM $e e
       |LEFT JOIN $blocked l ON l.${id}_a = e.${id}_a AND l.${id}_b = e.${id}_b""".stripMargin
  }

  /** A top-k serve and its per-query recall vs the exact top-k. `approx` is
    * the serve's (query_id, neighbor_id, rank) frame; `ctes` define `exact`
    * and the `approxCte` ranking the oracle replays.
    */
  final case class KnnTwin(serve: String, recall: String, ctes: String,
                           approxCte: String, approx: Query)

  def knnQueries(rows: Seq[KnnTwin], corpus: Query, queries: Query,
                 k: Int): Map[String, Query] =
    rows.flatMap { t =>
      Seq(t.serve -> t.approx,
        t.recall -> ((s: SparkSession, d: String) =>
          Embeddings.knnRecallOf(corpus(s, d), queries(s, d), k, t.approx(s, d))))
    }.toMap

  def knnOracle(rows: Seq[KnnTwin]): Map[String, String] =
    rows.flatMap { t =>
      Seq(t.serve -> (t.ctes + s"SELECT query_id, neighbor_id, rank FROM ${t.approxCte}"),
        t.recall -> (t.ctes + knnRecallSql("exact", t.approxCte)))
    }.toMap

  /** A near-dup serve and its pair recall vs exact all-pairs at `threshold`,
    * plus, when `sampled` names one, the recall with the exact baseline on
    * the 1/mod id-sample. `pairs` blocks and verifies a corpus into
    * (vec_a, vec_b); the serve reports them as `<id>_a, <id>_b`. `ctes`
    * define `exact_pairs` and the `blockedCte` pairs the oracle replays.
    */
  final case class PairTwin(serve: String, recall: String,
                            sampled: Option[(String, Int)], threshold: Double,
                            ctes: String, blockedCte: String, id: String,
                            corpus: Query, pairs: DataFrame => DataFrame)

  def pairQueries(rows: Seq[PairTwin]): Map[String, Query] =
    rows.flatMap { t =>
      val serve = (s: SparkSession, d: String) => {
        val p = t.pairs(t.corpus(s, d))
        if (t.id == "vec") p
        else p.select(col("vec_a").as(s"${t.id}_a"), col("vec_b").as(s"${t.id}_b"))
      }
      val recall = (s: SparkSession, d: String) => {
        val v = t.corpus(s, d)
        Embeddings.pairRecallOf(Embeddings.cosineNearDupPairs(v, t.threshold), t.pairs(v))
      }
      Seq(t.serve -> serve, t.recall -> recall) ++ t.sampled.map { case (name, mod) =>
        name -> ((s: SparkSession, d: String) => {
          val v = t.corpus(s, d)
          Embeddings.pairRecallOfSampled(v, t.threshold, mod, t.pairs(v))
        })
      }
    }.toMap

  def pairOracle(rows: Seq[PairTwin]): Map[String, String] =
    rows.flatMap { t =>
      Seq(t.serve -> (t.ctes + s"SELECT ${t.id}_a, ${t.id}_b FROM ${t.blockedCte}"),
        t.recall -> (t.ctes + pairRecallSql("exact_pairs", t.blockedCte, t.id, None))) ++
        t.sampled.map { case (name, mod) =>
          name -> (t.ctes + pairRecallSql("exact_pairs", t.blockedCte, t.id, Some(mod)))
        }
    }.toMap
}
