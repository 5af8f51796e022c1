package graft.perfbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.MapType

import graft.queries._

/** The key workloads: which query keys they run, the session memos they
  * build first, and the full evaluation plus digest of one key. */
object Keys {
  type Q = (SparkSession, String) => DataFrame

  /** Query families per key workload, with their DuckDB oracle maps
    * (a key absent from the oracle map is a documented OMIT). */
  def families(workload: String): Seq[(Map[String, Q], Map[String, String])] = workload match {
    case "analytics-floor" => Seq(
      EventsQ.queries -> EventsQ.oracle, EthOps.queries -> EthOps.oracle,
      Relational.queries -> Relational.oracle, Joins.queries -> Joins.oracle,
      Aggs.queries -> Aggs.oracle, TpchExtra.queries -> TpchExtra.oracle,
      Windows.queries -> Windows.oracle, Subqueries.queries -> Subqueries.oracle,
      SetOps.queries -> SetOps.oracle, Scalars.queries -> Scalars.oracle,
      Reshape.queries -> Reshape.oracle)
    case "llm-pipeline" => Seq(
      TextSim.queries -> TextSim.oracle, LlmOps.queries -> LlmOps.oracle,
      Training.queries -> Training.oracle, MultimodalQ.queries -> MultimodalQ.oracle)
    case other => throw new IllegalArgumentException(s"not a key workload: $other")
  }

  def all(workload: String): Map[String, Q] = families(workload).map(_._1).reduce(_ ++ _)

  def oracled(workload: String): Set[String] =
    families(workload).flatMap(_._2.keys).toSet

  /** Session memos of the llm keys, named as in the warm list of
    * `graft.Bench`. Each builds once per SparkContext. */
  val memos: Map[String, (SparkSession, String) => Unit] = Map(
    "edge-pairs" -> ((s, d) =>
      for ((kind, tau) <- Seq(("bigram", 0.3), ("token", 0.7), ("token", 0.8), ("token", 0.95)))
        graft.operators.EdgeGraph.pairs(s, d, kind, tau).count()),
    "edge-labels" -> ((s, d) => {
      graft.operators.EdgeGraph.components(s, d, "bigram", 0.3).count()
      graft.operators.EdgeGraph.labelProp(s, d, "token", 0.8).count()
    }),
    "lsh-index" -> ((s, d) => {
      graft.operators.EdgeGraph.minhashSigs(s, d, 32).count()
      graft.operators.EdgeGraph.lshBands(s, d).count()
      graft.operators.EdgeGraph.tokenHashes(s, d).count()
    }),
    "term-index" -> ((s, d) => {
      graft.operators.EdgeGraph.termFreq(s, d).count()
      graft.operators.EdgeGraph.bigramScores(s, d).count()
    }),
    "eval-topk" -> ((s, d) => graft.queries.LlmOps.rankedTop10(s, d).count()),
    "bpe-merges" -> ((s, d) => { graft.queries.Training.learnedMerges(s, d); () }),
    "media" -> ((s, d) => {
      graft.multimodal.Multimodal.pngCorpus(s, d).count()
      graft.multimodal.Multimodal.imagePhash(s, d).count()
    }))

  /** Built at the start of every llm-pipeline pass: the memo its key
    * sample reads (q_hapax_ratio reads the term frequencies). */
  val passMemos: Seq[String] = Seq("term-index")

  /** The other memos (about 58 s together at sf0.1 on 4 cores) are too
    * heavy for a pass; the traced run builds them after the pass, one
    * span each. */
  val probeMemos: Seq[String] = Seq("edge-pairs", "edge-labels", "lsh-index", "eval-topk",
    "bpe-merges", "media")

  /** Evaluates every output column of `df`, in its output order, and
    * returns "rows:sum:mixsum:schema" — a multiset digest of the rows
    * (order-free, so equal-key ties may come back in any order) plus
    * the output schema. */
  def digest(df: DataFrame): String = {
    val n = df.schema.length
    val schema = df.schema.fields.map(f => f.name + " " + f.dataType.simpleString).mkString(",")
    val named = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => col(f.name).cast("string")
        case _ => col(f.name)
      }
    }
    val hashes = named.select(xxhash64(cols.toSeq: _*)).as(Encoders.scalaLong).collect()
    var sum = 0L
    var mixSum = 0L
    hashes.foreach { h => sum += h; mixSum += mix(h) }
    f"${hashes.length}%d:$sum%016x:$mixSum%016x:${mix(schema.hashCode.toLong)}%016x"
  }

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
