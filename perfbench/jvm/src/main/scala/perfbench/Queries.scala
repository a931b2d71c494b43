package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The oracle-checked queries the query workloads run, by module. */
object Queries {
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> Relational.queries,
    "GraphQueries" -> GraphQueries.queries,
    "PipelineQueries" -> PipelineQueries.queries,
    "PipelineDedupQueries" -> PipelineDedupQueries.queries,
    "PipelineSimilarityQueries" -> PipelineSimilarityQueries.queries,
    "IoQueries" -> IoQueries.queries)

  /** A mix touching all six modules: relational plans that share the
    * lineitem-graph memo (q06, q09), triangle counting with its session
    * memo (q156), jaccard pairs with theirs (q26), text curation a
    * `count()` would prune (q60), exact ANN top-k (q29), the
    * index-manifest write path (q217) and a reader (q128). */
  val mix: Seq[String] = Seq(
    "q06_union_distinct", "q09_degrees", "q156_transitivity", "q26_jaccard_pairs",
    "q60_char_entropy", "q29_ann_topk", "q217_delta_manifest", "q128_read_snap")

  /** A fresh session's passes over the mix: the cold pass builds the
    * session memos, the warm pass hits them. */
  val passes: Seq[String] = Seq("cold", "warm")

  def moduleOf(q: String): String =
    modules.find(_._2.contains(q)).map(_._1)
      .getOrElse(sys.error(s"unknown query $q"))

  def fn(q: String): (SparkSession, String) => DataFrame =
    modules.map(_._2).find(_.contains(q)).map(_(q))
      .getOrElse(sys.error(s"unknown query $q"))
}
