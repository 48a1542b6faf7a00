package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry

/** The `query_mix` workload: a fixed list of inventory queries on the
  * read-only tables named in `queries.json`, each timed on the built-in
  * `noop` sink so every column is produced. The seed fixes the order of
  * the timed passes. */
object QueryMix {
  /** One cheap query per `graft.queries` module, then the heavy ones
    * that fit the run budget. */
  val light: Seq[String] = Seq(
    "q_topk_per_group", "q_dedup_exact", "q_ann_brute", "q_text_stats",
    "q_pack_sequences", "q_quality_gopher", "q_graph_assort", "q_mm_meta",
    "q_stream_hourly", "q_imaging_digest", "q_events_funnel", "q_sql_cte")
  val heavy: Seq[String] = Seq("q_dedup_prefixjoin")
  val names: Seq[String] = light ++ heavy

  private val modules: Seq[(String, Iterable[String])] = {
    import graft.{queries => q}
    Seq("Relational" -> q.Relational.queries.keys, "Dedup" -> q.Dedup.queries.keys,
      "Similarity" -> q.Similarity.queries.keys, "TextAnalysis" -> q.TextAnalysis.queries.keys,
      "Pipeline" -> q.Pipeline.queries.keys, "Curation" -> q.Curation.queries.keys,
      "Graph" -> q.Graph.queries.keys, "Multimodal" -> q.Multimodal.queries.keys,
      "Streaming" -> q.Streaming.queries.keys, "Imaging" -> q.Imaging.queries.keys,
      "Events" -> q.Events.queries.keys, "Sql" -> q.Sql.queries.keys)
  }
  /** `~/testdata/<sf_dir>`, with `sf_dir` from `queries.json`, so the
    * tables are always the ones its expected digests were made on. */
  val sfDir: String = {
    val src = scala.io.Source.fromResource("queries.json")
    val name = try JsonMethods.parse(src.mkString) \ "sf_dir" match {
      case JString(n) => n
      case other => sys.error(s"queries.json: sf_dir is $other")
    } finally src.close()
    Paths.get(System.getProperty("user.home"), "testdata", name).toString
  }

  val moduleNames: Seq[String] = modules.map(_._1)
  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, ks) => ks.map(_ -> m) }.toMap
}

final class QueryMix(spark: SparkSession, seed: Long) {
  import QueryMix.sfDir
  val order: Seq[String] = new scala.util.Random(seed).shuffle(QueryMix.names)

  /** The query call and the noop write, each in its own span. */
  def run(name: String, t: Tracer): Unit = t.span(s"query:$name") {
    val df = t.span("build") { SparkEntry.queries(name)(spark, sfDir) }
    t.span("exec") { df.write.format("noop").mode("overwrite").save() }
  }

  /** The result as parquet, for the digest check `run.py` makes. */
  def dump(name: String, dir: Path): Unit =
    SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite")
      .parquet(dir.resolve(name).toString)

}
