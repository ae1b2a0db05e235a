package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryGroup, SparkEntry, Tables}
import graft.api.GraftOps

/** One unit of closed-loop work: a named DataFrame construction,
  * attributed to the module that declares it. */
final case class Job(name: String, module: String, oracled: Boolean,
                     build: (SparkSession, String) => DataFrame)

object Workloads {
  /** The declaring groups, in SparkEntry's order, by module name. */
  val groups: Seq[(String, QueryGroup)] = Seq(
    "Scans" -> graft.operators.Scans,
    "Filters" -> graft.operators.Filters,
    "Joins" -> graft.operators.Joins,
    "Aggregates" -> graft.operators.Aggregates,
    "Windows" -> graft.operators.Windows,
    "SortsSets" -> graft.operators.SortsSets,
    "ScalarFns" -> graft.functions.ScalarFns,
    "LlmText" -> graft.operators.LlmText,
    "LlmVector" -> graft.operators.LlmVector,
    "EventsBatch" -> graft.operators.EventsBatch,
    "Graph" -> graft.operators.Graph,
    "SqlSurface" -> graft.operators.SqlSurface,
    "Pipeline" -> graft.operators.Pipeline,
    "Sampling" -> graft.operators.Sampling,
    "Curation" -> graft.operators.Curation,
    "Udx" -> graft.functions.Udx,
  )

  /** The modules the per-layer metrics are reported for. */
  val modules: Seq[String] = Seq("LlmText", "LlmVector", "Curation",
    "Pipeline", "SqlSurface", "Joins", "Aggregates", "Windows", "Scans")

  /** Query key -> declaring module, through each group's public
    * `queries`. Fails unless every SparkEntry key is declared by
    * exactly one group and every group key is a SparkEntry key. */
  lazy val moduleOf: Map[String, String] = {
    val pairs = for ((m, g) <- groups; (q, _) <- g.queries) yield q -> m
    val twice = pairs.groupBy(_._1).collect { case (q, ms) if ms.size > 1 => q }
    require(twice.isEmpty, s"queries declared by more than one group: ${twice.toSeq.sorted}")
    val keys = SparkEntry.queries.keySet
    val declared = pairs.map(_._1).toSet
    require(declared == keys,
      s"group/SparkEntry mismatch: unattributed ${(keys -- declared).toSeq.sorted}, " +
      s"unknown ${(declared -- keys).toSeq.sorted}")
    pairs.toMap
  }

  /** The product's core path: the near-dup artifact and session memo,
    * the fused text and vector kernels, the pipeline composition, and a
    * direct GraftOps call (knnCosine, the library twin of sim_knn_batch
    * that still uses the interpreted cosine). */
  val curate: Seq[String] = Seq(
    "dedup_near_minhash", "embed_binarize", "pipeline_e2e", "sim_knn_batch",
    "text_blocklist")

  /** The shuffle/join/planning path plus the sink I/O path: no kernels
    * and almost no checkpoints. */
  val analytics: Seq[String] = Seq(
    "agg_rollup", "join_star", "sink_partitioned", "sql_q5", "win_rank")

  private def queryJob(q: String): Job = {
    val fn = SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"workload names unknown query '$q'"))
    Job(q, moduleOf(q), SparkEntry.oracleSql.contains(q), fn)
  }

  /** The jobs of one workload, in name order. Any name that does not
    * resolve aborts the run instead of shrinking the workload. */
  def jobs(workload: String): Seq[Job] = workload match {
    case "curate"    => (curate.map(queryJob) ++ Library.jobs).sortBy(_.name)
    case "analytics" => analytics.sorted.map(queryJob)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Direct GraftOps calls over the fixture tables, bound the way the
  * library's equality specs bind them to their declared twins. */
object Library {
  private val bindings: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    ("knnCosine", (s, d) => {
      val e = Tables.embeddings(s, d)
      GraftOps.knnCosine(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10L), col("vec_id"), col("embedding"),
        k = 5, excludeSelf = true)
    }),
  )

  /** One job per binding, named after the GraftOps function it
    * measures, which must be public on GraftOps or the run aborts. */
  lazy val jobs: Seq[Job] = {
    val public = GraftOps.getClass.getMethods.map(_.getName).toSet
    bindings.map { case (fn, build) =>
      require(public(fn), s"library binding names unknown GraftOps function '$fn'")
      Job(s"GraftOps.$fn", "GraftOps", oracled = false, build)
    }
  }
}
