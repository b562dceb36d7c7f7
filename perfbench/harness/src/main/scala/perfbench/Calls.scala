package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.pu._

/** One call of a pass: a public entry point of the library, invoked the way
  * a user would invoke it. `layer` names the module the build phase runs in
  * (`pu` for a `weight()` loop, `operators` for a query function), `tables`
  * the input tables the call consumes (for rows/s), and `twin` whether
  * `SparkEntry.oracleSql` holds a DuckDB twin for its output (otherwise the
  * output is checked as PU scores). */
final case class Call(name: String, layer: String, tables: Seq[String], twin: Boolean,
                      run: SparkSession => DataFrame)

object Calls {

  /** The calls of one pass of `workload`, over the generated tables in `dir`.
    * `posClass` is the seeded PU positive class (pu only). */
  def of(workload: String, dir: String, posClass: Int): Seq[Call] = workload match {
    case "pu" =>
      def emb(s: SparkSession) =
        PU.puEmbeddings(s, dir, posClass).select("vec_id", "puLabel", "features")
      def scored(l: PositiveUnlabeledLearner, in: DataFrame, id: String) =
        l.weight(in, "puLabel", "features", "score").select(id, "score")
      Seq(
        Call("pu_traditional_lr", "pu", Seq("embeddings"), twin = false, s => scored(
          TraditionalPULearnerConfig(0.5, 3, LogisticRegressionConfig(maxIter = 5)).build(), emb(s), "vec_id")),
        Call("pu_gradreduction_lr", "pu", Seq("embeddings"), twin = false, s => scored(
          GradualReductionPULearnerConfig(0.5, LogisticRegressionConfig(maxIter = 5)).build(), emb(s), "vec_id")),
        Call("pu_traditional_rf", "pu", Seq("embeddings"), twin = false, s => scored(
          TraditionalPULearnerConfig(0.5, 1, RandomForestConfig(numTrees = 8)).build(),
          emb(s), "vec_id")),
        Call("pu_text_lr", "pu", Seq("documents"), twin = false, s => scored(
          TraditionalPULearnerConfig(0.5, 1, LogisticRegressionConfig(maxIter = 5)).build(),
          PU.puDocuments(s, dir).select("doc_id", "puLabel", "features"), "doc_id")),
        entry("pu_traditional_stub", "pu", "embeddings", dir),
        entry("pu_gradreduction_stub", "pu", "embeddings", dir))
    case "curate" =>
      Seq("pipeline_e2e_curate", "pipeline_e2e_curate_pulea", "pipeline_e2e_full",
        "dedup_clusters", "dedup_canonical").map(entry(_, "operators", "documents", dir))
    case "retrieve" =>
      // build (index writes through graft.sources.Layouts), then query
      Seq("src_ivfpq_append", "src_ivf_compact",
        "sim_topk_ivfpq", "sim_join_pq_salted", "sim_topk_brute")
        .map(entry(_, "operators", "embeddings", dir))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def entry(name: String, layer: String, table: String, dir: String): Call = {
    val fn = SparkEntry.queries(name)
    Call(name, layer, Seq(table), SparkEntry.oracleSql.contains(name), s => fn(s, dir))
  }
}
