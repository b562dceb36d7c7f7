package graft.pu

import org.apache.spark.ml.classification.{ProbabilisticClassificationModel, ProbabilisticClassifier}
import org.apache.spark.ml.feature.VectorIndexer
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Two-step PU learning skeleton: step one picks "reliable negatives" from
  * the unlabeled pool, step two trains a binary classifier on positives +
  * reliable negatives (reference:
  * src/main/scala/ru/ispras/pu4spark/TwoStepPULearner.scala:12-23).
  *
  * Scale changes vs the reference (SURVEY.md §4.3):
  *  - per-row logic is native expressions (see [[PUExpressions]]), no UDFs;
  *  - each labelling generation of the iterative loops costs exactly one
  *    Spark job (see [[IterationState]]): an eager `localCheckpoint` that
  *    truncates lineage and carries the iteration's counts as an `observe`,
  *    where the reference `cache()`s every iteration, never frees it (a
  *    memory leak at scale), lets the plan grow without bound, and runs 1–4
  *    separate `count()` passes per iteration;
  *  - a generation's checkpoint blocks are freed as soon as the next
  *    generation exists, so at most two generations hold storage at once.
  *
  * A generation lives only in its local checkpoint: an executor that loses
  * one of its blocks makes the next job over it fail loudly (Spark cannot
  * recompute a truncated lineage), never silently recompute or drop rows.
  */
abstract class TwoStepPULearner[
    E <: ProbabilisticClassifier[Vector, E, M],
    M <: ProbabilisticClassificationModel[Vector, M]](
    classifier: ProbabilisticClassifier[Vector, E, M]) extends PositiveUnlabeledLearner {

  import PUExpressions._

  /** Transient columns appended by `model.transform` that must be dropped
    * before the next fit/transform (name collisions) and before returning
    * (reference drops them piecemeal at TraditionalPULearner.scala:31-32,71).
    */
  protected val transientCols: Seq[String] =
    Seq("probability", "prediction", "rawPrediction", ProbabilisticClassifierConfig.labelName)

  /** Step zero: treat every unlabeled row as negative, fit, and score all
    * rows; the score is a reliability measure over the unlabeled pool
    * (reference: TwoStepPULearner.scala:40-60).
    *
    * The reference always runs VectorIndexer(maxCategories=4) before the fit
    * (TwoStepPULearner.scala:47-54) because RandomForest needs categorical
    * metadata. That is one extra full pass over the features; it is kept for
    * behavioral parity (it is the identity on continuous features).
    * A deliberately-skipped MinMaxScaler in the reference
    * (TwoStepPULearner.scala:43-45) is likewise not reproduced.
    */
  def zeroStep(df: DataFrame, labelColumnName: String, featuresColumnName: String,
               finalLabel: String): DataFrame = {
    val dfWithMeta =
      indexLabelColumn(df, labelColumnName, ProbabilisticClassifierConfig.labelName, Seq("0", "1"))
    val featureIndexer = new VectorIndexer()
      .setInputCol(featuresColumnName)
      .setOutputCol(ProbabilisticClassifierConfig.featuresName)
      .setMaxCategories(4) // >4 distinct values => treated as continuous
    val preparedDf = featureIndexer.fit(dfWithMeta).transform(dfWithMeta)

    val model: M = classifier.fit(preparedDf)
    val predictions = model.transform(preparedDf)
    predictions.withColumn(finalLabel, probOfPositive(col("probability")))
  }

  /** Fit on the currently-labeled subset and rescore ALL rows, overwriting
    * `finalLabel`; shared by both iterative learners (reference:
    * TraditionalPULearner.scala:56-71, GradualReductionPULearner.scala:54-66).
    */
  protected def refitAndRescore(curDF: DataFrame, curLabel: String,
                                finalLabel: String): DataFrame = {
    val labeled = curDF.filter(col(curLabel) =!= undefLabel)
    val prepared = indexLabelColumn(labeled, curLabel,
      ProbabilisticClassifierConfig.labelName, Seq("0", "1"))
    val model = classifier.fit(prepared)
    model.transform(curDF)
      .withColumn(finalLabel, probOfPositive(col("probability")))
      .drop(transientCols: _*)
  }

  /** Iteration-state manager: one Spark job per generation.
    *
    * [[advance]] attaches a named `observe` of the four
    * [[PUExpressions.iterMetricColumns]] sums to the new generation, runs an
    * eager `localCheckpoint` (the generation's only job) and reads the
    * metrics back from that execution's observed metrics — the
    * `Dedup.connectedComponentsWithStats` pattern. Not the `Observation`
    * helper: registering one poisons the session's ObservationManager into
    * every later closure that captures the SparkSession ("Task not
    * serializable" for unrelated queries, Spark 4.1.2).
    *
    * Every generation is a bare checkpoint leaf, so the superseded one is
    * referenced by nothing once the next exists and is freed right away.
    * The latest generation stays registered with
    * [[graft.CheckpointUtil.track]]: the learner's output is built on it,
    * and `releaseStragglers` frees it after the output is materialized.
    */
  protected class IterationState {
    private var current: Option[DataFrame] = None
    private var generation = 0

    /** Materialize `df` as the next generation; returns it with its
      * [[PUExpressions.IterMetrics]] over `prevLabel` → `curLabel`. */
    def advance(df: DataFrame, prevLabel: String,
                curLabel: String): (DataFrame, IterMetrics) = {
      generation += 1
      val name = s"graft_pu_generation_$generation"
      val metricCols = iterMetricColumns(prevLabel, curLabel)
      val observed = df.observe(name, metricCols.head, metricCols.tail: _*)
      val next = graft.CheckpointUtil.track(observed.localCheckpoint(eager = true))
      val metrics = iterMetricsOf(observed.queryExecution.observedMetrics(name))
      current.foreach(graft.CheckpointUtil.releaseCheckpoint)
      current = Some(next)
      (next, metrics)
    }
  }

  /** A fresh [[IterationState]] for one `weight()` call; overridable so a
    * subclass can instrument each generation. */
  protected def iterationState(): IterationState = new IterationState
}
