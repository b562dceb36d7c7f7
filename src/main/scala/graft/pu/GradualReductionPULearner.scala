package graft.pu

import org.apache.spark.ml.classification.{ProbabilisticClassificationModel, ProbabilisticClassifier}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** PU-LEA / gradual-reduction PU learning (Fusilier et al., IP&M 51(4),
  * 2015): after the initial thresholding, each iteration may *promote*
  * previously-reliable negatives back to undefined when the refit model
  * scores them ≥ threshold, gradually shrinking the reliable-negative set
  * (reference:
  * src/main/scala/ru/ispras/pu4spark/GradualReductionPULearner.scala:9-86).
  *
  * The three-term convergence predicate is preserved exactly (reference :84):
  * `curGain > 0 && curGain < prevGain && totalPosCount < totalRelNegCount`
  * with `curGain = prevNewRelNegCount - totalRelNegCount` and `prevGain`
  * seeded with Long.MaxValue (reference :51).
  *
  * The reference runs 4 separate `count()` actions per iteration
  * (reference :41-49, :74-79) — here they ride the generation's one
  * checkpoint job (`IterationState.advance`).
  */
class GradualReductionPULearner[
    E <: ProbabilisticClassifier[Vector, E, M],
    M <: ProbabilisticClassificationModel[Vector, M]](
    relNegThreshold: Double,
    classifier: ProbabilisticClassifier[Vector, E, M])
  extends TwoStepPULearner[E, M](classifier) {

  import PUExpressions._

  override def weight(df: DataFrame, labelColumnName: String,
                      featuresColumnName: String, finalLabel: String): DataFrame = {
    val oneStepPUDF = zeroStep(df, labelColumnName, featuresColumnName, finalLabel)
      .drop(transientCols: _*)

    val prevLabel = "prevLabel"
    val curLabel = "curLabel"
    val state = iterationState()

    // entry thresholding considers undefined rows (reference :35-40)
    val (entryGeneration, entry) = state.advance(
      replaceZerosByUndefLabel(oneStepPUDF, labelColumnName, prevLabel, undefLabel)
        .withColumn(curLabel,
          binarize(col(finalLabel), col(prevLabel), relNegThreshold, undefLabel)),
      prevLabel, curLabel)
    var curDF = entryGeneration
    var newRelNegCount = entry.newRelNeg
    val totalPosCount = entry.totalPos

    var prevGain = Long.MaxValue
    var curGain = newRelNegCount
    var totalRelNegCount = entry.totalRelNeg

    // DEGENERATE-ENTRY GUARD (robustness beyond the reference, which
    // would crash inside the classifier with an empty/one-class training
    // set): if entry thresholding yields NO reliable negatives — every
    // unlabeled row scored >= threshold — or the frame has no positives,
    // a real estimator has nothing to refit on; PU-LEA degenerates to the
    // zero-step weighting. On any non-degenerate input this branch never
    // fires and the reference loop runs unchanged. (Mid-loop the
    // while-condition `totalPosCount < totalRelNegCount` already exits
    // before a refit could see an emptied negative set.) A
    // [[DegenerateFitSafe]] classifier (the deterministic stub) is exempt:
    // its train() is total, and the hash-exact stub twins define the loop
    // THROUGH the degenerate entry.
    if ((totalRelNegCount == 0L || totalPosCount == 0L) &&
        !classifier.isInstanceOf[DegenerateFitSafe])
      return curDF.drop(ProbabilisticClassifierConfig.featuresName)

    do {
      // refit on positives + current reliable negatives, rescore all (reference :56-66)
      curDF = refitAndRescore(curDF, curLabel, finalLabel)
      curDF = curDF.drop(prevLabel).withColumnRenamed(curLabel, prevLabel)

      // inner re-thresholding of RELIABLE NEGATIVES: the ones now scoring
      // >= threshold are promoted back to undefined (reference :70-71)
      val (generation, m) = state.advance(
        curDF.withColumn(curLabel,
          binarize(col(finalLabel), col(prevLabel), relNegThreshold, relNegLabel)),
        prevLabel, curLabel)
      curDF = generation
      val prevNewRelNegCount = newRelNegCount
      // in-loop, "new" and "total" reliable negatives coincide (reference
      // :74-79 computes the same filter twice; one fused pass here)
      newRelNegCount = m.totalRelNeg
      totalRelNegCount = m.totalRelNeg
      prevGain = curGain
      curGain = prevNewRelNegCount - totalRelNegCount
    } while (curGain > 0 && curGain < prevGain && totalPosCount < totalRelNegCount)
    curDF.drop(ProbabilisticClassifierConfig.featuresName)
  }
}

object GradualReductionPULearner {
  val relNegLabel: Int = PUExpressions.relNegLabel
  val posLabel: Int = PUExpressions.posLabel
  val undefLabel: Int = PUExpressions.undefLabel
}

/** No default for classifierConfig — matches the reference
  * (GradualReductionPULearner.scala:109-110).
  */
case class GradualReductionPULearnerConfig(relNegThreshold: Double = 0.5,
                                           classifierConfig: ProbabilisticClassifierConfig)
  extends PositiveUnlabeledLearnerConfig {
  override def build(): PositiveUnlabeledLearner = classifierConfig match {
    case lrc: LogisticRegressionConfig =>
      new GradualReductionPULearner(relNegThreshold, lrc.build())
    case rfc: RandomForestConfig =>
      new GradualReductionPULearner(relNegThreshold, rfc.build())
  }
}
