package graft.pu

import org.apache.spark.ml.classification.{ProbabilisticClassificationModel, ProbabilisticClassifier}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Original PU learning algorithm (Liu et al., ICML 2002; pseudocode per
  * Fusilier et al., IP&M 51(4), 2015) — iteratively converts confidently-low-
  * scored unlabeled rows into reliable negatives and refits
  * (reference: src/main/scala/ru/ispras/pu4spark/TraditionalPULearner.scala:9-76).
  *
  * Control flow lives on the driver (ML iteration, not tuple-at-a-time);
  * data stays distributed. Per iteration: one checkpoint job that also
  * yields the iteration's counts (`IterationState.advance` — the reference
  * runs a separate `count()`) + one fit + one transform.
  */
class TraditionalPULearner[
    E <: ProbabilisticClassifier[Vector, E, M],
    M <: ProbabilisticClassificationModel[Vector, M]](
    relNegThreshold: Double,
    maxIters: Int,
    classifier: ProbabilisticClassifier[Vector, E, M])
  extends TwoStepPULearner[E, M](classifier) {

  import PUExpressions._

  override def weight(df: DataFrame, labelColumnName: String,
                      featuresColumnName: String, finalLabel: String): DataFrame = {
    val oneStepPUDF = zeroStep(df, labelColumnName, featuresColumnName, finalLabel)
      .drop(transientCols: _*)

    val prevLabel = "prevLabel"
    val curLabel = "curLabel"

    // 0 -> undefined(-1), 1 stays positive (reference :40)
    var curDF = replaceZerosByUndefLabel(oneStepPUDF, labelColumnName, prevLabel, undefLabel)
    val state = iterationState()

    for (_ <- 1 to maxIters) {
      // threshold unlabeled rows into reliable negatives (reference :44-46)
      val (generation, metrics) = state.advance(
        curDF.withColumn(curLabel,
          binarize(col(finalLabel), col(prevLabel), relNegThreshold, undefLabel)),
        prevLabel, curLabel)
      curDF = generation

      // newly-converted reliable negatives; early exit when none (reference :47-55)
      if (metrics.newRelNeg == 0) {
        return curDF.drop(ProbabilisticClassifierConfig.featuresName)
      }

      // refit on positives + reliable negatives, rescore all rows (reference :56-71)
      curDF = refitAndRescore(curDF, curLabel, finalLabel)
      // rotate labels for the next iteration (reference :72-73)
      curDF = curDF.drop(prevLabel).withColumnRenamed(curLabel, prevLabel)
    }
    curDF.drop(ProbabilisticClassifierConfig.featuresName)
  }
}

object TraditionalPULearner {
  val relNegLabel: Int = PUExpressions.relNegLabel
  val undefLabel: Int = PUExpressions.undefLabel
}

/** Defaults match the reference (TraditionalPULearner.scala:98-100). */
case class TraditionalPULearnerConfig(relNegThreshold: Double = 0.5,
                                      maxIters: Int = 1,
                                      classifierConfig: ProbabilisticClassifierConfig =
                                        LogisticRegressionConfig())
  extends PositiveUnlabeledLearnerConfig {
  override def build(): PositiveUnlabeledLearner = classifierConfig match {
    case lrc: LogisticRegressionConfig =>
      new TraditionalPULearner(relNegThreshold, maxIters, lrc.build())
    case rfc: RandomForestConfig =>
      new TraditionalPULearner(relNegThreshold, maxIters, rfc.build())
  }
}
