package graft.pu

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.{CheckpointUtil, SparkSuite}
import PUExpressions.IterMetrics

/** The iteration-state contract of the iterative learners, observed from
  * outside through a spying `IterationState` and a job listener, with
  * deterministic stub classifiers so every loop's length is known:
  *  - every generation costs exactly one Spark job;
  *  - the metrics observed on that job equal [[PUExpressions.iterMetrics]]
  *    recomputed on the generation — entry and every in-loop round;
  *  - at most two generations hold checkpoint blocks at any time (the one
  *    being built and the one it is built from), one between generations;
  *  - once the output is materialized and `releaseStragglers` ran, no
  *    persistent RDD is left behind.
  */
class IterationStateSpec extends SparkSuite {

  private val theta = 0.5

  /** 40 rows, every fifth an observed positive, score = id / 40. */
  private def fixture: DataFrame = {
    import spark.implicits._
    (1 to 40).map(i => (i.toLong, if (i % 5 == 0) 1 else 0, i / 40.0))
      .toDF("id", "puLabel", "score")
      .withColumn("features", org.apache.spark.ml.functions.array_to_vector(array(col("score"))))
      .select("id", "puLabel", "features")
  }

  private def shifting(delta: Double): ShiftingStubClassifier =
    new ShiftingStubClassifier(delta)
      .setLabelCol(ProbabilisticClassifierConfig.labelName)
      .setFeaturesCol(ProbabilisticClassifierConfig.featuresName)

  private def fixedScores(): StubProbClassifier =
    new StubProbClassifier()
      .setLabelCol(ProbabilisticClassifierConfig.labelName)
      .setFeaturesCol(ProbabilisticClassifierConfig.featuresName)

  /** What one `advance` did. */
  private case class Round(jobs: Int, observed: IterMetrics, recomputed: IterMetrics,
                           liveBefore: Int, liveAfter: Set[Int], generationRdd: Int)

  /** Runs each wrapped `advance` in its own job group and records the
    * round; the listener counts jobs per group. */
  private final class Spy extends SparkListener {
    private val jobsByGroup = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val generationRdds = mutable.Set.empty[Int]
    val rounds = mutable.ArrayBuffer.empty[Round]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => jobsByGroup(g) += 1)
    }

    def advance(prevLabel: String, curLabel: String)(
        run: => (DataFrame, IterMetrics)): (DataFrame, IterMetrics) = {
      val sc = spark.sparkContext
      def live(): Set[Int] = sc.getPersistentRDDs.keySet.toSet.intersect(generationRdds)
      val liveBefore = live().size
      val group = s"iteration-state-spec-${System.nanoTime()}"
      sc.setJobGroup(group, group)
      val (generation, observed) = try run finally sc.clearJobGroup()
      val rdd = generation.queryExecution.logical match {
        case lr: LogicalRDD => lr.rdd.id
        case other => fail(s"a generation must be a bare checkpoint leaf:\n$other")
      }
      generationRdds += rdd
      val liveAfter = live()
      GraftColumnBridge.waitForListeners(spark, 10000)
      val jobs = synchronized(jobsByGroup(group))
      rounds += Round(jobs, observed, PUExpressions.iterMetrics(generation, prevLabel, curLabel),
        liveBefore, liveAfter, rdd)
      (generation, observed)
    }
  }

  /** Runs `weight` on a learner built by `learner(spy)`, materializes the
    * output, releases the stragglers, and checks the contract on every
    * round; returns the rounds. */
  private def check(learner: Spy => PositiveUnlabeledLearner): Seq[Round] = {
    spark.catalog.clearCache()
    CheckpointUtil.releaseStragglers()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val spy = new Spy
    sc.addSparkListener(spy)
    try {
      val out = learner(spy).weight(fixture, "puLabel", "features", "w")
      out.write.format("noop").mode("overwrite").save()
      assert(out.count() == 40)
    } finally sc.removeSparkListener(spy)
    CheckpointUtil.releaseStragglers()
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      s"left persisted: ${sc.getPersistentRDDs.keySet.toSet -- before}")
    spy.rounds.zipWithIndex.foreach { case (r, i) =>
      assert(r.jobs == 1, s"round $i ran ${r.jobs} jobs")
      assert(r.observed == r.recomputed, s"round $i")
      assert(r.liveBefore <= 1, s"round $i: ${r.liveBefore} generations live before")
      assert(r.liveAfter == Set(r.generationRdd), s"round $i")
    }
    spy.rounds.toSeq
  }

  test("Traditional: one job per generation, observed == recomputed metrics") {
    val rounds = check(spy => new TraditionalPULearner(theta, 4,
        shifting(-0.1)) {
      override protected def iterationState(): IterationState = new IterationState {
        override def advance(df: DataFrame, prevLabel: String, curLabel: String) =
          spy.advance(prevLabel, curLabel)(super.advance(df, prevLabel, curLabel))
      }
    })
    // each refit lowers every score by 0.1, so every generation converts a
    // fresh band and the loop runs all four iterations
    assert(rounds.size == 4)
    assert(rounds.forall(_.observed.newRelNeg > 0))
    assert(rounds.head.observed == IterMetrics(16, 8, 16, 16))
  }

  test("Traditional early exit returns the checkpointed generation") {
    val rounds = check(spy => new TraditionalPULearner(theta, 4, fixedScores()) {
      override protected def iterationState(): IterationState = new IterationState {
        override def advance(df: DataFrame, prevLabel: String, curLabel: String) =
          spy.advance(prevLabel, curLabel)(super.advance(df, prevLabel, curLabel))
      }
    })
    // fixed scores: the second generation converts nothing and exits
    assert(rounds.map(_.observed.newRelNeg) == Seq(16L, 0L))
  }

  test("GradualReduction: entry and every in-loop round, one job each") {
    val rounds = check(spy => new GradualReductionPULearner(theta,
        shifting(0.05)) {
      override protected def iterationState(): IterationState = new IterationState {
        override def advance(df: DataFrame, prevLabel: String, curLabel: String) =
          spy.advance(prevLabel, curLabel)(super.advance(df, prevLabel, curLabel))
      }
    })
    // entry: 16 reliable negatives; each refit raises scores by 0.05 and
    // promotes two back (gain 2, then 2 again, which is not < 2: stop)
    assert(rounds.map(_.observed.totalRelNeg) == Seq(16L, 14L, 12L))
  }
}
