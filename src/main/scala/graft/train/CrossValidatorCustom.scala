package graft.train

import graft.config.TuningConf
import org.apache.spark.internal.Logging
import org.apache.spark.ml.{Estimator, Transformer}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K-fold cross validation with per-fold metric logging and best-model
  * refit (ref: org/apache/spark/ml/tuning/CrossValidatorCustom.scala:124-309
  * — a fork of spark's CrossValidator there; re-implemented here as a
  * ~60-line driver loop, per SURVEY §7-M5 "prefer re-implementation over
  * fork").
  *
  * Folds are assigned with a seeded `rand()` column — one pass, no RDD
  * round-trip, deterministic for a fixed seed and input partitioning.
  * Platt scaling for SVM inside folds (the reference's special case) is
  * handled by evaluating on rawPrediction (AUROC is rank-invariant to the
  * sigmoid, so fold selection is identical).
  */
object CrossValidatorCustom extends Logging {

  def evaluator(metric: String, labelCol: String = "label") = metric match {
    case "areaUnderROC" | "areaUnderPR" =>
      new BinaryClassificationEvaluator().setLabelCol(labelCol).setMetricName(metric)
    case m =>
      new MulticlassClassificationEvaluator().setLabelCol(labelCol).setMetricName(m)
  }

  def fit(df: DataFrame, est: Estimator[_], grid: Array[ParamMap],
          tuning: TuningConf, buildType: String, seed: Long = 20L): Transformer = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val k = tuning.folds
    val folded = df.withColumn("__fold", (rand(seed) * k).cast("int")).cache()
    val eval = evaluator(tuning.evalMetric)
    val grids = if (grid.isEmpty) Array(ParamMap.empty) else grid

    // (grid × fold) fits run concurrently on a bounded driver pool — each
    // fit is itself a distributed job, so this pipelines cluster work
    // (ref: CrossValidatorCustom parallelism, default 3)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, tuning.parallelism))
    val avg = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val futures = grids.map { pm =>
        pm -> (0 until k).map { f =>
          Future {
            val train = folded.filter(col("__fold") =!= f)
            val valid = folded.filter(col("__fold") === f)
            val model = est.copy(pm).fit(train).asInstanceOf[Transformer]
            val m = eval.evaluate(model.transform(valid))
            logInfo(s"cv fold=$f params=$pm metric=${tuning.evalMetric}=$m")
            m
          }
        }
      }
      futures.map { case (pm, fs) =>
        val foldMetrics = fs.map(Await.result(_, Duration.Inf))
        val mean = foldMetrics.sum / k
        logInfo(s"cv params=$pm mean=$mean folds=${foldMetrics.mkString(",")}")
        (pm, mean)
      }
    } finally { pool.shutdown(); folded.unpersist() }
    val (bestParams, bestMetric) =
      avg.maxBy(x => if (eval.isLargerBetter) x._2 else -x._2)
    logInfo(s"cv best=$bestParams metric=$bestMetric — refitting on full data")
    est.copy(bestParams).fit(df).asInstanceOf[Transformer]
  }
}
