package graft.train

import graft.SparkSpec
import graft.config.{TrainingConf, TuningConf}
import org.apache.spark.ml.classification.{LinearSVC, LogisticRegression}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

class TrainSpec extends SparkSpec {
  import spark.implicits._

  /** 3-class separable blobs in 2D, deterministic. */
  private def blobs(n: Int = 60) = {
    val rnd = new scala.util.Random(42)
    val centers = Seq((0.0, 0.0, "alpha"), (4.0, 4.0, "beta"), (0.0, 6.0, "gamma"))
    (0 until n).flatMap { _ =>
      centers.map { case (cx, cy, label) =>
        (Vectors.dense(cx + rnd.nextGaussian() * 0.5, cy + rnd.nextGaussian() * 0.5), label)
      }
    }.toDF("features", "y")
  }

  /** Binary separable data with indexed label. */
  private def binary(n: Int = 100) = {
    val rnd = new scala.util.Random(7)
    (0 until n).flatMap { _ =>
      Seq((Vectors.dense(rnd.nextGaussian() - 2.0), 0.0),
        (Vectors.dense(rnd.nextGaussian() + 2.0), 1.0))
    }.toDF("features", "label")
  }

  behavior of "ModelFactory"

  it should "build all 7 algorithms from config" in {
    val algos = Seq("logistic_regression", "svm", "decision_tree",
      "random_forest", "gbt", "naive_bayes", "mlp")
    algos.foreach { a =>
      val est = ModelFactory.build(TrainingConf(algorithm = a))
      est should not be null
    }
  }

  it should "build a param grid matched to estimator param types" in {
    val est = ModelFactory.build(TrainingConf(algorithm = "logistic_regression"))
    val grid = ModelFactory.grid(est,
      TuningConf(grid = Map("regParam" -> Seq(0.0, 0.1), "maxIter" -> Seq(5, 10))))
    grid.length shouldBe 4
  }

  behavior of "ModelTrainingEngine"

  it should "train a binary LR end-to-end with high AUROC on separable data" in {
    val df = binary().withColumn("y", when(col("label") === 1.0, "yes").otherwise("no"))
    val chain = ModelTrainingEngine.fit(df, TrainingConf(), TuningConf(), "y")
    val scored = chain.transform(df)
    val auroc = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setLabelCol("label").evaluate(scored)
    auroc should be > 0.95
  }

  it should "train multi-intent with alphabetAsc label order and IndexToString" in {
    val df = blobs()
    val chain = ModelTrainingEngine.fit(df,
      TrainingConf(buildType = "multi_intent"), TuningConf(), "y")
    chain.labels.toSeq shouldBe Seq("alpha", "beta", "gamma") // alphabetAsc
    val scored = chain.transform(df)
    val acc = scored.filter(col("y") === col("predictedResponse")).count().toDouble /
      scored.count()
    acc should be > 0.95
  }

  behavior of "OneVsRestScored"

  it should "accumulate every sub-model's margin into rawPrediction" in {
    val df = blobs()
    val indexed = new org.apache.spark.ml.feature.StringIndexer()
      .setInputCol("y").setOutputCol("label").setStringOrderType("alphabetAsc")
      .fit(df).transform(df)
    val ovr = new OneVsRestScored()
      .setClassifier(new LogisticRegression().setMaxIter(50))
    val model = ovr.fit(indexed)
    model.models.length shouldBe 3
    val scored = model.transform(indexed)
    scored.columns should contain allOf ("rawPrediction", "probability", "prediction")
    // margin vector has one entry per class; probabilities sum to 1
    val row = scored.select(vector_to_array(col("rawPrediction")),
      vector_to_array(col("probability"))).head()
    row.getSeq[Double](0).size shouldBe 3
    row.getSeq[Double](1).sum shouldBe 1.0 +- 1e-9
    val acc = scored.filter(col("label") === col("prediction")).count().toDouble /
      scored.count()
    acc should be > 0.95
  }

  it should "leave no thread of its fit pool alive once fit returns" in {
    import scala.jdk.CollectionConverters._
    def nonDaemon(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    val df = blobs(20)
    val indexed = new org.apache.spark.ml.feature.StringIndexer()
      .setInputCol("y").setOutputCol("label").fit(df).transform(df)
    val before = nonDaemon()
    new OneVsRestScored().setClassifier(new LogisticRegression().setMaxIter(5))
      .fit(indexed)
    // a shut-down pool's idle workers exit promptly but asynchronously
    val deadline = System.currentTimeMillis() + 10000
    while ((nonDaemon() -- before).nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    (nonDaemon() -- before).map(_.getName) shouldBe empty
  }

  behavior of "PlattScalar"

  it should "calibrate SVM margins into well-ordered probabilities" in {
    val df = binary()
    val svm = new LinearSVC().setMaxIter(50).fit(df)
    val scored = svm.transform(df)
    val platt = new PlattScalar().setLabelCol("label").fit(scored)
    val out = platt.transform(scored)
    // probability must be monotone in margin, in [0,1], and AUROC-preserving
    val probs = out.select(element_at(vector_to_array(col("probability")), 2),
      col("label")).as[(Double, Double)].collect()
    all(probs.map(_._1)) should (be >= 0.0 and be <= 1.0)
    val aurocRaw = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setRawPredictionCol("rawPrediction").setLabelCol("label").evaluate(out)
    val aurocCal = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setRawPredictionCol("probability").setLabelCol("label").evaluate(out)
    aurocCal shouldBe aurocRaw +- 1e-9 // sigmoid is rank-preserving
    // calibrated mean ≈ base rate on separable balanced data
    probs.map(_._1).sum / probs.length shouldBe 0.5 +- 0.05
  }

  it should "calibrate per-class in multi-intent mode and re-argmax" in {
    val df = blobs()
    val indexed = new org.apache.spark.ml.feature.StringIndexer()
      .setInputCol("y").setOutputCol("label").setStringOrderType("alphabetAsc")
      .fit(df).transform(df)
    val ovr = new OneVsRestScored().setClassifier(new LinearSVC().setMaxIter(50))
    val scored = ovr.fit(indexed).transform(indexed)
    val platt = new PlattScalar().setLabelCol("label").setIsMultiIntent(true).fit(scored)
    val out = platt.transform(scored)
    out.columns should contain("svm_prediction")
    val acc = out.filter(col("label") === col("prediction")).count().toDouble / out.count()
    acc should be > 0.9
  }

  behavior of "TopKIntents"

  it should "rank labels by probability descending" in {
    val df = Seq(Tuple1(Vectors.dense(0.2, 0.5, 0.3))).toDF("probability")
    val out = new TopKIntents().setLabels(Array("a", "b", "c")).setK(2).transform(df)
    val top = out.select("topIntents").collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    top.map(_.getString(0)) shouldBe Seq("b", "c")
    top.head.getDouble(1) shouldBe 0.5
  }

  behavior of "UpliftTransformer"

  it should "score p1 - p0 with the treatment slot forced" in {
    // label correlates with treatment (last feature slot)
    val rnd = new scala.util.Random(11)
    val df = (0 until 400).map { _ =>
      val t = rnd.nextInt(2).toDouble
      val x = rnd.nextGaussian()
      val y = if (t == 1.0 && x > -0.5) 1.0 else if (x > 1.5) 1.0 else 0.0
      (Vectors.dense(x, t), y)
    }.toDF("features", "label")
    val lr = new LogisticRegression().setMaxIter(50).fit(df)
    val out = new UpliftTransformer().setBaseModel(lr).transform(df)
    out.columns should contain allOf ("probability", "modelProbability")
    val uplift = out.select(element_at(vector_to_array(col("probability")), 2))
      .as[Double].collect()
    // treatment helps on average → positive mean uplift
    uplift.sum / uplift.length should be > 0.05
  }

  behavior of "CrossValidatorCustom"

  it should "pick the best grid point and refit" in {
    val df = binary()
    // L1 so regParam=10 zeroes the coefficient (AUROC 0.5) — with L2 both
    // points tie at 1.0 on separable data and selection is vacuous
    val est = new LogisticRegression().setElasticNetParam(1.0)
    val grid = ModelFactory.grid(est, TuningConf(grid = Map("regParam" -> Seq(10.0, 0.01))))
    val best = CrossValidatorCustom.fit(df, est, grid,
      TuningConf(folds = 3, evalMetric = "areaUnderROC"), "binary")
    best.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
      .getRegParam shouldBe 0.01
  }

  behavior of "HyperBand"

  it should "find a good config via successive halving" in {
    val df = binary()
    val est = new LogisticRegression()
    val model = HyperBand.fit(df, est,
      TuningConf(method = "hyperband", evalMetric = "areaUnderROC",
        grid = Map("regParam" -> Seq(0.0, 1.0)), maxHyperbandIter = 9, eta = 3),
      seed = 20)
    val auroc = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setLabelCol("label").evaluate(model.transform(df))
    auroc should be > 0.95
  }
}
