package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Aggregates

/** The reference's model-selection workload (/root/reference/model/project.py)
  * on Spark ML — SURVEY §2.9 M1-M8.
  *
  * sklearn/Spark RNGs differ, so parity with the reference is defined on
  * metric QUALITY (thresholds), never on split membership or hash-equal
  * predictions (SURVEY §7.4-6). XGBoost maps to GBTRegressor (offline build —
  * no external deps, per the reference's model zoo intent at project.py:221-227).
  */
object Models {

  /** M1: keep features whose |corr(feature, target)| ≥ threshold
    * (project.py:65-69) — one aggregate pass for all candidate columns.
    */
  def selectFeaturesByCorrelation(df: DataFrame, target: String,
      threshold: Double = 0.10): Seq[String] = {
    val numeric = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        && f.name != target => f.name
    }.toSeq
    if (numeric.isEmpty) return Nil
    // corr divides by both standard deviations, which ANSI mode turns into
    // DIVIDE_BY_ZERO when either side is constant over the rows where both
    // are non-null: such a column has no correlation and fails the gate,
    // so only the columns that vary there enter the corr pass
    val y = col(target)
    def paired(c: String, v: Column) = when(col(c).isNotNull && y.isNotNull, v)
    val spreads = numeric.map(c =>
      (var_pop(paired(c, col(c))) > 0 && var_pop(paired(c, y)) > 0).as(c))
    val spread = df.agg(spreads.head, spreads.tail: _*).head()
    val varying = numeric.filter(c => spread.getAs[Any](c) == true)
    if (varying.isEmpty) return Nil
    val aggs = varying.map(c => corr(col(c), y).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    varying.filter { c =>
      val r = row.getAs[Any](c)
      r != null && math.abs(r.asInstanceOf[Double]) >= threshold
    }
  }

  /** M2: assembler + scaler + regressor pipeline (project.py:84-97). */
  def pipelineFor(features: Seq[String], target: String,
      regressor: org.apache.spark.ml.PipelineStage): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("features_raw")
      .setHandleInvalid("skip")
    val scaler = new StandardScaler()
      .setInputCol("features_raw").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    new Pipeline().setStages(Array(assembler, scaler, regressor))
  }

  /** M6: the model zoo — (name, stage, random-search grid builder).
    * LinearRegression elasticNetParam 0 = ridge, 1 = lasso (regParam = alpha).
    */
  def modelZoo(target: String): Seq[(String, org.apache.spark.ml.PipelineStage, Pipeline => Array[ParamMap])] = {
    def lr(elastic: Double, reg: Double) = new LinearRegression()
      .setLabelCol(target).setFeaturesCol("features")
      .setElasticNetParam(elastic).setRegParam(reg)
    val linear = lr(0.0, 0.0)
    val ridge = lr(0.0, 1.0)
    val lasso = lr(1.0, 1.0)
    val rf = new RandomForestRegressor()
      .setLabelCol(target).setFeaturesCol("features").setSeed(42)
    val gbt = new GBTRegressor()
      .setLabelCol(target).setFeaturesCol("features").setSeed(42).setMaxIter(20)

    def noGrid(p: Pipeline): Array[ParamMap] = new ParamGridBuilder().build()
    Seq(
      ("linear_regression", linear, noGrid _),
      ("ridge", ridge, (_: Pipeline) => new ParamGridBuilder()
        .addGrid(ridge.regParam, Array(0.01, 0.1, 1.0, 10.0)).build()),
      ("lasso", lasso, (_: Pipeline) => new ParamGridBuilder()
        .addGrid(lasso.regParam, Array(0.01, 0.1, 1.0, 10.0)).build()),
      ("random_forest", rf, (_: Pipeline) => new ParamGridBuilder()
        .addGrid(rf.numTrees, Array(20, 50))
        .addGrid(rf.maxDepth, Array(4, 8)).build()),
      ("gbt", gbt, (_: Pipeline) => new ParamGridBuilder()
        .addGrid(gbt.maxDepth, Array(3, 5)).build()))
  }

  /** M7: sklearn RandomizedSearchCV has no Spark twin — seeded random
    * subsample of the full grid to nIter points (project.py:157-218).
    */
  def randomSearchGrid(full: Array[ParamMap], nIter: Int, seed: Long): Array[ParamMap] = {
    if (full.length <= nIter) full
    else new scala.util.Random(seed).shuffle(full.toSeq).take(nIter).toArray
  }

  final case class EvalResult(name: String, cvRmse: Double, testRmse: Double,
      testR2: Double, model: PipelineModel,
      pipeline: Pipeline, bestParams: ParamMap)

  /** M3-M5, M7, M8: per-model train/tune/evaluate, pick the best by CV RMSE,
    * then REFIT the winner on the FULL dataset (project.py:302-310:
    * `best_model.fit(X, y)` before `joblib.dump`) — the returned winner's
    * `model` is the full-data refit with the winning hyper-parameters; the
    * per-model `results` keep their train-split fits for the leaderboard.
    */
  def selectBestModel(df: DataFrame, features: Seq[String], target: String,
      numFolds: Int = 6, nIter: Int = 10, seed: Long = 42,
      parallelism: Int = 4,
      zoo: Seq[(String, org.apache.spark.ml.PipelineStage, Pipeline => Array[ParamMap])] = null): (EvalResult, Seq[EvalResult]) = {
    // the CV loop below re-reads train once per (model, param, fold) and the
    // final refit re-reads df — without a persist every one of those fits
    // replays the full upstream plan from the source scan
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cached = df.persist(lvl)
    val Array(train, test) = cached.randomSplit(Array(0.8, 0.2), seed)  // M3
    train.persist(lvl)
    test.persist(lvl)
    try selectBestModelOn(cached, train, test, features, target,
      numFolds, nIter, seed, parallelism, zoo)
    finally {
      train.unpersist(blocking = false)
      test.unpersist(blocking = false)
      cached.unpersist(blocking = false)
    }
  }

  private def selectBestModelOn(df: DataFrame, train: DataFrame, test: DataFrame,
      features: Seq[String], target: String,
      numFolds: Int, nIter: Int, seed: Long, parallelism: Int,
      zoo: Seq[(String, org.apache.spark.ml.PipelineStage, Pipeline => Array[ParamMap])]): (EvalResult, Seq[EvalResult]) = {
    val evalRmse = new RegressionEvaluator()
      .setLabelCol(target).setPredictionCol("prediction").setMetricName("rmse")
    val evalR2 = new RegressionEvaluator()
      .setLabelCol(target).setPredictionCol("prediction").setMetricName("r2")

    val families = Option(zoo).getOrElse(modelZoo(target))
    // families run CONCURRENTLY: each CrossValidator is internally parallel
    // (`parallelism` fits in flight), but the per-family setup/teardown gaps
    // serialize if families run one after another; concurrent submission also
    // keeps executor slots full on a real cluster. Future.traverse preserves
    // family order, so the leaderboard stays deterministic.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.traverse(families) { case (name, stage, gridFor) => Future {
      val pipe = pipelineFor(features, target, stage)
      val grid = randomSearchGrid(gridFor(pipe), nIter, seed)         // M7
      val maps = if (grid.isEmpty) new ParamGridBuilder().build() else grid
      val cv = new CrossValidator()                                    // M4
        .setEstimator(pipe)
        .setEvaluator(evalRmse)
        .setEstimatorParamMaps(maps)
        .setNumFolds(numFolds)
        .setSeed(seed)
        .setParallelism(parallelism)
      val fitted = cv.fit(train)
      val best = fitted.bestModel.asInstanceOf[PipelineModel]
      val bestMap = maps(fitted.avgMetrics.indexOf(fitted.avgMetrics.min))
      val pred = best.transform(test)
      EvalResult(name, fitted.avgMetrics.min, evalRmse.evaluate(pred),
        evalR2.evaluate(pred), best, pipe, bestMap)                    // M5
    } }, scala.concurrent.duration.Duration.Inf)
    val winner0 = results.minBy(_.cvRmse)                              // M8
    val refit = winner0.pipeline.fit(df, winner0.bestParams)           // full-data refit
    (winner0.copy(model = refit), results)
  }

  /** The reference's sample-prediction report (project.py:284-297): the best
    * model's predictions next to the actual target for the first rows, with
    * the (predicted − actual) difference. Vector columns are dropped so the
    * frame is sink-friendly (CSV).
    */
  def samplePredictions(model: PipelineModel, df: DataFrame, target: String,
      n: Int = 5): DataFrame =
    model.transform(df.limit(n))
      .withColumn("difference", col("prediction") - col(target))
      .drop("features_raw", "features")

  /** Leaderboard as a DataFrame (the printed report of project.py:266-277). */
  def leaderboard(spark: org.apache.spark.sql.SparkSession,
      results: Seq[EvalResult]): DataFrame = {
    import spark.implicits._
    results.map(r => (r.name, r.cvRmse, r.testRmse, r.testR2))
      .toDF("model", "cv_rmse", "test_rmse", "test_r2")
      .orderBy("cv_rmse")
  }
}
