package graft.operators

import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** fit_regr_random_forest / predict_random_forest
  * (reference: openeo_processes_dask ml/random_forest.py:22-161 — the
  * reference trains an XGBoost "random forest" over dask; here the model is
  * Spark MLlib's native distributed RandomForestRegressor, trained and
  * applied on executors, with a fixed seed for reproducible runs).
  */
object MLOps {

  /** Train on `featureCols` → `targetCol`. Mirrors the reference's
    * defaults: 100 trees, sqrt feature subset strategy
    * (reference: random_forest.py:49-57).
    */
  def fitRandomForest(df: DataFrame, featureCols: Seq[String],
      targetCol: String, numTrees: Int = 100, maxDepth: Int = 8,
      seed: Long = 42L): RandomForestRegressionModel = {
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .transform(df)
    new RandomForestRegressor()
      .setNumTrees(numTrees)
      .setMaxDepth(maxDepth)
      .setFeatureSubsetStrategy("sqrt")
      .setSeed(seed)
      .setLabelCol(targetCol)
      .setFeaturesCol("features")
      .fit(assembled)
  }

  /** openEO `fit_class_random_forest` (ML proposal; beyond the reference's
    * exports — the reference only ships the regressor): MLlib's
    * distributed RandomForestClassifier over an integer class column
    * (0..k−1). Same reproducibility contract as [[fitRandomForest]]: a
    * seeded model over a partition-pinned training frame is
    * bit-reproducible across core counts.
    */
  def fitClassRandomForest(df: DataFrame, featureCols: Seq[String],
      targetCol: String, numTrees: Int = 100, maxDepth: Int = 8,
      seed: Long = 42L): RandomForestClassificationModel = {
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .transform(df)
      .withColumn(targetCol, col(targetCol).cast("double"))
    new RandomForestClassifier()
      .setNumTrees(numTrees)
      .setMaxDepth(maxDepth)
      .setFeatureSubsetStrategy("sqrt")
      .setSeed(seed)
      .setLabelCol(targetCol)
      .setFeaturesCol("features")
      .fit(assembled)
  }

  /** Score either forest kind: the prediction column is the regressed
    * value or the predicted class index (openEO has ONE
    * predict_random_forest over any ml-model).
    */
  def predictForest(model: AnyRef, df: DataFrame,
      featureCols: Seq[String]): DataFrame = {
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .transform(df)
    val scored = model match {
      case m: RandomForestRegressionModel => m.transform(assembled)
      case m: RandomForestClassificationModel =>
        m.transform(assembled).drop("rawPrediction", "probability")
      case other => throw new IllegalArgumentException(
        s"ModelNotFound: cannot predict with ${other.getClass.getName}")
    }
    scored.drop("features")
  }

  /** openEO `save_ml_model` (ML proposal; beyond the reference's exports):
    * persist a fitted model to a directory. The native format is MLlib's
    * parquet-backed model writer — itself a distributed Spark write, so a
    * forest of any size persists without driver materialization — plus a
    * `_graft_features.json` sidecar pinning the FEATURE ORDER (the
    * VectorAssembler contract is part of the model; a reload that guessed
    * feature order would silently permute inputs).
    */
  /** The sidecar travels on the SAME filesystem the MLlib writer targets
    * (Hadoop FS by `path` scheme) — a java.nio local write would succeed
    * for `/tmp` paths and silently strand hdfs://-or-object-store models
    * without their feature order.
    */
  private def sidecarPath(path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val hconf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path, "_graft_features.json")
    (p.getFileSystem(hconf), p)
  }

  def saveModel(model: AnyRef, features: Seq[String], path: String): Unit = {
    val kind = model match {
      case m: RandomForestRegressionModel =>
        m.write.overwrite().save(path); "regression"
      case m: RandomForestClassificationModel =>
        m.write.overwrite().save(path); "classification"
      case other => throw new IllegalArgumentException(
        s"ModelNotFound: save_ml_model cannot persist ${other.getClass.getName}")
    }
    // real JSON via json4s (feature names are arbitrary strings — commas,
    // quotes, unicode all round-trip; a hand-rolled join would split them)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val doc = JObject("kind" -> JString(kind),
      "features" -> JArray(features.map(JString(_)).toList))
    val (fs, side) = sidecarPath(path)
    val out = fs.create(side, true)
    try out.write(JsonMethods.compact(JsonMethods.render(doc)).getBytes("UTF-8"))
    finally out.close()
  }

  /** openEO `load_ml_model`: reload a [[saveModel]] directory (either
    * forest kind — the sidecar records which). Missing model or sidecar →
    * the wire-level ModelNotFound (exceptions.py:45).
    */
  def loadModel(path: String): (AnyRef, Seq[String]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val (fs, side) = sidecarPath(path)
    require(fs.exists(side),
      s"ModelNotFound: no model feature sidecar at $path")
    val in = fs.open(side)
    val txt =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    val root = JsonMethods.parse(txt)
    val kind = (root \ "kind").extract[String]
    val feats = (root \ "features").extract[Seq[String]]
    val model =
      try {
        if (kind == "classification") RandomForestClassificationModel.load(path)
        else RandomForestRegressionModel.load(path)
      } catch { case e: Exception => throw new IllegalArgumentException(
        s"ModelNotFound: cannot load model at $path (${e.getMessage})") }
    (model, feats)
  }
}
