package graft.serving

import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-inference scoring — the reference loads a pickled sklearn
  * RandomForest from Blob and calls `predict` on a single feature row
  * (`PGSITE/__init__.py:82-96,361-370`). Spark-native form: a Spark ML
  * `RandomForestClassificationModel` whose `transform` runs distributed —
  * the model broadcasts once to executors and scoring is a map-side
  * operation, so throughput scales with the cluster instead of one
  * driver-side `predict` per HTTP request.
  */
object ModelScoring {

  /** Train a 20-tree random forest (seed 42) on (features:
    * array<float|double>, label: int) — stands in for the reference's
    * externally-trained pickle. */
  def trainOnArrays(df: DataFrame, arrayCol: String,
      labelCol: String): RandomForestClassificationModel =
    new RandomForestClassifier()
      .setNumTrees(20)
      .setSeed(42L)
      .setFeaturesCol("features")
      .setLabelCol(labelCol)
      .fit(df.withColumn("features",
        array_to_vector(transform(col(arrayCol), x => x.cast("double")))))

  /** Score rows with an array feature column; appends `prediction`. */
  def score(model: RandomForestClassificationModel, df: DataFrame,
      arrayCol: String): DataFrame =
    model.transform(df.withColumn("features",
        array_to_vector(transform(col(arrayCol), x => x.cast("double")))))
      .drop("features", "rawPrediction", "probability")

  /** Calibration curve (reliability diagram) — equi-depth score buckets
    * with the exact positive rate per bucket: does "top decile by score"
    * actually convert at a higher rate? Buckets come from the strictly-
    * below cumulative over the DISTINCT-score table (the [[rocAuc]] /
    * equi-depth posture: duplicates of one score never split), so a
    * corpus-hot score owns its whole span. All counts and the score sum
    * are exact integers; the positive rate is one half-up rounding.
    *
    * Returns ≤ 10 rows (deciles): bucket, n, n_pos, s_lo, s_hi, score_sum,
    * pos_rate_r.
    *
    * Scale: identical to [[rocAuc]] — corpus collapses map-side to
    * distinct scores; the only sort touches that table. */
  def calibrationCurve(df: DataFrame, scoreExpr: Column,
      labelExpr: Column): DataFrame = {
    val byScore = df
      .select(scoreExpr.as("s"), labelExpr.cast("long").as("y"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val below = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum_lt", coalesce(sum(col("n")).over(below), lit(0L)))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .groupBy(call_function("div", col("cum_lt") * lit(10L),
        col("total")).as("bucket"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("pos")).cast("long").as("n_pos"),
        min(col("s")).cast("long").as("s_lo"),
        max(col("s")).cast("long").as("s_hi"),
        sum(col("s") * col("n")).cast("long").as("score_sum"))
      .withColumn("pos_rate_r",
        graft.operators.Corpus.ratioRound6(col("n_pos"), col("n")))
  }

  /** Exact ROC AUC — the Mann-Whitney rank-sum identity, computed over the
    * DISTINCT-score aggregate instead of a global per-row ranking:
    * AUC = [Σ_s pos_s·cumneg_{<s} + ½·pos_s·neg_s] / (n_pos·n_neg),
    * i.e. the probability a random positive outranks a random negative,
    * ties counting half. Everything stays integer (u2 = 2·U) until one
    * exact half-up rounding, so the value is engine-identical — average
    * ranks never materialize as floats. `scoreExpr` must be integral (or
    * otherwise bit-exact cross-engine); `labelExpr` is 1/0.
    *
    * Returns one row: n_pos, n_neg, u2, auc_r.
    *
    * Scale: one partial-aggregatable groupBy on the score (corpus-sized
    * input collapses map-side), then a window + final aggregate over the
    * DISTINCT-score table only — the single-partition sort touches
    * |distinct scores| rows, never the corpus. For continuous scores at
    * 100 TB, quantize scoreExpr (as q158 does) to bound that table. */
  def rocAuc(df: DataFrame, scoreExpr: Column, labelExpr: Column): DataFrame = {
    val byScore = df
      .select(scoreExpr.as("s"), labelExpr.cast("long").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("pos"),
        (count(lit(1)) - sum(col("y"))).as("neg"))
    val below = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // DECIMAL internal arithmetic (r14 review): u2 ≈ 2·n_pos·n_neg, so the
    // Long per-row product pos·cneg·2 wraps (ANSI: throws) once
    // n_pos·n_neg passes 2^62 — ~2e9 balanced rows, inside the operator's
    // advertised scale. The exact decimal sum keeps auc_r correct far
    // beyond that; only the u2 OUTPUT column (a bigint in the contract on
    // both engines — the oracle's HUGEINT→BIGINT cast has the same bound)
    // still caps at 2^63, where the cast fails loudly instead of wrapping.
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    byScore
      .withColumn("cneg", coalesce(sum(col("neg")).over(below), lit(0L)))
      .agg(sum(col("pos")).cast("long").as("n_pos"),
        sum(col("neg")).cast("long").as("n_neg"),
        sum(col("pos").cast(dec) * col("cneg") * lit(2L) +
          col("pos").cast(dec) * col("neg")).as("u2d"))
      .select(col("n_pos"), col("n_neg"),
        col("u2d").cast("long").as("u2"),
        // ratioRound6's shape over decimals (it force-casts to long):
        // div(2e6·num + den, 2·den) — the div result is ≤ 2e6, always long
        (call_function("div",
          col("u2d") * lit(2000000L) +
            col("n_pos").cast(dec) * col("n_neg") * lit(2L),
          col("n_pos").cast(dec) * col("n_neg") * lit(4L))
          .cast("double") / lit(1e6)).as("auc_r"))
  }
}
