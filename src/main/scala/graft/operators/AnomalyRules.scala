package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types.DecimalType

/** Rules-based anomaly detection — the Spark-native form of the reference's
  * `RulesBasedDetector` (reference: src/models.py:17):
  *   - conjunctive thresholds on raw + rolling features with severity/score
  *     (models.py:139 `_detect_clogged_filter`, models.py:175
  *     `_detect_compressor_failure`)
  *   - ≥N consecutive over-threshold readings per key — gaps-and-islands
  *     (models.py:68 `_detect_temp_drift`'s consecutive-sequence scan)
  *   - high-frequency sign changes of the rate-of-change in a trailing
  *     12-row window (models.py:210 `_detect_oscillating_control`)
  *   - per-key standardized-score detector (the StandardScaler +
  *     score-threshold analog of models.py:253 `MLBasedDetector`)
  *
  * The reference scans rows in driver Python with explicit index loops;
  * every rule here is a declarative window/aggregate plan, so detection
  * parallelizes per key and survives a 100× scale-up — the shuffles are
  * all on `user_id`, whose cardinality grows with the data.
  */
object AnomalyRules {

  private val dec = DecimalType(18, 2)

  private def keyOrder: WindowSpec =
    Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))

  // Every rule returns an UNSORTED frame: callers that present the
  // alerts sort once at the edge (the ad_* driver keys), and composed
  // consumers (Pipeline.detectAll's union, the al_* aggregates) pay no
  // per-branch global sort that Catalyst's EliminateSorts cannot remove
  // from inside a union branch (r13 plan audit; pinned in PlanQualitySpec).

  /** Conjunctive threshold rule over raw + rolling-mean features
    * (clogged-filter analog: models.py:147 `fan_speed_pct > 70 AND
    * fan_rolling_mean_15min > 65`, rescaled to the events domain).
    * Emits alert records with metric/score/severity like models.py:152. */
  def thresholdAlerts(features: DataFrame): DataFrame =
    features
      .filter(col("value") > 150 && col("mean_3") > 100)
      .select(
        col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
        col("value"),
        lit("value").as("metric"),
        (col("value") / 150.0).as("score"),
        lit("threshold_high").as("rule_name"),
        when(col("value") > 250, "high").otherwise("medium").as("severity"))

  /** Runs of ≥ minRun consecutive over-threshold readings per key
    * (temp-drift analog: models.py:75 "temp_error_c > 3°C for 6+
    * consecutive readings"). Classic gaps-and-islands: the difference of
    * two row_numbers is constant within a run. */
  def consecutiveRuns(events: DataFrame, threshold: Double = 100.0,
      minRun: Int = 3): DataFrame = {
    val exceeds = when(col("value") > threshold, 1).otherwise(0)
    val wCond = Window.partitionBy(col("user_id"), col("exceeds"))
      .orderBy(col("ts_us"), col("event_id"))
    val wGrp = Window.partitionBy(col("user_id"), col("grp"))
    events
      .withColumn("exceeds", exceeds)
      .withColumn("grp",
        row_number().over(keyOrder) - row_number().over(wCond))
      .filter(col("exceeds") === 1)
      .withColumn("run_len", count(lit(1)).over(wGrp))
      .filter(col("run_len") >= minRun)
      .select(
        col("event_id"), col("user_id"), col("ts_us"), col("value"),
        col("run_len"),
        lit("consecutive_drift").as("rule_name"),
        when(col("value") > 200, "high").otherwise("medium").as("severity"))
  }

  /** Oscillation: more than maxChanges sign flips of the step-to-step delta
    * within a trailing 12-row window (models.py:222 sign-change count).
    * The reference's skip-ahead scan is stateful; the trailing-window
    * form is its declarative, scan-parallel equivalent. */
  def oscillation(events: DataFrame, maxChanges: Int = 8): DataFrame = {
    val delta  = col("value") - lag(col("value"), 1).over(keyOrder)
    val events2 = events.withColumn("delta", delta)
    val chg = when(
      signum(col("delta")) =!= signum(lag(col("delta"), 1).over(keyOrder)), 1)
      .otherwise(0)
    events2
      .withColumn("chg", chg)
      .withColumn("n_changes",
        sum(col("chg")).over(keyOrder.rowsBetween(-11, Window.currentRow)))
      .filter(col("n_changes") > maxChanges)
      .select(
        col("event_id"), col("user_id"), col("ts_us"), col("value"),
        col("n_changes"),
        lit("oscillating_control").as("rule_name"),
        lit("medium").as("severity"))
  }

  /** Per-key standardized score: readings more than `cut` sample-stds from
    * their key's mean. StandardScaler-equivalent normalization
    * (models.py:262 scaler + models.py:297 score threshold), with the
    * per-key stats computed exactly via decimal sums and joined back —
    * the stats side is tiny (one row per key) so Catalyst broadcasts it. */
  def zscoreAlerts(events: DataFrame, cut: Double = 2.5): DataFrame = {
    val vdec = col("value").cast(dec)
    val stats = events
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(vdec).as("s1"),
        sum(vdec * vdec).as("s2"))
      .select(
        col("user_id"),
        (col("s1").cast("double") / col("n")).as("mean_v"),
        sqrt(greatest(
          (col("s2").cast("double")
            - col("s1").cast("double") * col("s1").cast("double") / col("n"))
            / when(col("n") > 1, col("n") - 1),
          lit(0.0))).as("std_v"))
    val z = (col("value") - col("mean_v")) / when(col("std_v") > 0, col("std_v"))
    events
      .join(broadcast(stats), "user_id")
      .withColumn("zscore", z)
      .filter(abs(col("zscore")) > cut)
      .select(
        col("event_id"), col("user_id"), col("ts_us"), col("value"),
        col("zscore"),
        lit("zscore").as("rule_name"),
        when(abs(col("zscore")) > 3.5, "high").otherwise("medium").as("severity"))
  }
}
