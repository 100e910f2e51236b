package graft.reports

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.TableStore

/** The reference's progress-report query (sql.py:196-235) as one pass over
  * the requested user's rows:
  *
  *   Goals, Cardio and Meals rows from the start date ∪ Weight rows of any
  *   date → one exchange into a single partition → per-day aggregate (the
  *   correlated sums: A3 cardio COALESCEd to 0, A4 meals with load-bearing
  *   NULL) → A2 latest weight → A5 Mifflin-St Jeor RMR (hardcoded height
  *   182 / age 34) → deficit arithmetic with truncating CAST (F4) → IS NOT
  *   NULL filter (F9: days without logged meals drop out) → running total
  *   (W2: ROUND, COALESCE, CAST) → row_number (W1) → dd-MMM-yyyy (F2).
  *
  * Only that user's rows cross the exchange; the rest runs locally on its
  * one partition: two Spark jobs, no broadcast, no range sampling. Windows
  * are partitioned by userid (SURVEY §4.3): the reference's are not, but
  * its WHERE pins one user, so results are identical.
  */
object ProgressReport {

  def fromStore(store: TableStore, username: String, startingDate: String,
                endGoal: Long)(implicit spark: SparkSession): DataFrame =
    query(store.read("Measurements"), store.read("Goals"),
      store.read("CardioExercises"), store.read("Meals"),
      username, startingDate, endGoal)

  /** `spark.sql` twin of [[query]], kept structurally close to the
    * reference SQL (sql.py:196-235): the correlated scalar subqueries are
    * written as actual subqueries and Catalyst's
    * RewriteCorrelatedScalarSubquery decorrelates them into
    * aggregate-and-join plans (SURVEY §4.2). It is the reference-shaped
    * witness [[query]]'s single pass is asserted equal to in ReportsSpec.
    */
  def sqlQuery(measurements: DataFrame, goals: DataFrame, cardio: DataFrame,
               meals: DataFrame, username0: String, startingDate0: String)
              (implicit spark: SparkSession): DataFrame = {
    // the parameters ride inside single-quoted SQL literals: escape
    // embedded quotes so a username like o'brien is data, not a parse
    // error (or injected SQL) — the DataFrame twin's === literals handle
    // these values natively, and the twin-equality spec only holds if
    // this path does too
    val username = username0.replace("'", "''")
    val startingDate = startingDate0.replace("'", "''")
    measurements.createOrReplaceTempView("mfp_measurements")
    goals.createOrReplaceTempView("mfp_goals")
    cardio.createOrReplaceTempView("mfp_cardio")
    meals.createOrReplaceTempView("mfp_meals")
    spark.sql(
      s"""WITH userstats AS (
         |  SELECT CAST('$username' AS STRING) AS userid,
         |    1.2 * (10 * (SELECT max_by(value, date) FROM mfp_measurements
         |                 WHERE userid = '$username'
         |                   AND measure_name = 'Weight')
         |           + 6.25 * 182 - 5 * 34 + 5) AS rmr
         |),
         |per_day AS (
         |  SELECT g.date, g.calories,
         |    u.rmr - g.calories
         |      + (SELECT COALESCE(SUM(calories_burned), 0) FROM mfp_cardio c
         |         WHERE c.userid = u.userid AND c.date = g.date) AS d_target,
         |    u.rmr - g.calories
         |      + (SELECT COALESCE(SUM(calories_burned), 0) FROM mfp_cardio c
         |         WHERE c.userid = u.userid AND c.date = g.date)
         |      + (g.calories - (SELECT SUM(calories) FROM mfp_meals m
         |                       WHERE m.userid = u.userid AND m.date = g.date))
         |      AS d_actual
         |  FROM mfp_goals g JOIN userstats u ON g.userid = u.userid
         |  WHERE g.date >= DATE('$startingDate')
         |),
         |windowed AS (
         |  SELECT date, calories,
         |    CAST(d_target AS INT) AS deficit_target,
         |    CAST(d_actual AS INT) AS deficit_actual,
         |    CAST(COALESCE(ROUND(SUM(d_actual) OVER (ORDER BY date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 0) AS INT)
         |      AS deficit_accumulated
         |  FROM per_day
         |)
         |SELECT
         |  ROW_NUMBER() OVER (ORDER BY date) AS day_number,
         |  DATE_FORMAT(date, 'dd-MMM-yyyy') AS date,
         |  calories AS calories_target,
         |  deficit_target, deficit_actual, deficit_accumulated
         |FROM windowed
         |WHERE deficit_actual IS NOT NULL
         |ORDER BY day_number""".stripMargin)
  }

  def query(measurements: DataFrame, goals: DataFrame, cardio: DataFrame,
            meals: DataFrame, username: String, startingDate: String,
            endGoal: Long): DataFrame = {
    val mine = col("userid") === username
    val inWindow = mine && col("date") >= to_date(lit(startingDate))
    def leg(rows: DataFrame, where: Column, value: String, as: String) =
      rows.where(where).select(col("userid"), col("date"), col(value).as(as))

    // each filter is pushed into its scan; a leg's missing columns read
    // NULL. Weight has no date filter: the latest may predate the window.
    val days = Seq(
      leg(goals, inWindow, "calories", "target"),
      leg(cardio, inWindow, "calories_burned", "burned"),
      leg(meals, inWindow, "calories", "eaten"),
      leg(measurements, mine && col("measure_name") === "Weight", "value", "weight"))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .repartition(1) // the one exchange: all later operators stay local
      .groupBy(col("userid"), col("date"))
      .agg(max(col("target")).as("calories_target"), // one Goals row per day (PK)
        sum(col("burned")).as("burned"), // A3 (COALESCEd below)
        sum(col("eaten")).as("eaten"), // A4: NULL on a day with no meals
        max(col("weight")).as("weight"))

    val byDate = Window.partitionBy(col("userid")).orderBy(col("date"))
    // A2 → A5: the latest Weight over all the user's days, then the RMR with
    // the constants of sql.py:201. No Weight row ⇒ NULL RMR ⇒ no rows.
    val latest = last(col("weight"), ignoreNulls = true)
      .over(byDate.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val rmr = lit(1.2) * (lit(10) * latest + lit(6.25) * 182 - lit(5) * 34 + 5)

    val deficitTarget = col("rmr") - col("calories_target") +
      coalesce(col("burned"), lit(0.0))
    val deficitActual = deficitTarget + (col("calories_target") - col("eaten"))

    // F9 first: in the reference's outer query the WHERE is evaluated before
    // its ROW_NUMBER, so day numbering skips the dropped days. The running
    // total is unaffected (SQL SUM ignores the NULL deficits either way).
    // The filter also drops the days without a Goals row in the window
    // (NULL calories_target) and a user without a Weight row (NULL rmr).
    days
      .withColumn("rmr", rmr)
      .where(deficitActual.isNotNull)
      .select(
        row_number().over(byDate).as("day_number"), // W1
        date_format(col("date"), "dd-MMM-yyyy").as("date"), // F2
        col("calories_target"),
        deficitTarget.cast("int").as("deficit_target"), // F4 truncation
        deficitActual.cast("int").as("deficit_actual"),
        // W2: ROUND half-up over the prefix sum; COALESCE; truncating CAST.
        coalesce(round(sum(deficitActual).over(
          byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 0), lit(0.0))
          .cast("int").as("deficit_accumulated"))
      .orderBy(col("day_number"))
  }
}
