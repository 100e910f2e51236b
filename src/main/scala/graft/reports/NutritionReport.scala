package graft.reports

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TableStore

/** The reference's nutrition-report query (sql.py:237-267): per-day Meals
  * nutrient sums (A1) matched to the day's Goals row on (userid, date)
  * (J2), day-of-week label (F2's SUBSTR weekday trick → `EEE`), BETWEEN
  * date filter (F7/F8), final ascending date sort (O3).
  *
  * One pass over the user's rows, like [[ProgressReport]]: Meals ∪ Goals
  * rows in the window → one exchange into a single partition → aggregate
  * per (userid, date) keeping the days with a meal and a goal (the inner
  * join) → local sort.
  *
  * The reference's leading 15-constant header row (U1) relies on SQLite
  * typelessness to union strings with numbers; [[withHeader]] reproduces it
  * bit-faithfully by casting every column to string — [[query]] returns the
  * typed rows (header belongs out-of-band in a typed engine).
  *
  * Note the reference groups by `date` alone while selecting `userid` —
  * legal in SQLite only because the WHERE pins one user; here we group by
  * both (identical results).
  */
object NutritionReport {

  def fromStore(store: TableStore, username: String, dateFrom: String,
                dateTo: String)(implicit spark: SparkSession): DataFrame =
    query(store.read("Meals"), store.read("Goals"), username, dateFrom, dateTo)

  def query(meals: DataFrame, goals: DataFrame, username: String,
            dateFrom: String, dateTo: String): DataFrame = {
    val nutrients = graft.model.Schemas.nutrientCols
    val inWindow = col("userid") === username &&
      col("date").between(to_date(lit(dateFrom)), to_date(lit(dateTo)))
    // a leg's missing nutrient columns read NULL; `meal` tells the legs
    // apart, since all of a day's nutrients may be NULL
    def leg(rows: DataFrame, meal: Boolean, suffix: String): DataFrame =
      rows.where(inWindow).select(col("userid") +: col("date") +:
        lit(meal).as("meal") +: nutrients.map(n => col(n).as(n + suffix)): _*)
    val perDay = nutrients.flatMap(n => Seq( // A1 sums beside the day's goals
      sum(col(s"${n}_actual")).as(s"${n}_actual"), max(col(s"${n}_goal")).as(s"${n}_goal")))

    leg(meals, meal = true, "_actual")
      .unionByName(leg(goals, meal = false, "_goal"), allowMissingColumns = true)
      .repartition(1) // one exchange; the aggregate and the sort stay local
      .groupBy(col("userid"), col("date"), // both keys — see scaladoc
        date_format(col("date"), "EEE").as("day_of_week"))
      .agg(count_if(col("meal")).as("meals"), count_if(!col("meal")).as("goals") +: perDay: _*)
      .where(col("meals") > 0 && col("goals") > 0) // J2: inner join
      .drop("meals", "goals")
      .orderBy(col("date").asc) // O3
  }

  /** U1: header row UNION ALL data rows, everything stringified. */
  def withHeader(rows: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val headers = Seq("username", "date", "day of week",
      "calories (actual)", "calories (goal)", "carbs (actual)", "carbs (goal)",
      "fat (actual)", "fat (goal)", "protein (actual)", "protein (goal)",
      "sodium (actual)", "sodium (goal)", "sugar (actual)", "sugar (goal)")
    val cols = rows.columns
    val header = spark.range(1)
      .select(headers.zip(cols).map { case (h, c) => lit(h).as(c) }: _*)
    header.unionAll(rows.select(cols.map(c => col(c).cast("string").as(c)): _*))
  }
}
