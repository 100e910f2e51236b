package graft

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{expr, lit, sum}

import graft.model.Schemas
import graft.reports.{NutritionReport, ProgressReport}
import graft.sources.TableStore

/** Golden tests for the two report queries — the most complex logic in the
  * reference and completely untested there (SURVEY §5.1). Goldens are
  * hand-computed from the SQL semantics at sql.py:196-235 / 237-267,
  * including the NULL-propagation drop (A4), truncating casts (F4), and
  * half-up rounding of the running total (F5).
  */
class ReportsSpec extends SparkSpec {

  private val u = "user@example.com"
  private def d(s: String) = Date.valueOf(s)

  private def df(schema: org.apache.spark.sql.types.StructType, rows: Row*) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // Weight 80.3 → RMR = 1.2·(803 + 6.25·182 − 170 + 5) = 2130.6
  private lazy val measurements = df(Schemas.measurements,
    Row(u, d("2021-02-01"), "Weight", 99.0), // older — must lose to latest
    Row(u, d("2021-02-20"), "Weight", 80.3),
    Row(u, d("2021-02-20"), "Waist", 85.0)) // different measure — ignored

  private lazy val goals = df(Schemas.goals,
    Seq("2021-03-01", "2021-03-02", "2021-03-03", "2021-03-04")
      .map(dt => Row(u, d(dt), 2000: Integer, null, null, null, null, null)): _*)

  private lazy val cardio = df(Schemas.cardioExercises,
    Row(1L, u, d("2021-03-01"), "run", 30.0, 300.0),
    Row(2L, u, d("2021-03-03"), "run", 10.0, 100.0),
    Row(3L, u, d("2021-03-03"), "row", 5.0, 50.0))

  private def meal(dt: String, name: String, cal: Int) =
    Row(u, d(dt), name, cal: Integer, null, null, null, null, null)

  private lazy val meals = df(Schemas.meals,
    meal("2021-03-01", "breakfast", 1000), meal("2021-03-01", "dinner", 800),
    meal("2021-03-02", "lunch", 1200), meal("2021-03-02", "dinner", 1300),
    // 2021-03-03: NO meals → deficit_actual NULL → row drops (A4/F9)
    meal("2021-03-04", "dinner", 2100))

  test("progress report golden: truncation, NULL drop, renumbering, running total") {
    val got = ProgressReport.query(measurements, goals, cardio, meals,
      u, "2021-03-01", 150000L)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5)))
    // deficit_target = RMR − goal + cardio (trunc); deficit_actual adds
    // (goal − eaten); accumulated = round(prefix sum) — NULL day skipped,
    // day_number renumbers the survivors.
    assert(got.toSeq == Seq(
      (1, "01-Mar-2021", 2000, 430, 630, 631),   // 430.6 / 630.6 / round 630.6
      (2, "02-Mar-2021", 2000, 130, -369, 261),  // trunc(-369.4) → -369
      (3, "04-Mar-2021", 2000, 130, 30, 292)))   // day 3 dropped, renumbered
  }

  test("SQL twin with correlated subqueries matches the DataFrame plan") {
    val df = ProgressReport.query(measurements, goals, cardio, meals,
      u, "2021-03-01", 150000L).collect().map(_.toSeq)
    val sql = ProgressReport.sqlQuery(measurements, goals, cardio, meals,
      u, "2021-03-01")(spark).collect().map(_.toSeq)
    assert(df.toSeq == sql.toSeq)

    // a quoted username is DATA in both twins — the SQL twin interpolates
    // into single-quoted literals, so an unescaped o'brien would be a
    // parse error (or injected SQL) while the === twin just matches rows
    val quoted = "o'brien"
    val dfQ = ProgressReport.query(measurements, goals, cardio, meals,
      quoted, "2021-03-01", 150000L).collect()
    val sqlQ = ProgressReport.sqlQuery(measurements, goals, cardio, meals,
      quoted, "2021-03-01")(spark).collect()
    assert(dfQ.map(_.toSeq).toSeq == sqlQ.map(_.toSeq).toSeq)
  }

  test("progress report: day with no goals row simply absent") {
    val g2 = df(Schemas.goals,
      Row(u, d("2021-03-01"), 2000: Integer, null, null, null, null, null))
    val got = ProgressReport.query(measurements, g2, cardio, meals,
      u, "2021-03-01", 150000L).collect()
    assert(got.length == 1)
  }

  // ---- the single-user pass against its reference-shaped SQL witness ----

  private val v = "v@example.com"
  private val start = "2021-03-01"

  /** [[ProgressReport.query]]'s rows, asserted equal to [[ProgressReport.sqlQuery]]'s. */
  private def progress(m: DataFrame, g: DataFrame, c: DataFrame, ml: DataFrame,
                       user: String = u): Seq[(Int, String, Int, Int, Int, Int)] = {
    val got = ProgressReport.query(m, g, c, ml, user, start, 150000L).collect().map(_.toSeq).toSeq
    val sql = ProgressReport.sqlQuery(m, g, c, ml, user, start)(spark).collect().map(_.toSeq).toSeq
    assert(got == sql)
    got.map(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[String], r(2).asInstanceOf[Int],
      r(3).asInstanceOf[Int], r(4).asInstanceOf[Int], r(5).asInstanceOf[Int]))
  }

  private val golden = Seq(
    (1, "01-Mar-2021", 2000, 430, 630, 631),
    (2, "02-Mar-2021", 2000, 130, -369, 261),
    (3, "04-Mar-2021", 2000, 130, 30, 292))

  /** The fixture tables for user [[u]] plus a second user [[v]] on the same
    * dates with other values, so a leak between users changes some sum. */
  private lazy val twoUsers = {
    def asV(rows: DataFrame) = rows.withColumn("userid", lit(v))
    val vm = df(Schemas.measurements,
      Row(v, d("2021-02-25"), "Weight", 60.0), Row(v, d("2021-03-05"), "Waist", 70.0))
    Seq(measurements.union(vm),
      goals.union(asV(goals).withColumn("calories", lit(1500))),
      cardio.union(asV(cardio).withColumn("calories_burned", lit(999.0))),
      meals.union(asV(meals).where("date <> '2021-03-02'")))
  }

  private def storeOf(tables: Seq[DataFrame]): TableStore = {
    val store = new TableStore(spark, tmpDir("reports-store"))
    store.init()
    Seq("Measurements", "Goals", "CardioExercises", "Meals").zip(tables)
      .foreach { case (t, rows) => store.append(t, rows) }
    store
  }

  test("single pass: two users in all four tables, each report its own rows") {
    val store = storeOf(twoUsers)
    val Seq(m, g, c, ml) =
      Seq("Measurements", "Goals", "CardioExercises", "Meals").map(store.read)
    assert(progress(m, g, c, ml, u) == golden)
    val vRows = progress(m, g, c, ml, v)
    // v's own tables alone give v's report: nothing of u's leaks in
    val vOnly = twoUsers.map(_.where(s"userid = '$v'"))
    assert(vRows == progress(vOnly(0), vOnly(1), vOnly(2), vOnly(3), v))
    // RMR 1.2·(600 + 1137.5 − 165) = 1887; v has no meals on 03-02 or 03-03
    assert(vRows == Seq(
      (1, "01-Mar-2021", 1500, 1386, 1086, 1086),
      (2, "04-Mar-2021", 1500, 387, -213, 873)))
    assert(ProgressReport.fromStore(store, v, start, 150000L).collect()
      .map(_.getInt(4)).toSeq == vRows.map(_._5))
  }

  test("single pass: latest Weight before the start date, and on a day with no Goals row") {
    // the fixture's latest Weight (02-20) already predates the start
    assert(progress(measurements, goals, cardio, meals) == golden)
    // a later Weight on a day with no Goals row is still the latest, and
    // it sets the RMR of every day, not only of the days after it:
    // RMR = 1.2·(703 + 1137.5 − 165) = 2010.6
    val later = measurements.union(df(Schemas.measurements,
      Row(u, d("2021-03-10"), "Weight", 70.3)))
    assert(progress(later, goals, cardio, meals) == Seq(
      (1, "01-Mar-2021", 2000, 310, 510, 511),
      (2, "02-Mar-2021", 2000, 10, -489, 21),
      (3, "04-Mar-2021", 2000, 10, -89, -68)))
  }

  test("single pass: no Weight row gives an empty report") {
    val noWeight = measurements.where("measure_name <> 'Weight'")
    assert(progress(noWeight, goals, cardio, meals).isEmpty)
  }

  test("single pass: a Goals row with NULL calories drops its day") {
    val g = goals.withColumn("calories",
      expr("IF(date = DATE'2021-03-02', CAST(NULL AS INT), calories)"))
    // 03-02 leaves the running total and the numbering
    assert(progress(measurements, g, cardio, meals) == Seq(
      (1, "01-Mar-2021", 2000, 430, 630, 631),
      (2, "04-Mar-2021", 2000, 130, 30, 661)))
  }

  test("single pass: a cardio-only day and a meals-only day add no rows") {
    val c = cardio.union(df(Schemas.cardioExercises,
      Row(4L, u, d("2021-03-05"), "run", 30.0, 300.0)))
    val ml = meals.union(df(Schemas.meals, meal("2021-03-06", "lunch", 700)))
    assert(progress(measurements, goals, c, ml) == golden)
  }

  test("single pass: a report over a TableStore runs at most 2 Spark jobs") {
    val store = storeOf(twoUsers)
    // one job for the four scans feeding the single exchange, one for the
    // result; the sort after it is local, so no range-sampling job
    assert(jobsIn(ProgressReport.fromStore(store, u, start, 150000L).collect()) <= 2)
    assert(jobsIn(NutritionReport.fromStore(store, u, start, "2021-03-31").collect()) <= 2)
  }

  test("single pass: the same rows under AQE off, 1 and 7 shuffle partitions, no broadcast") {
    val store = storeOf(twoUsers)
    def reports = Seq(u, v).map { user =>
      (ProgressReport.fromStore(store, user, start, 150000L).collect().toSeq,
        NutritionReport.fromStore(store, user, start, "2021-03-31").collect().toSeq)
    }
    val expected = reports
    assert(expected.head._1.map(_.getInt(5)) == golden.map(_._6))
    Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1").foreach { case (k, value) =>
      val before = spark.conf.getOption(k)
      spark.conf.set(k, value)
      try assert(reports == expected, s"$k=$value")
      finally before match {
        case Some(b) => spark.conf.set(k, b)
        case None => spark.conf.unset(k)
      }
    }
  }

  test("nutrition single pass: only days with a meal and a goal, as the join form gives") {
    val Seq(_, g, _, m) = twoUsers
    val ml = m.union(df(Schemas.meals, meal("2021-03-06", "lunch", 700))) // no goal
    val n = Schemas.nutrientCols
    for (user <- Seq(u, v)) {
      val got = NutritionReport.query(ml, g, user, start, "2021-03-31")
      // the reference's shape: grouped meal sums inner-joined to Goals
      val sums = n.map(c => sum(c).as(s"${c}_actual"))
      val joined = ml.where(s"userid = '$user'").groupBy("userid", "date")
        .agg(sums.head, sums.tail: _*)
        .join(g, Seq("userid", "date"))
        .selectExpr(Seq("userid", "date", "date_format(date, 'EEE') AS day_of_week") ++
          n.flatMap(c => Seq(s"${c}_actual", s"$c AS ${c}_goal")): _*)
        .orderBy("date")
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        joined.schema.map(f => (f.name, f.dataType))) // *_actual long, *_goal int
      assert(got.collect().toSeq == joined.collect().toSeq)
    }
    assert(NutritionReport.query(ml, g, u, start, "2021-03-31").collect()
      .map(_.getDate(1).toString).toSeq == Seq("2021-03-01", "2021-03-02", "2021-03-04"))
  }

  test("q19 analog: day_number renumbers after the NULL-actual drop (no gaps)") {
    // Reference semantics (sql.py:208,234): the WHERE that drops NULL-actual
    // days is evaluated before ROW_NUMBER, so surviving days are numbered
    // 1..n contiguously per user — the pre-fix analog numbered first and
    // left gaps where dropped days sat.
    val rows = graft.queries.Relational
      .q19ProgressReport(spark, "/root/testdata/sf0.001")
      .select("o_custkey", "day_number").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.nonEmpty)
    val gaps = rows.groupBy(_._1).filter { case (_, g) =>
      g.map(_._2).sorted.toSeq != (1 to g.length).toSeq
    }
    assert(gaps.isEmpty, s"non-contiguous day_number for users ${gaps.keys.take(5)}")
  }

  test("nutrition report golden: sums, goals join, day-of-week, order") {
    val nmeal = Row(u, d("2021-03-01"), "breakfast",
      1000: Integer, 100: Integer, 30: Integer, 50: Integer,
      2000: Integer, 40: Integer)
    val nmeal2 = Row(u, d("2021-03-01"), "dinner",
      800: Integer, 90: Integer, 25: Integer, 40: Integer,
      1500: Integer, 30: Integer)
    val nmeal3 = Row(u, d("2021-03-02"), "lunch",
      2500: Integer, 300: Integer, 80: Integer, 110: Integer,
      2300: Integer, 95: Integer)
    val nmeals = df(Schemas.meals, nmeal, nmeal2, nmeal3)
    val ngoals = df(Schemas.goals,
      Row(u, d("2021-03-01"), 2000: Integer, 250: Integer, 70: Integer,
        100: Integer, 2300: Integer, 90: Integer),
      Row(u, d("2021-03-02"), 2000: Integer, 250: Integer, 70: Integer,
        100: Integer, 2300: Integer, 90: Integer))

    val got = NutritionReport.query(nmeals, ngoals, u,
      "2021-03-01", "2021-03-07").collect()
    assert(got.length == 2)
    val r1 = got(0)
    assert(r1.getDate(1).toString == "2021-03-01")
    assert(r1.getString(2) == "Mon") // 2021-03-01 was a Monday
    assert(r1.getLong(3) == 1800L) // calories_actual = 1000 + 800
    assert(r1.getInt(4) == 2000)   // calories_goal
    assert(r1.getLong(5) == 190L)  // carbs_actual
    val r2 = got(1)
    assert(r2.getDate(1).toString == "2021-03-02")
    assert(r2.getString(2) == "Tue")
    assert(r2.getLong(3) == 2500L)
  }

  test("nutrition report U1 header variant") {
    val nmeals = df(Schemas.meals,
      Row(u, d("2021-03-01"), "breakfast", 1000: Integer, null, null, null, null, null))
    val ngoals = df(Schemas.goals,
      Row(u, d("2021-03-01"), 2000: Integer, null, null, null, null, null))
    val rows = NutritionReport.query(nmeals, ngoals, u, "2021-03-01", "2021-03-02")
    val withH = NutritionReport.withHeader(rows)(spark).collect()
    assert(withH.length == 2)
    assert(withH(0).getString(0) == "username")
    assert(withH(0).getString(2) == "day of week")
    assert(withH(1).getString(0) == u) // data stringified underneath
  }
}
