package perfbench

import java.sql.Date
import java.time.LocalDate
import java.util.SplittableRandom

import graft.model._

/** Seeded diary generator. A day's content is a pure function of
  * (seed, user, day index, revision), so a re-generated day is identical to
  * the stored one and a bumped revision always differs from it. Every day
  * carries goals and meals (so it is a progress-report row), meal entries,
  * both exercise kinds, notes, water and a measurement: all eight extract
  * branches of the ETL fill on every row. The seed drives the calorie,
  * water and weight values; the document shape never depends on it.
  */
object DiaryGen {

  val Start: LocalDate = LocalDate.of(2021, 1, 1)

  def user(u: Int): String = s"user$u@bench.test"

  def localDate(i: Int): LocalDate = Start.plusDays(i.toLong)

  private def rng(seed: Long, u: Int, i: Int, rev: Int) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      (u.toLong << 40) ^ (i.toLong << 16) ^ rev.toLong)

  def day(seed: Long, u: Int, i: Int, rev: Int = 0): MaterializedDay = {
    val r = rng(seed, u, i, rev)
    val cal = 400.0 + r.nextInt(300)
    val burned = 150.0 + r.nextInt(100)
    MaterializedDay(
      username = user(u),
      date = Date.valueOf(localDate(i)),
      meals = Seq(
        Meal("breakfast",
          Map("calories" -> cal, "carbohydrates" -> (40.0 + r.nextInt(40)),
            "fat" -> 20.0, "protein" -> 25.0, "sodium" -> 800.0,
            "sugar" -> 15.0),
          Seq(
            MealEntry("eggs", Some(2.0), Some("unit"),
              Map("calories" -> (cal / 2), "protein" -> 12.0)),
            MealEntry("toast", Some(1.0), Some("slice"),
              Map("calories" -> (cal / 2), "carbohydrates" -> 60.0)))),
        Meal("dinner", Map("calories" -> (cal + 100.0 + r.nextInt(400))),
          Seq.empty)),
      exercises = Seq(
        Seq(Exercise("running",
          Map("minutes" -> 30.0, "calories burned" -> burned))),
        Seq(Exercise("bench press",
          Map("sets" -> 3.0, "reps/set" -> 10.0, "weight/set" -> 60.0)))),
      goals = Map("calories" -> (1800.0 + r.nextInt(400)),
        "carbohydrates" -> 250.0, "fat" -> 70.0, "protein" -> 100.0),
      // the revision is part of the text, so an edit is never a no-op
      notes = Map("type" -> "food", "body" -> s"day $i rev $rev"),
      water = 1000.0 + r.nextInt(15) * 100,
      measurements = Map("Weight" -> (90.0 - i * 0.01 + r.nextInt(10) / 10.0)))
  }

  def history(seed: Long, users: Range, days: Int): Seq[MaterializedDay] =
    for { u <- users; i <- 0 until days } yield day(seed, u, i)

  /** Counts of every nested collection: the seed must not change them. */
  def shape(days: Seq[MaterializedDay]): Seq[Int] = Seq(
    days.size,
    days.map(_.meals.size).sum,
    days.map(_.meals.map(_.entries.size).sum).sum,
    days.map(_.meals.map(_.totals.size).sum).sum,
    days.map(_.exercises.map(_.size).sum).sum,
    days.map(_.goals.size).sum,
    days.map(_.notes.size).sum,
    days.map(_.measurements.size).sum)

  /** The daily traffic plan: users in a seeded order (each user once per
    * round) and, for about one window in ten, which earlier day of the
    * window is edited (0 = none, 1..5 = days back from the new day). */
  final class Plan(seed: Long, users: IndexedSeq[Int]) {
    private val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    private var order = IndexedSeq.empty[Int]
    private var pos = 0

    def next(): (Int, Int) = {
      if (pos == order.size) {
        order = shuffled(users); pos = 0
      }
      val u = order(pos); pos += 1
      val edit = if (r.nextInt(10) == 0) 1 + r.nextInt(5) else 0
      (u, edit)
    }

    private def shuffled(xs: IndexedSeq[Int]): IndexedSeq[Int] = {
      val a = xs.toArray
      for (k <- a.indices.reverse) {
        val j = r.nextInt(k + 1)
        val t = a(k); a(k) = a(j); a(j) = t
      }
      a.toIndexedSeq
    }
  }
}
