package graft

import java.time.LocalDate

import graft.api.Api

/** The public facade end-to-end: ETL → both reports → backup rotation,
  * through the same surface a library user calls. */
class ApiSpec extends SparkSpec {
  import sqlImplicits._

  test("etl → reports → backup through the Api facade") {
    val api = new Api(tmpDir("api-store"))
    assert(api.runEtl(spark.createDataset(
      Fixtures.fakeDays :+ Fixtures.fullDay)) == 4)

    // progress report over the loaded store (fullDay has goals+meals+cardio)
    val progress = api.runProgressReport(Fixtures.user, "2021-01-01")
    val rows = progress.collect()
    assert(rows.length == 1) // only fullDay has goals AND meals
    assert(rows.head.getAs[Int]("calories_target") == 2000)

    val nutrition = api.runNutritionReport(Fixtures.user,
      "2021-01-01", "2021-12-31")
    assert(nutrition.count() == 1)

    // window planning defaults (D14)
    assert(api.planWindow(today = LocalDate.of(2021, 6, 15)) ==
      (LocalDate.of(2021, 6, 9), LocalDate.of(2021, 6, 14)))

    // backup + FIFO rotation
    val backups = tmpDir("api-backups")
    (1 to 7).foreach { i =>
      api.runBackup(backups, today = LocalDate.of(2021, 3, i), maxBackups = 5)
    }
    val remaining = new java.io.File(backups).list().sorted.toSeq
    assert(remaining == (3 to 7).map(i => f"mfp_db_backup_2021-03-0$i"))
  }

  test("report flow end-to-end: store → table → HTML + PNG chart → .eml") {
    val api = new Api(tmpDir("api-report-store"))
    api.runEtl(spark.createDataset(Fixtures.fakeDays :+ Fixtures.fullDay))
    val outbox = tmpDir("api-outbox")
    val htmlPath = tmpDir("api-html") + "/report.html"
    // fullDay (2021-02-01) is the one report row; make it "yesterday"
    val sent = api.runProgressReportEmail(Fixtures.user, "2021-01-01",
      emailTo = "to@example.com",
      transport = new graft.reports.EmailSink.FileTransport(outbox),
      today = LocalDate.of(2021, 2, 2), saveTo = Some(htmlPath))
    assert(sent.isDefined)
    assert(sent.get.subject == "MyfitnessPaw Progress Report (Day 1)")
    val eml = java.nio.file.Files.readString(
      new java.io.File(outbox).listFiles().head.toPath)
    assert(eml.contains("Content-ID: <test.png@lisko.id>"))
    assert(eml.contains("01-Feb-2021")) // the report row inside the HTML part
    val html = java.nio.file.Files.readString(java.nio.file.Paths.get(htmlPath))
    assert(html.contains("<svg")) // inline chart in the html body too

    // stale data (today far past the last row) → D16 guard → nothing sent
    val none = api.runProgressReportEmail(Fixtures.user, "2021-01-01",
      emailTo = "to@example.com",
      transport = new graft.reports.EmailSink.FileTransport(outbox),
      today = LocalDate.of(2021, 6, 1))
    assert(none.isEmpty)
    assert(new java.io.File(outbox).listFiles().length == 1)
  }

  test("a report right after runEtl on the same Api includes the new day") {
    val api = new Api(tmpDir("api-fresh-report"))
    api.runEtl(spark.createDataset(Fixtures.fakeDays :+ Fixtures.fullDay))
    def dates = api.runProgressReport(Fixtures.user, "2021-01-01")
      .collect().map(_.getString(1)).toSeq
    assert(dates == Seq("01-Feb-2021"))
    val next = Fixtures.fullDay.copy(date = Fixtures.d("2021-02-02"))
    assert(api.runEtl(spark.createDataset(Seq(next))) == 1)
    assert(dates == Seq("01-Feb-2021", "02-Feb-2021"))
    assert(api.runNutritionReport(Fixtures.user, "2021-01-01", "2021-12-31")
      .collect().map(_.getDate(1).toString).toSeq == Seq("2021-02-01", "2021-02-02"))
  }

  test("a report against a deleted and re-created store root reads the new store") {
    val root = tmpDir("api-recreated") + "/store"
    val old = new Api(root)
    old.runEtl(spark.createDataset(Fixtures.fakeDays :+ Fixtures.fullDay))
    assert(old.runProgressReport(Fixtures.user, "2021-01-01").count() == 1)

    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(root))
    val api = new Api(root)
    api.runEtl(spark.createDataset(Seq(Fixtures.fullDay.copy(
      date = Fixtures.d("2021-03-01"), measurements = Map("Weight" -> 70.0)))))
    // RMR 1.2·(700 + 1137.5 − 165) = 2007: the new store's day and weight
    val rows = api.runProgressReport(Fixtures.user, "2021-01-01").collect()
    assert(rows.map(r => (r.getString(1), r.getInt(3))).toSeq ==
      Seq(("01-Mar-2021", 357))) // 2007 − 2000 + 350 burned
    assert(old.runProgressReport(Fixtures.user, "2021-01-01").collect()
      .map(_.getString(1)).toSeq == Seq("01-Mar-2021"))
  }

  test("first backup on an uninitialized store and fresh backup root") {
    // Neither the store dir nor the backup root exists yet — the first-ever
    // backup run must produce an empty snapshot, no NPE, no victims.
    val ghostStore = tmpDir("api-ghost") + "/never-created"
    val api = new Api(ghostStore)
    val backups = tmpDir("api-fresh") + "/backups"
    val victims = api.runBackup(backups, today = LocalDate.of(2021, 3, 1))
    assert(victims.isEmpty)
    assert(new java.io.File(backups).list().toSeq ==
      Seq("mfp_db_backup_2021-03-01"))
  }

  test("IVF ANN: results are exact-similarity true neighbors") {
    import org.apache.spark.sql.functions._
    val emb = (0L until 120L).map { i =>
      (i, Seq.tabulate(10)(j => math.sin(i * 1.9 + j * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val ivf = graft.operators.Similarity.ivfTopK(emb, "vec_id", "embedding",
      nCentroids = 8, nProbe = 3, queryPred = col("id") < 3, k = 5).collect()
    assert(ivf.nonEmpty)
    val exact = graft.operators.Similarity.bruteForceTopK(emb, "vec_id",
      "embedding", col("id") < 3, 120).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    ivf.foreach { r => // every IVF hit carries the true exact similarity
      assert(exact((r.getLong(0), r.getLong(2))) == r.getDouble(3))
    }
    // ranks are consecutive from 1 per query
    ivf.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (1 to g.length))
    }
  }
}
