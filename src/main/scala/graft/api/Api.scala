package graft.api

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.backup.Snapshot
import graft.model.MaterializedDay
import graft.operators.EtlPipeline
import graft.reports.{NutritionReport, ProgressReport}
import graft.sources.{Dates, TableStore}

/** Public API mirroring the reference's three flows (api.py:23-90):
  * runEtl / runProgressReport / runNutritionReport / runBackup.
  *
  * The network scraper (S1) is out of engine scope — callers supply the
  * fetched days (a `Dataset[MaterializedDay]` from any source: staged
  * JSON-lines, a connector, test fixtures). Date-window planning is the
  * reference's D13/D14 logic.
  */
final class Api(storeRoot: String)(implicit spark: SparkSession) {

  val store = new TableStore(spark, storeRoot)

  /** ETL flow: plan window (for callers that fetch by date), diff, load.
    * Returns the number of new/changed days. */
  def runEtl(days: Dataset[MaterializedDay]): Long =
    EtlPipeline.run(store, days)

  /** Window planning helper for fetchers (D14 defaults). */
  def planWindow(from: Option[String] = None, to: Option[String] = None,
                 today: LocalDate = LocalDate.now()): (LocalDate, LocalDate) =
    Dates.prepareWindow(from, to, today)

  /** Report flow, progress variant (default end goal 150,000 kcal —
    * flows.py:152). */
  def runProgressReport(username: String, startingDate: String,
                        endGoal: Long = 150000L): DataFrame =
    ProgressReport.fromStore(store, username, startingDate, endGoal)

  /** Report flow, nutrition variant (typed rows; use
    * NutritionReport.withHeader for the stringified U1 shape). */
  def runNutritionReport(username: String, dateFrom: String,
                         dateTo: String): DataFrame =
    NutritionReport.fromStore(store, username, dateFrom, dateTo)

  /** The full report flow (reference flows.py:127-168: query → prepare
    * table → render HTML + chart → email + local save): D16 tail-window
    * guard, D17 progress bar, template-faithful HTML, PNG chart attachment
    * under the template's Content-ID, delivery through the transport seam.
    * Returns None when the D16 guard empties the report (stale data — the
    * reference sends nothing in that case). */
  def runProgressReportEmail(username: String, startingDate: String,
                             emailTo: String,
                             transport: graft.reports.EmailSink.Transport,
                             endGoal: Long = 150000L,
                             today: LocalDate = LocalDate.now(),
                             saveTo: Option[String] = None)
      : Option[graft.reports.EmailSink.Email] = {
    import graft.reports.{EmailSink, ReportRender}
    val rows = runProgressReport(username, startingDate, endGoal)
      .collect()
      .map(r => ReportRender.ReportRow(r.getInt(0), r.getString(1),
        r.getInt(2), r.getInt(3), Some(r.getInt(4)), r.getInt(5)))
    val table = ReportRender.prepareNutritionTable(rows, numRows = 7, today)
    if (table.isEmpty) None
    else {
      val bar = ReportRender.progressBarData(table, endGoal)
      val html = ReportRender.renderHtml(username, table, bar, today)
      saveTo.foreach(ReportRender.saveLocally(html, _))
      Some(EmailSink.sendReport(html, table.last.dayNumber, emailTo,
        bar.map(ReportRender.renderChartPng(_)), transport))
    }
  }

  /** Backup flow: snapshot + FIFO rotation of local snapshots (S9/D15). */
  def runBackup(backupRoot: String, today: LocalDate = LocalDate.now(),
                maxBackups: Int = 5): Seq[String] = {
    val name = Snapshot.backupName(today)
    Snapshot.copyDir(storeRoot, s"$backupRoot/$name")
    Snapshot.rotate(backupRoot, maxBackups)
  }
}
