package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name substrings — dev-loop filter
    // (the driver always passes exactly two args, so its run is unfiltered)
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(',').toSeq
        name => pats.exists(name.contains)
      } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> Json.str(v) }))
    // Declared rows-only queries (driver ask, carried r11–r17): every
    // catalog query WITHOUT a DuckDB twin is deliberate — not a coverage
    // gap — so label them machine-readably next to oracle_sql.json. Each
    // is anchored by an exact hash-matched twin (see SparkEntry.oracleSql's
    // scaladoc: q70 ↔ q78, q73 ↔ q79) plus its own bound-pinning spec.
    val rowsOnly = (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
      .toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/rows_only.json"),
      Json.obj(rowsOnly.map(_ -> "true")))
    spark.stop()
  }
}
