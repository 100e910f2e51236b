package graft

/** The driver's smoke contract: entry() on sf0.001 must return rows, and
  * every catalog query must have matching column names with its oracle's
  * projection (the driver's compare sorts columns by name before hashing —
  * a silent rename would zero a query's score). */
class EntrySpec extends SparkSpec {

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; every query runs at sf0.001") {
    val qs = SparkEntry.queries
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(qs.contains(k), s"oracle $k has no query")
    }
    qs.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.limit(1).count() >= 0) // analyzes + executes the plan head
    }
  }

  test("sparse top-k queries return rows ordered by (qid, rank) with AQE off") {
    // with AQE on, the small result happened to coalesce into one
    // partition and came back in rank order; with it off, the rank
    // window's output partitions arrive in plan order. The oracles
    // ORDER BY qid, rank, so the order belongs to the result.
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    try {
      val unordered = Seq("q136_sparse_retrieval",
          "q151_sparse_search_stored", "q170_sparse_token_search")
        .filterNot { name =>
          val got = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
            .collect().toSeq
            .map(r => (r.getAs[Number]("qid").longValue,
              r.getAs[Number]("rank").longValue))
          assert(got.nonEmpty, s"$name returned no rows")
          got == got.sorted
        }
      assert(unordered.isEmpty, s"rows not in (qid, rank) order: $unordered")
    } finally saved.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }
}
