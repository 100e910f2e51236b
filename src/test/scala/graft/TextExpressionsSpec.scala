package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.TextExpressions

/** The codegen'd MinHash expression must reproduce the lambda composition
  * bit-for-bit (same xxhash64 recipe), so LSH candidates are unchanged. */
class TextExpressionsSpec extends SparkSpec {
  import sqlImplicits._

  test("minhash_signature ≡ lambda composition, including empty arrays") {
    TextExpressions.register(spark)
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c d e f g h i j k l m",
      "x y" // fewer tokens than shingle size → empty shingles
    ).toDF("text")
      .select(TextFunctions.shingles(col("text"), 3).as("sh"))
    val got = df.select(
      call_function("minhash_signature", col("sh"), lit(64)).as("fast"),
      TextFunctions.minhashSignature(col("sh"), 64).as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    // empty shingle array → all-MaxValue signature (both paths)
    assert(got(2).getSeq[Long](0).forall(_ == Long.MaxValue))

    // null element hashes as the seed, exactly like the composed path's
    // xxhash64(NULL) = 42 (and no NPE) — SQL surface can hand the
    // expression arrays the tokens() builder never produces
    val withNull = spark.sql(
      """SELECT minhash_signature(array('a', CAST(NULL AS STRING)), 16) AS fast
        |""".stripMargin)
      .select(col("fast"),
        TextFunctions.minhashSignature(
          array(lit("a"), lit(null).cast("string")), 16).as("ref"))
      .collect().head
    assert(withNull.getSeq[Long](0) == withNull.getSeq[Long](1))
  }

  test("shingles ≡ transform/slice/concat_ws composition, incl. edge inputs") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a", // heavy duplicates → distinct collapses
      "a  b c", // double space → empty token, Java split semantics
      "x y", // fewer tokens than n → empty array
      "", // single empty token
      "one two three" // exactly n tokens → one shingle
    ).toDF("text")
    val got = docs.select(
        TextFunctions.shingles(col("text"), 3).as("fast"),
        TextFunctions.shinglesComposed(col("text"), 3).as("ref"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"doc $i diverged")
    }
  }

  test("token_occurrences ≡ size(filter(...)) composition") {
    val docs = Seq(
      "the cat and the dog and the bird",
      "thethe the-x the", // exact-match only
      "a  the b", // empty tokens from double space must not match
      ""
    ).toDF("text")
    for (w <- Seq("the", "and", "a", "")) {
      val got = docs.select(
          TextFunctions.tokenOccurrences(col("text"), w).as("fast"),
          TextFunctions.tokenOccurrencesComposed(col("text"), w).as("ref"))
        .collect()
      got.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(0) == r.getInt(1), s"doc $i word '$w' diverged")
      }
    }
  }

  test("simhash64 ≡ explode → 64 vote sums composition") {
    TextExpressions.register(spark)
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "the the the repeated repeated tokens tokens tokens here",
      "completely different content about spark query engines",
      "" // single empty token — votes all from one hash
    ).toDF("text").withColumn("id", monotonically_increasing_id())
    val fused = docs.select(col("id"),
      call_function("simhash64", TextFunctions.tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the composition this replaced, verbatim
    val th = docs
      .select(col("id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$b"))
    val packed = (0 until 64)
      .map(b => when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    val composed = th.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), packed.as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == composed)

    // registered-function surface beyond tokens(): a null element votes
    // with the seed like xxhash64(NULL) (no NPE), an empty array is NULL
    // (the explode dropped such docs — empty docs must not all collide at
    // simhash 0)
    val edge = spark.sql(
      """SELECT simhash64(array('a', CAST(NULL AS STRING))) AS with_null,
        |       simhash64(CAST(array() AS ARRAY<STRING>)) AS empty,
        |       simhash64(CAST(NULL AS ARRAY<STRING>)) AS null_arr""".stripMargin)
      .collect().head
    assert(!edge.isNullAt(0))
    assert(edge.isNullAt(1) && edge.isNullAt(2))
  }

  test("term_counts ≡ explode → groupBy(id, term) composition") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a b a c b a"),
      (2L, "solo"),
      (3L, ""), // split('') = [''] — one empty-string term, like the twin
      (4L, "x x x x")).toDF("id", "text")
    val viaExpr = docs.select(col("id"),
        explode(graft.functions.TextFunctions.termCounts(
          split(col("text"), " "))).as("tc"))
      .select(col("id"), col("tc.term"), col("tc.tf").cast("long"))
      .as[(Long, String, Long)].collect().toSet
    val viaGroup = docs.select(col("id"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    assert(viaExpr == viaGroup)
    // insertion order within a row is first-occurrence — deterministic
    val row1 = docs.where(col("id") === 1).select(
      graft.functions.TextFunctions.termCounts(split(col("text"), " ")))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(row1.map(_.getString(0)) == Seq("a", "b", "c"))
    assert(row1.map(_.getInt(1)) == Seq(3, 2, 1))
  }

  test("normalize_ascii ≡ lower/regex/regex/trim composition, incl. Unicode") {
    TextExpressions.register(spark)
    val inputs = Seq(
      "  Hello,   WORLD!! 42  ",
      "", "   ", "!!!???", "already clean text",
      "tabs\tand\nnewlines\r\nmix",
      "MiXeD123CaSe...punct---end",
      "café résumé naïve", // lower keeps non-ASCII → spaces
      "Kelvin and 100K", // U+212A lowers INTO ASCII 'k'
      "İstanbul İİ", // U+0130 → 'i' + combining dot
      "Σοφός Σ", // Greek incl. final-sigma context
      "emoji 😀 4byte 😀x",
      "ȧb combining", // bare combining dot between letters
      "trailing junk!!!", "!!!leading junk", "x", "5", "K"
    )
    val df = inputs.toDF("text")
    val got = df.select(
      TextFunctions.normalizeAscii(col("text")).as("fast"),
      TextFunctions.normalizeComposed(col("text")).as("ref"),
      call_function("normalize_ascii", col("text")).as("sql"))
      .collect()
    got.zip(inputs).foreach { case (r, in) =>
      assert(r.getString(0) == r.getString(1),
        s"kernel '${r.getString(0)}' != composed '${r.getString(1)}' for <$in>")
      assert(r.getString(2) == r.getString(1), s"SQL surface diverged for <$in>")
    }
    // null flows through as null, like the composed chain
    val n = Seq((1, Option.empty[String])).toDF("id", "text")
      .select(TextFunctions.normalizeAscii(col("text"))).collect().head
    assert(n.isNullAt(0))
  }

  test("bigram_hashes ≡ zip_with/concat_ws/md5 composition + codegen pin") {
    TextExpressions.register(spark)
    val composed = (a: org.apache.spark.sql.Column) => zip_with(
      slice(a, lit(1), size(a) - 1),
      slice(a, lit(2), size(a) - 1),
      (x, y) => struct(
        graft.functions.PortableHash.md5Head60(concat_ws(" ", x, y)).as("hbg"),
        graft.functions.PortableHash.md5Head60(x).as("h1")))
    val df = Seq(
      "the quick brown fox",
      "a  b", // repeated separator → empty middle token rides the bigrams
      "héllo wörld ünïcode",
      "single",   // one token → empty output
      "x y"
    ).toDF("text").select(split(col("text"), " ").as("a"))
    val rows = df.select(
      call_function("bigram_hashes", col("a")).as("fast"),
      composed(col("a")).as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) ==
        r.getSeq[org.apache.spark.sql.Row](1), s"mismatch in $r")
    }
    assert(rows(3).getSeq[org.apache.spark.sql.Row](0).isEmpty)

    // null elements (SQL surface only): concat_ws skips null parts and a
    // null head token yields a NULL h1, exactly like md5(NULL)
    val nulls = spark.sql(
      "SELECT bigram_hashes(array('a', CAST(NULL AS STRING), 'b')) AS fast")
      .select(col("fast"), composed(
        array(lit("a"), lit(null).cast("string"), lit("b"))).as("ref"))
      .collect().head
    assert(nulls.getSeq[org.apache.spark.sql.Row](0) ==
      nulls.getSeq[org.apache.spark.sql.Row](1))

    // codegen compile pin (the shared sweep below compares element arrays
    // with InternalRow equality, which struct rows don't define — so the
    // compile + parity check for this expression lives here, field by
    // field)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val arrRef = BoundReference(0, ArrayType(StringType), nullable = true)
    val e = graft.plans.BigramHashes(arrRef)
    val proj = GenerateMutableProjection.generate(Seq(e)) // throws on bad Java
    val in = InternalRow(ArrayData.toArrayData(Array(
      UTF8String.fromString("the"), UTF8String.fromString("quick"),
      UTF8String.fromString("fox"))))
    val cg = proj(in).get(0, e.dataType).asInstanceOf[ArrayData]
    val ie = e.eval(in).asInstanceOf[ArrayData]
    assert(cg.numElements() == 2 && ie.numElements() == 2)
    (0 until 2).foreach { i =>
      val (a, b) = (cg.getStruct(i, 2), ie.getStruct(i, 2))
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1))
    }
  }

  test("every custom expression's doGenCode COMPILES — no interpreted fallback") {
    // Whole-stage codegen catches janino compile errors and silently falls
    // back to interpreted execution (an ERROR log line is the only trace),
    // so a broken doGenCode passes every result-level spec while losing the
    // entire point of the kernel. Generate a projection for each expression
    // directly — at this layer a compile failure THROWS. (Caught live: a
    // classOf[Array[...]].getName type string emitted the JVM binary name
    // "[L...;" into a cast, killing codegen for every langId stage.)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val str = BoundReference(0, StringType, nullable = true)
    val arr = BoundReference(1, ArrayType(StringType), nullable = true)
    val vec = BoundReference(2, ArrayType(DoubleType), nullable = true)
    val lvec = BoundReference(3, ArrayType(LongType), nullable = true)
    val dbl = BoundReference(4, DoubleType, nullable = true)
    val lvec2 = BoundReference(5, ArrayType(LongType), nullable = true)
    val exprs = Seq(
      graft.plans.Shingles(str, 3),
      graft.plans.NormalizeAscii(str),
      graft.plans.TokenOccurrences(str, "the"),
      graft.plans.TokenCounts(str, Seq("the", "a", "data")),
      graft.plans.SimHash64(arr),
      graft.plans.TermCounts(arr),
      graft.plans.MinHashSignature(arr, 16),
      graft.plans.DotProduct(vec, vec),
      graft.plans.CosineSimilarity(vec, vec),
      graft.plans.HyperplaneSig(vec, 4, 8),
      graft.plans.LongDotProduct(lvec, lvec),
      graft.plans.LongSquaredDistance(lvec, lvec2),
      graft.plans.DoubleSortKey(dbl),
      graft.plans.BpeUnits(str),
      graft.plans.BigramHashes(arr),
      graft.plans.SimHash64(arr, portable = true),
      graft.plans.HyperplaneSig(vec, 4, 8, portable = true))
    val proj = GenerateMutableProjection.generate(exprs) // throws on bad Java
    val row = InternalRow(
      UTF8String.fromString("the quick brown fox and the lazy dog"),
      ArrayData.toArrayData(Array(UTF8String.fromString("the"),
        UTF8String.fromString("fox"))),
      ArrayData.toArrayData(Array(1.0, 2.0, 3.0, 4.0)),
      ArrayData.toArrayData(Array(3L, -1L, 4L)),
      -2.5,
      ArrayData.toArrayData(Array(1L, 5L, -2L)))
    val out = proj(row)
    // spot-check against interpreted eval so both paths agree
    exprs.zipWithIndex.foreach { case (e, i) =>
      assert(out.get(i, e.dataType) != null, s"$e produced null")
      val interp = e.eval(row)
      (out.get(i, e.dataType), interp) match {
        case (a: ArrayData, b: ArrayData) =>
          assert(a.toObjectArray(e.dataType.asInstanceOf[ArrayType].elementType)
            .toSeq == b.toObjectArray(
              e.dataType.asInstanceOf[ArrayType].elementType).toSeq,
            s"codegen/interpreted mismatch for $e")
        case (a, b) => assert(a == b, s"codegen/interpreted mismatch for $e")
      }
    }
  }
}
