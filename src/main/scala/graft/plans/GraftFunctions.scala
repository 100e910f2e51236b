package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** What every native expression in this package shares.
  *
  * Each expression's algorithm lives in ONE Scala kernel method: its
  * `nullSafeEval` calls that method, and its `doGenCode` emits a call to
  * the same method, so interpreted and whole-stage-codegen execution run
  * the same JIT-compiled loop and cannot drift apart.
  */
trait KernelExpression extends Expression {

  /** The one accepted type per child. Array element nullability is
    * ignored (`ARRAY<DOUBLE>` accepts arrays with or without null
    * elements); everything else must match exactly — no implicit casts. */
  protected def inputTypes: Seq[DataType]

  override def checkInputDataTypes(): TypeCheckResult = {
    def accepts(want: DataType, got: DataType): Boolean = (want, got) match {
      case (ArrayType(w, _), ArrayType(g, _)) => w == g
      case _ => want == got
    }
    val got = children.map(_.dataType)
    if (got.corresponds(inputTypes)((g, w) => accepts(w, g)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (${inputTypes.map(_.simpleString).mkString(", ")})" +
        s", got (${got.map(_.simpleString).mkString(", ")})")
  }

  /** Java source naming a kernel object, for generated code. */
  protected def kernelRef(kernel: AnyRef): String =
    kernel.getClass.getName + ".MODULE$"

  /** Generated body for a kernel that returns a boxed value, `null`
    * meaning SQL NULL. */
  protected def boxedKernelCall(ctx: CodegenContext, ev: ExprCode,
                                call: String): String = {
    val r = ctx.freshName("boxed")
    s"""${CodeGenerator.boxedType(dataType)} $r = $call;
       |if ($r == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = $r.${CodeGenerator.javaType(dataType)}Value(); }
     """.stripMargin
  }
}

/** The one table of the SQL functions this package defines. Both
  * `register` helpers and the `spark.sql.extensions` entry point read it. */
object GraftFunctions {
  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private def intArg(e: Expression): Int =
    e.asInstanceOf[Literal].value.asInstanceOf[Int]

  val table: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("dot_product", classOf[DotProduct])(a => DotProduct(a(0), a(1))),
    fn("cosine_sim", classOf[CosineSimilarity])(a => CosineSimilarity(a(0), a(1))),
    fn("long_dot", classOf[LongDotProduct])(a => LongDotProduct(a(0), a(1))),
    fn("long_sq_dist", classOf[LongSquaredDistance])(a => LongSquaredDistance(a(0), a(1))),
    fn("double_sort_key", classOf[DoubleSortKey])(a => DoubleSortKey(a(0))),
    fn("term_counts", classOf[TermCounts])(a => TermCounts(a(0))),
    fn("minhash_signature", classOf[MinHashSignature])(a =>
      MinHashSignature(a(0), intArg(a(1)))),
    fn("simhash64", classOf[SimHash64])(a => SimHash64(a(0))),
    fn("simhash64_portable", classOf[SimHash64])(a => SimHash64(a(0), portable = true)),
    fn("shingles", classOf[Shingles])(a => Shingles(a(0), intArg(a(1)))),
    fn("bpe_units", classOf[BpeUnits])(a => BpeUnits(a(0))),
    fn("normalize_ascii", classOf[NormalizeAscii])(a => NormalizeAscii(a(0))),
    fn("bigram_hashes", classOf[BigramHashes])(a => BigramHashes(a(0))))

  /** Registers every function of [[table]] on the session. Idempotent:
    * operators call it defensively per query, and blind re-registration
    * spams "replaced a previously registered function". */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }
}

/** Registration entry for the vector operators; registers the whole
  * [[GraftFunctions.table]]. */
object VectorExpressions {
  def register(spark: SparkSession): Unit = GraftFunctions.register(spark)
}

/** Registration entry for the text operators; registers the whole
  * [[GraftFunctions.table]]. */
object TextExpressions {
  def register(spark: SparkSession): Unit = GraftFunctions.register(spark)
}

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions` entry point:
  * injects every function of [[GraftFunctions.table]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach(ext.injectFunction)
}
