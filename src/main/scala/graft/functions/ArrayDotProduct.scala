package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, BloomFilterAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen dot product over two double arrays — the custom
  * Catalyst `Expression` tier (a codegen'd loop; no Scala UDF boxing,
  * no per-element Catalyst nodes). Accumulation is a sequential left
  * fold, bit-identical to the unrolled `a[0]*b[0] + a[1]*b[1] + …`
  * expression the DuckDB oracle uses (llm.Gen.dot64), so swapping this
  * in preserves exact float parity.
  *
  * Scale note: for fixed small dims the unrolled expression tree is
  * serviceable, but it grows the generated method linearly per term and
  * pins the dimension at plan time; the loop handles any dimension in
  * constant code size and stays inside whole-stage codegen.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The engine's native SQL functions, declared once:
  * [[GraftExtensions]] injects them at session build time, and
  * [[register]] installs the ones a session lacks (`expr("graft_dot(a,
  * b)")` then resolves). */
object Native {
  private def aggregate(f: AggregateFunction): Expression =
    f.toAggregateExpression()

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq[(String, Class[_], FunctionBuilder)](
      ("graft_dot", classOf[ArrayDotProduct],
        e => ArrayDotProduct(e(0), e(1))),
      ("graft_nfc", classOf[NfcNormalize], e => NfcNormalize(e(0))),
      ("graft_topk", classOf[TopKAgg], e => aggregate(TopKAgg(e(0), e(1)))),
      ("graft_heavyhitters", classOf[SpaceSavingAgg],
        e => aggregate(SpaceSavingAgg(e(0), e(1)))),
      ("graft_cdc_boundaries", classOf[CdcBoundariesExpr],
        e => CdcBoundariesExpr(e(0))),
      ("graft_sorted_inter", classOf[SortedIntersectSize],
        e => SortedIntersectSize(e(0), e(1))),
      ("graft_hist_l1", classOf[HistL1], e => HistL1(e(0), e(1))),
      // Spark ships BloomFilterAggregate / BloomFilterMightContain for
      // its runtime-filter rewrite but does not register them as SQL
      // functions; surfacing them lets a pipeline build a bloom filter
      // as DATA (build once over a dim's keys, broadcast, pre-filter
      // any number of fact scans) instead of relying on the per-query
      // rewrite.
      ("graft_bloom_agg", classOf[BloomFilterAggregate],
        e => aggregate(new BloomFilterAggregate(e(0), e(1), e(2)))),
      ("graft_might_contain", classOf[BloomFilterMightContain],
        e => BloomFilterMightContain(e(0), e(1)))
    ).map { case (name, cls, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id))
        registry.registerFunction(id, info, builder)
    }
  }
}
