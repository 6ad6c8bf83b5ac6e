package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst kernel for the similarity hot path.
  *
  * `aggregate(zip_with(a, b, ...))` is semantically right but executes
  * as interpreted higher-order lambdas with a materialized zipped
  * array per row — outside WholeStageCodegen. For a pair join doing
  * millions of 64-lane dot products that interpretation overhead IS
  * the query cost. [[DotProduct]] is the same sequential
  * multiply-accumulate (bit-identical IEEE result, so the DuckDB
  * oracle is unchanged) as a leaf expression with `doGenCode`: a tight
  * primitive loop over the two ArrayData buffers, no allocation,
  * fused into the surrounding codegen stage.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  // mismatched lengths yield NULL (below), even for non-null inputs
  override def nullable: Boolean = true

  // Length mismatch yields NULL, matching the HOF form this kernel
  // replaces: zip_with pads the shorter array with null lanes, which
  // null the aggregate sum. Truncating to the shorter length would
  // return a plausible PARTIAL dot product for what is always a data
  // bug (a 32-lane column joined against 64-lane vectors).
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer twin of [[DotProduct]] for quantized vectors: exact i64
  * multiply-accumulate over two array<bigint> columns — the scoring
  * kernel of the int8-quantized ANN path, where exactness (no float
  * accumulation at all) is the point.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dotl"

  // captured at driver-side construction: under ANSI the HOF form this
  // kernel replaces (RewriteHofDot) raises on i64 overflow, so the
  // kernel must too — a rewrite that swapped a loud ArithmeticException
  // for silent wraparound would change error semantics. multiplyExact/
  // addExact are JIT intrinsics, same speed as bare ops until they
  // throw; the int8 path (|lane| <= 127) can never reach the check.
  // Declared delta vs the HOF form: the raised exception is the JDK's
  // bare ArithmeticException("long overflow"), not Spark's
  // SparkArithmeticException with the ARITHMETIC_OVERFLOW class —
  // matching the class would need the private[sql] error factories.
  private val failOnOverflow =
    org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  // mismatched lengths yield NULL, as in [[DotProduct]]
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    if (failOnOverflow)
      while (i < n) {
        acc = Math.addExact(acc, Math.multiplyExact(x.getLong(i), y.getLong(i))); i += 1
      }
    else
      while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val step =
        if (failOnOverflow)
          s"$acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($a.getLong($i), $b.getLong($i)));"
        else
          s"$acc += $a.getLong($i) * $b.getLong($i);"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $step
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  val DotName = "graft_dot"
  val DotLongName = "graft_dotl"
  val VSumName = "graft_vsum"

  private[functions] def unaryBuilder(name: String,
      f: Expression => Expression): Seq[Expression] => Expression =
    children => {
      if (children.size != 1)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map("functionName" -> name, "expectedNum" -> "1",
            "actualNum" -> children.size.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      f(children.head)
    }

  /** Arity-checked builder: a wrong-arity SQL call gets a clean
    * analysis-time error naming the function, not an
    * IndexOutOfBounds from deep inside the analyzer.
    */
  private[functions] def binaryBuilder(name: String,
      f: (Expression, Expression) => Expression): Seq[Expression] => Expression =
    children => {
      if (children.size != 2)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          // exactly the WITHOUT_SUGGESTION template's parameters —
          // passing the WITH_SUGGESTION legacy* trio here turns the
          // clean arity error into an INTERNAL_ERROR on Spark builds
          // that validate messageParameters against the template
          messageParameters = Map("functionName" -> name, "expectedNum" -> "2",
            "actualNum" -> children.size.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      f(children.head, children(1))
    }

  /** Make `graft_dot(a, b)` / `graft_dotl(a, b)` available to
    * `expr(...)` in this session. Idempotent; called by the operators
    * that use them.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      DotName, binaryBuilder(DotName, DotProduct.apply), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      DotLongName, binaryBuilder(DotLongName, DotProductLong.apply), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      VSumName, unaryBuilder(VSumName,
        c => VectorSumAgg(c).toAggregateExpression()), "scala_udf")
  }
}

/** SparkSessionExtensions entry point: sessions created with
  * `spark.sql.extensions=graft.functions.GraftExtensions` get the graft
  * function surface without any per-operator registration call — the
  * deployment path for spark-submit jobs.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(VectorExprs.DotName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotProduct].getName, VectorExprs.DotName),
      VectorExprs.binaryBuilder(VectorExprs.DotName, DotProduct.apply)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(VectorExprs.DotLongName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotProductLong].getName, VectorExprs.DotLongName),
      VectorExprs.binaryBuilder(VectorExprs.DotLongName, DotProductLong.apply)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(VectorExprs.VSumName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[VectorSumAgg].getName, VectorExprs.VSumName),
      VectorExprs.unaryBuilder(VectorExprs.VSumName,
        c => VectorSumAgg(c).toAggregateExpression())))
    // users writing the portable HOF dot form get the codegen kernel
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofDot)
    // the per-group top-k physical operator plans without the
    // TopK.perGroup helper's self-registration fallback
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalRankStrategy)
  }
}
