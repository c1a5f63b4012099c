package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.VectorExpressions.{LongArrayEqCount, SimHash64, VectorDot}

/** Session extension registering the engine's native expressions as
  * SQL functions — `spark.sql("SELECT vector_dot(a, b) ...")` works
  * next to the Column API. Install with:
  *
  * {{{
  * Sessions.local("app",
  *   extraConf = Map("spark.sql.extensions" -> "graft.GraftExtensions"))
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Register on an already-built session (tests, REPLs). */
  def registerOn(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.registerFunction
    registerFunction(spark, "vector_dot", args => VectorDot(args(0), args(1)))
    registerFunction(spark, "simhash64", args => SimHash64(args.head))
    registerFunction(spark, "minhash_agreement",
      args => LongArrayEqCount(args(0), args(1)))
    registerFunction(spark, "pii_scan",
      args => graft.functions.PiiExpressions.PiiScan(args.head))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_agreement"),
      new ExpressionInfo(classOf[LongArrayEqCount].getName, "minhash_agreement"),
      (args: Seq[Expression]) => LongArrayEqCount(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("pii_scan"),
      new ExpressionInfo(
        classOf[graft.functions.PiiExpressions.PiiScan].getName, "pii_scan"),
      (args: Seq[Expression]) => graft.functions.PiiExpressions.PiiScan(args.head)))
  }
}
