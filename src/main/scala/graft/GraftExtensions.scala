package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.PiiExpressions.PiiScan
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
  import GraftExtensions.functions

  /** Register on an already-built session (tests, REPLs). */
  def registerOn(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.registerFunction
    functions.foreach { case (name, _, builder) =>
      registerFunction(spark, name, builder)
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
  }
}

object GraftExtensions {
  /** The SQL functions both install paths register: (name, expression
    * class, builder).
    */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vector_dot", classOf[VectorDot], args => VectorDot(args(0), args(1))),
    ("simhash64", classOf[SimHash64], args => SimHash64(args.head)),
    ("minhash_agreement", classOf[LongArrayEqCount],
      args => LongArrayEqCount(args(0), args(1))),
    ("pii_scan", classOf[PiiScan], args => PiiScan(args.head)))
}
