package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one way to pin or cache a shared subtree: materialize a frame
  * once into storage blocks, so every later reference reads the blocks
  * instead of re-running the subtree. Every pin and every cache in the
  * program goes through [[apply]]; nothing calls `persist`, `cache`
  * or `localCheckpoint` directly (a PinSpec case scans for them).
  *
  * Why a local checkpoint and not `persist`: the CacheManager keys
  * cached plans canonically and no scope frees them, so a `persist` of
  * a query's subtree would let a bench re-run of the same query
  * silently reuse the previous run's cache (result caching). A local
  * checkpoint is a fresh RDD per call, always recomputed from the
  * sources by the run that made it. It also truncates lineage, so an
  * iterative plan does not double per round. The price of the cut: a
  * pin's blocks cannot be rebuilt, so a pin may be released only once
  * nothing will read it again.
  *
  * Eager or lazy: an eager pin runs its own job now. A lazy pin saves
  * that job and is materialized by the first action that reads it. It
  * is safe only when the very next action materializes it: a lazy pin
  * read by two sibling stages of one job can race both into computing
  * its partitions.
  *
  * Lifetime: a pin made inside a [[scope]], on the thread that opened
  * it, is released when that scope ends. The harness mains open one
  * scope per query run and the test base one per test. A pin made
  * outside every scope lives until [[release]], or until the driver's
  * GC collects its RDD. So an op that pins once per round (the graph
  * loops) releases each superseded round itself, and its memory is
  * bounded with or without a scope.
  */
object Pin {

  private val scopes = new ThreadLocal[List[mutable.Map[Int, RDD[_]]]] {
    override def initialValue(): List[mutable.Map[Int, RDD[_]]] = Nil
  }

  /** Pin `df`. The checkpointed RDD is recorded in the innermost open
    * scope on this thread, if there is one.
    */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame = {
    val pinned = df.localCheckpoint(eager)
    scopes.get.headOption.foreach { pins =>
      val rdd = rddOf(pinned)
      pins(rdd.id) = rdd
    }
    pinned
  }

  /** Drop the blocks of the pin `df` reads, now. `df` may be the pin
    * itself or a projection of it (a rename such as `.toDF(...)`, a
    * `select`): its plan must read exactly one pin and nothing else,
    * or this throws rather than silently releasing nothing.
    */
  def release(df: DataFrame): Unit = {
    val rdd = rddOf(df)
    scopes.get.foreach(_ -= rdd.id)
    ColumnBridge.unpersistQuietly(rdd)
  }

  /** Run `body`, then release every pin made on this thread inside it,
    * whether `body` returns or throws. A nested scope releases only its
    * own pins; the enclosing scope's pins stay readable.
    */
  def scope[A](body: => A): A = {
    val pins = mutable.LinkedHashMap.empty[Int, RDD[_]]
    scopes.set(pins :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      pins.values.foreach(ColumnBridge.unpersistQuietly)
    }
  }

  private def rddOf(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collectLeaves() match {
      case Seq(lr: LogicalRDD) => lr.rdd
      case leaves => throw new IllegalArgumentException(
        "not a pin: the plan reads " + leaves.map(_.nodeName).mkString(", "))
    }
}
