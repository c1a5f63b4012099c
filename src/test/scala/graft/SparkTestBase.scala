package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Outcome, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (guide: one lazy session, not per test).
  * Each suite prints a start and an end line, so a log cut off mid-run
  * names the suite that was running. Each test runs in its own
  * [[Pin.scope]], so the pins a test makes are released when it ends.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val sf: String = "/root/testdata/sf0.001"

  override def withFixture(test: NoArgTest): Outcome =
    Pin.scope(super.withFixture(test))

  override def run(testName: Option[String], args: Args): Status = {
    val t0 = System.nanoTime()
    println(s"[suite] start $suiteName")
    val status = super.run(testName, args)
    status.whenCompleted { r =>
      val how = if (r.toOption.contains(true)) "ok" else "FAILED"
      println(f"[suite] end $suiteName $how ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    status
  }
}

object SparkTestBase {
  /** Fixed at 4 cores, whatever `SPARK_GRAFT_CPUS` says. */
  val Cores = 4

  lazy val session: SparkSession = {
    val s = Sessions.local("graft-test", Cores, Map(
      // the checksum checkpoint writer deadlocks RocksDB snapshot
      // uploads in this single-JVM environment (tasks park forever in
      // ChecksumCancellableFSDataOutputStream.close)
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
