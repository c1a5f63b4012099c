package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Every main, every
  * example, [[graft.api.App.local]] and the test base go through
  * [[local]], so they all run on the same base conf:
  * `local[n]` with n shuffle partitions (one per core, not Spark's
  * 200), AQE on, UTC session time zone, UI off.
  */
object Sessions {

  /** Cores for a main when `SPARK_GRAFT_CPUS` is unset. */
  val DefaultCpus = 4

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(DefaultCpus)(_.trim.toInt)

  def baseConf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The base conf plus `extraConf` (which wins on a shared key). */
  def local(appName: String, cores: Int = cpus,
            extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName(appName)
    (baseConf(cores) ++ extraConf).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** [[local]] for the measuring mains (Bench, Verify, ProfileQuery,
    * ExplainDump), with shuffle and spill scratch on [[scratchDir]].
    */
  def harness(appName: String,
              extraConf: Map[String, String] = Map.empty): SparkSession =
    local(appName, cpus,
      scratchDir().fold(extraConf)(d => extraConf + ("spark.local.dir" -> d)))

  /** `SPARK_GRAFT_LOCAL_DIR` when set (a deployment points it at
    * provisioned disk: at 100 TB shuffle exceeds RAM), else a fresh
    * directory on RAM-backed /dev/shm, else None (Spark's default).
    * A shared virtual disk's write path can collapse to ~8 MB/s for
    * minutes (a stalled run's thread dump showed a shuffle writer
    * stuck in FileOutputStream.open); sf0.1 shuffles are MBs, so tmpfs
    * absorbs them and keeps the disk's noise out of the timings.
    * Spark removes its own subdirectories at exit but not the parent,
    * which would pile up in RAM across runs, so it is a [[tempDir]].
    */
  private def scratchDir(): Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = Paths.get("/dev/shm")
      if (Files.isWritable(shm)) Some(tempDir("graft-spark-local", shm).toString)
      else None
    }

  /** A fresh directory under `parent`, deleted with its contents at JVM
    * exit (best effort).
    */
  def tempDir(prefix: String,
              parent: Path = Paths.get(System.getProperty("java.io.tmpdir"))): Path = {
    val d = Files.createTempDirectory(parent, prefix)
    sys.addShutdownHook(deleteTree(d))
    d
  }

  /** Best-effort recursive delete, deepest paths first. */
  def deleteTree(root: Path): Unit =
    try Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
    catch { case _: Throwable => () }
}
