package graft

/** The factory's base conf, read off the shared test session (which is
  * built through [[Sessions.local]]) — no second SparkContext starts.
  */
class SessionsSpec extends SparkTestBase {

  test("base conf: n shuffle partitions, AQE on, UTC, UI off") {
    assert(Sessions.baseConf(7) == Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("the test session is local[4] with the base conf plus its override") {
    val sc = spark.sparkContext
    assert(sc.master == s"local[${SparkTestBase.Cores}]")
    assert(sc.appName == "graft-test")
    // the start-up conf: other suites may change the runtime SQL conf
    val conf = sc.getConf
    Sessions.baseConf(SparkTestBase.Cores).foreach { case (k, v) =>
      assert(conf.get(k) == v, k)
    }
    assert(conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
  }
}
