package graft

import org.apache.spark.sql.SparkSession

/** The test JVM's one Spark session, shared by every suite that mixes this
  * in, and runtime SQL settings scoped to a block.
  */
trait SparkSuite {

  protected lazy val spark: SparkSession = SparkSuite.session

  /** Runs `body` with each `key -> value` set on the shared session, then
    * puts every key back as it was, so no setting leaks into a later test.
    */
  protected def withConf[A](settings: (String, String)*)(body: => A): A = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSuite {
  // built once per test JVM; suites never stop it
  private lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_test_warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
