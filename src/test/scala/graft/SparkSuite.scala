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

  /** The generated-code working set of one warm `call`: (classes compiled,
    * codegen cache entries). `call` runs once to warm, Spark's class cache
    * (`CodeGenerator`'s private `cache`, reached by reflection) is emptied,
    * and `call` runs again, so every class it uses compiles once: one entry
    * per (class loader, source), the driver and the executor task threads
    * having different loaders.
    */
  protected def codegenWorkingSet(call: => Unit): (Long, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    call
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val cache = get.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    call
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled,
      cache.getClass.getMethod("size").invoke(cache).asInstanceOf[Long])
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
