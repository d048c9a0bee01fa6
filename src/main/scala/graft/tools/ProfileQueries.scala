package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

import graft.spark.SparkRuntime

/** Dev profiling harness (not part of the driver contract): runs the
  * headline queries in the Bench session config (`SparkRuntime.builder`),
  * with a stage listener attributing wall/cpu/tasks per query, and
  * optionally dumps each query's `.explain("formatted")` to a plans
  * directory. Each run line's `classes` is the number of classes Spark's
  * code generator compiled during the run (a cache miss each): a warm run
  * above 0 recompiled classes the codegen cache had evicted.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR     data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS       cores (default 32)
  *   PROFILE_QUERIES        comma list (default: the Bench headline)
  *   PROFILE_RUNS           timed runs per query (default 3)
  *   PROFILE_PLAN_DIR       if set, write <q>.txt explain files there
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkRuntime.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, String, Long)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages.add((si.stageId, si.numTasks,
          si.taskMetrics.executorCpuTime / 1000000L,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.name.take(60), si.taskMetrics.jvmGCTime))
      }
    })
    def quiesce(): Unit = {
      var stable = 0; var last = -1; var waited = 0
      while (stable < 2 && waited < 3000) {
        Thread.sleep(100); waited += 100
        val size = stages.size()
        if (size == last) stable += 1 else { stable = 0; last = size }
      }
    }

    val qs = graft.SparkEntry.queries
    val names = sys.env.get("PROFILE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toList)
      .getOrElse(graft.Bench.headline)
    val runs = sys.env.getOrElse("PROFILE_RUNS", "3").toInt
    val planDir = sys.env.get("PROFILE_PLAN_DIR")
    planDir.foreach(d => new java.io.File(d).mkdirs())

    // same warm-up the Bench does
    try qs("kg_canonical")(spark, "/root/testdata/sf0.001").count()
    catch { case e: Throwable => System.err.println(s"[profile] warmup: $e") }

    names.foreach { name =>
      planDir.foreach { d =>
        try {
          val plan = qs(name)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"$name.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } catch { case e: Throwable =>
          System.err.println(s"[profile] explain $name: $e") }
      }
      // PROFILE_ACTION=noop computes every column of every row and discards
      // it (guide §1.4) — times the full computation without the count's
      // column pruning; default mirrors the Bench action (count)
      val useNoop = sys.env.get("PROFILE_ACTION").contains("noop")
      val walls = (0 until runs).map { i =>
        quiesce(); stages.clear()
        spark.sparkContext.setJobDescription(s"$name run$i")
        val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val n = try {
          val df = qs(name)(spark, sfDir)
          if (useNoop) { df.write.format("noop").mode("overwrite").save(); 0L }
          else df.count()
        } catch { case e: Throwable =>
          System.err.println(s"[profile] $name: $e"); -1L }
        val wall = (System.nanoTime() - t0) / 1e9
        quiesce()
        val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
        import scala.jdk.CollectionConverters._
        val snap = stages.asScala.toList
        val cpu = snap.map(_._3).sum / 1000.0
        val gc = snap.map(_._6).sum / 1000.0
        val tasks = snap.map(_._2).sum
        println(f"[profile] $name%-22s run$i wall=$wall%6.3f s cpu=$cpu%7.2f s gc=$gc%5.2f s stages=${snap.size}%3d tasks=$tasks%5d classes=$classes%4d rows=$n")
        if (sys.env.contains("PROFILE_STAGES"))
          snap.sortBy(_._1).foreach { case (id, nt, c, w, nm, g) =>
            println(f"[profile]   stage $id%4d tasks=$nt%4d cpu=${c / 1000.0}%7.2f wall=${w / 1000.0}%6.2f gc=${g / 1000.0}%5.2f  $nm")
          }
        wall
      }
      println(f"[profile] $name%-22s min=${walls.min}%6.3f s")
    }
    spark.stop()
  }
}
