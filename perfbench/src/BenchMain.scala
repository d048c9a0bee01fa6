package graftbench

import java.lang.management.ManagementFactory
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.Locale

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}

import graft.SparkEntry
import graft.pipeline.{Sinks, Summarize}
import graft.registry.RegistryParsers
import graft.spark.{KgEngine, SynthRegistry, TrainingOps}

/** The program side of the benchmark: one JVM, one Spark session, one
  * closed-loop client. Runs a workload's ops for a fixed time and writes
  * every op's time, row count and output digest to `result.json`; the
  * caller compares digests with the DuckDB oracle, so a wrong or failed op
  * is never timed into a number.
  *
  * Usage: BenchMain <workload> <seed> <seconds> <trace 0|1> <workdir>
  */
object BenchMain {
  /** Warm-up ops between the cold op and the timed window. A timed run has
    * none: its one timed op is the second in the session, which keeps a run
    * near a minute. A traced run warms up once, so its untraced and traced
    * ops are nearly equally warm.
    */
  def warmupOps(traced: Boolean): Int = if (traced) 1 else 0
  val SetupReps = 3

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores * 8)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Order-independent digest of a row multiset: the sum, modulo 2^64, of
    * the first 8 bytes of each row's MD5. perfbench/check.py renders the
    * oracle's rows the same way.
    */
  def render(v: Any): String = v match {
    case null      => "\\N"
    case d: Double => String.format(Locale.ROOT, "%.9e", Double.box(d))
    case f: Float  => String.format(Locale.ROOT, "%.9e", Double.box(f.toDouble))
    case x         => x.toString
  }

  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val s = (0 until r.length).map(i => render(r.get(i))).mkString("\u001f")
      sum += ByteBuffer.wrap(md.digest(s.getBytes(UTF_8))).getLong
    }
    f"$sum%016x"
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this process (every thread), net of the hypervisor's
    * steal: unlike wall time it does not grow when a co-tenant takes the
    * cores away.
    */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(work, cores)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sessionCpuS = cpuSeconds()
    val w = Workloads(workload, spark, work, seedS.toLong)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Workloads.oracles(workload)(k) }
    writeJson(s"$work/oracle_sql.json", oracle)
    /** (wall, CPU) seconds of one call. */
    def timed(body: => Unit): (Double, Double) = {
      val (t0, c0) = (System.nanoTime(), cpuSeconds())
      body
      (secondsSince(t0), cpuSeconds() - c0)
    }
    val materialize = (0 until SetupReps).map(_ => timed(w.materialize()))
    val prepare = timed(w.prepare())
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t.planListener)
    }

    val ops = ArrayBuffer.empty[Map[String, Any]]
    def runOp(i: Int, phase: String, trace: Boolean): Double = {
      val op = w.op(i)
      val cpu0 = cpuSeconds()
      def body(): Seq[(Part, Either[Throwable, Array[Row]], Double)] = op.map { p =>
        def timed(): (Either[Throwable, Array[Row]], Double) = {
          val t0 = System.nanoTime()
          val r = try Right(p.run()) catch { case e: Throwable => Left(e) }
          (r, secondsSince(t0))
        }
        val (r, s) = (trace, tracer) match {
          case (true, Some(t)) => t.span(p.name, i) {
            p.prefixes.foreach { case (layer, action) => t.span(layer, i)(action()) }
            t.span(p.layer, i)(timed())
          }
          case _ => timed()
        }
        (p, r, s)
      }
      val results = tracer.filter(_ => trace).fold(body())(t => t.span("op", i)(body()))
      val cpu = cpuSeconds() - cpu0
      var total = 0.0
      val parts = results.map { case (p, r, s) =>
        total += s
        val checked = r.flatMap(rows => try Right(p.rows(rows)) catch { case e: Throwable => Left(e) })
        val extra = try p.extra() catch { case _: Throwable => Nil }
        try p.cleanup() catch { case _: Throwable => }
        ListMap(
          "name" -> p.name, "check" -> p.check, "layer" -> p.layer, "s" -> s,
          "input_rows" -> p.inputRows,
          "rows" -> checked.fold(_ => -1L, _.length.toLong),
          "digest" -> checked.fold(_ => "", digest),
          "error" -> checked.fold(e => s"${e.getClass.getName}: ${e.getMessage}".take(500), _ => ""),
          "extra" -> extra.toMap)
      }
      ops += ListMap("i" -> i, "phase" -> phase, "traced" -> trace, "s" -> total,
        "cpu_s" -> cpu, "parts" -> parts)
      total
    }

    var i = 0
    runOp(i, "cold", trace = false); i += 1
    val tw = System.nanoTime()
    while (i <= warmupOps(traced)) { runOp(i, "warmup", trace = false); i += 1 }
    val warmupS = secondsSince(tw)

    // the timed window; a traced run spends its first half untraced so the
    // tracing overhead is measured on the same session
    val t0 = System.nanoTime()
    val untracedUntil = if (traced) seconds / 2 else seconds
    // the window closes at the op boundary nearest to it, after one op at
    // least
    var lastOpS = 0.0
    def more(until: Double): Boolean = lastOpS == 0.0 || secondsSince(t0) + lastOpS / 2 < until
    while (more(untracedUntil)) { lastOpS = runOp(i, "timed", trace = false); i += 1 }
    lastOpS = 0.0
    while (traced && more(seconds)) { lastOpS = runOp(i, "traced", trace = true); i += 1 }

    val micro = tracer.fold(Map.empty[String, Double])(t => Micro.run(spark, w, t))
    tracer.foreach { t =>
      val lines = t.records().map(json.writeValueAsString)
      Files.write(Paths.get(s"$work/spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    writeJson(s"$work/result.json", ListMap(
      "workload" -> workload, "cores" -> cores,
      "session_s" -> sessionS, "session_cpu_s" -> sessionCpuS,
      "materialize_s" -> materialize.map(_._1), "materialize_cpu_s" -> materialize.map(_._2),
      "prepare_s" -> prepare._1, "prepare_cpu_s" -> prepare._2, "warmup_s" -> warmupS,
      "peak_rss_mb" -> peakRssMb(), "micro" -> micro,
      "ops" -> ops))
    spark.stop()
  }
}

/** Single-thread timings of the per-subject kernels on a sample of the
  * workload's own subjects, the data counts of its candidate filter, and the
  * heavy-key shape of its near-duplicate corpus.
  */
object Micro {
  val SampleSubjects = 200
  val Reps = 5

  private def medianUs(n: Int)(body: => Unit): Double = {
    val ts = (0 until Reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e3 / math.max(n, 1)
    }.sorted
    ts(Reps / 2)
  }

  private def family(relpath: String): String = relpath match {
    case "package.json"               => "package_json"
    case "Cargo.toml"                 => "cargo_toml"
    case "pyproject.toml"             => "pyproject_toml"
    case "package.yaml"               => "package_yaml"
    case r if r.startsWith("debian/") => "debian"
    case r if r.endsWith(".cabal")    => "cabal"
    case "setup.py"                   => "setup_py"
    case "dist.ini"                   => "dist_ini"
    case _                            => "readme"
  }

  /** The MinHash candidate join over the dedup corpus with its partitioning
    * pinned: AQE partition coalescing is off for these calls, so every
    * (band, key) group stays in its own one of the shuffle partitions and
    * the boilerplate cluster's bucket shows as a long task. Medians of Reps
    * runs.
    */
  private def lsh(spark: SparkSession, docs: DataFrame, t: Tracer): Map[String, Double] = {
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      val runs = (0 until Reps).map { _ =>
        t.withSkew("lsh_candidates")(TrainingOps.minhashCandidatePairs(docs).count())
      }
      val maxBucket = TrainingOps.minhashBands(docs).groupBy("band", "key").count()
        .agg(F.max("count")).head().getLong(0)
      Map("lsh.candidate_pairs" -> runs.head._1.toDouble,
        "lsh.task_skew" -> runs.map(_._2).sorted.apply(Reps / 2),
        "lsh.max_bucket" -> maxBucket.toDouble)
    } finally before.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))
  }

  def run(spark: SparkSession, w: Workload, t: Tracer): Map[String, Double] = {
    val pages = w.pages
    val cand = Workloads.candidates(pages)
    val counts = Map(
      "candidate.rows_in" -> pages.count().toDouble,
      "candidate.rows_out" -> cand.count().toDouble,
      "summarize.subjects" -> pages.select(KgEngine.subjCol(F.col("url"))).distinct().count().toDouble,
      "summarize.triples" -> KgEngine.extractCanonical(spark, pages).count().toDouble)
    val subjects = cand.select("subj").distinct().orderBy("subj").limit(SampleSubjects)
    val files = cand.join(subjects, "subj").select("subj", "relpath", "text").collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (subj, rs) =>
        subj -> rs.map(r => r.getString(1) -> r.getString(2)).toMap
      }
    def basename(subj: String): String = {
      val t = subj.stripSuffix("/"); t.substring(t.lastIndexOf('/') + 1)
    }
    val summarizeUs = medianUs(files.size) {
      files.foreach { case (s, fm) => Summarize.summarize(fm, basename(s)) }
    }
    val metadata = files.map { case (s, fm) => Summarize.summarize(fm, basename(s))._1 }
    val yamlUs = medianUs(metadata.size)(metadata.foreach(Sinks.toYaml))
    val families = files.flatMap { case (s, fm) => fm.toSeq.map(f => (family(f._1), s, f)) }
      .groupBy(_._1).map { case (fam, fs) =>
        val us =
          if (fam == "debian") {
            // the debian files need each other, so they go through the
            // subject's raw extraction together
            val bySubj = fs.groupBy(_._2).toSeq.map { case (s, xs) => s -> xs.map(_._3).toMap }
            medianUs(fs.size)(bySubj.foreach { case (s, fm) => Summarize.extractRaw(fm, basename(s)) })
          } else medianUs(fs.size) {
            fs.foreach { case (_, _, (rel, text)) => Summarize.fileGuessers(rel).foreach(_._2(text)) }
          }
        s"extract.$fam.us_per_file" -> us
      }
    val ids = files.indices.map(_.toLong)
    val registryUs = medianUs(ids.size) {
      ids.foreach(id => RegistryParsers.parsePypi(SynthRegistry.pypi(id, "9.9.9")))
    }
    counts ++ families ++ w.dedupDocs.fold(Map.empty[String, Double])(lsh(spark, _, t)) ++ Map(
      "summarize.us_per_subject" -> summarizeUs,
      "sinks.yaml_us_per_subject" -> yamlUs,
      "registry.us_per_payload" -> registryUs)
  }
}
