package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.DeserializeToObjectExec
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.functions.HyperplaneSignatures
import graft.spark.TrainingOps

/** The LSH and dedup passes stay inside whole-stage codegen: no typed
  * deserialization on the hyperplane signature path, no string-buffered
  * (sort-based) aggregate in the dedup pipeline, and a native signature
  * expression that is bit-identical to the Scala loop it replaced.
  */
class SignaturePassSpec extends AnyFunSuite with SparkSuite {

  private val Tables = 4
  private val Planes = 8
  private val Dim = 64
  private lazy val planes = TrainingOps.hyperplanes(Tables, Planes, Dim)

  /** The Scala signature loop the expression replaced: the float widened to
    * double, multiplied by the plane, summed in index order.
    */
  private def scalaSigs(v: Array[Float]): Seq[Int] = (0 until Tables).map { t =>
    var sig = 0
    var p = 0
    while (p < Planes) {
      var dot = 0.0
      var d = 0
      while (d < Dim) { dot += v(d).toDouble * planes(t)(p)(d); d += 1 }
      if (dot > 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  private def interpreted(v: Array[Float]): Seq[Int] =
    HyperplaneSignatures(Literal.create(v.toSeq, ArrayType(FloatType)), planes).eval()
      .asInstanceOf[ArrayData].toIntArray().toSeq

  private def generated(vs: Seq[Array[Float]]): Seq[Seq[Int]] = {
    import spark.implicits._
    vs.zipWithIndex.toDF("embedding", "i")
      .select(F.col("i"), HyperplaneSignatures.column(spark, F.col("embedding"), planes).as("s"))
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Int](1)).toSeq
  }

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  test("hyperplane_sigs equals the Scala signature loop bit for bit") {
    val rnd = new scala.util.Random(7)
    val special = Array(0.0f, -0.0f, Float.MinPositiveValue, -Float.MinPositiveValue, 1e30f, -1e30f)
    val vs = Seq(Array.fill(Dim)(0.0f), Array.fill(Dim)(-0.0f),
      Array.tabulate(Dim)(d => if (d % 2 == 0) 0.0f else -0.0f)) ++
      Seq.fill(300)(Array.fill(Dim) {
        if (rnd.nextInt(4) == 0) special(rnd.nextInt(special.length))
        else (rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)).toFloat
      })
    val expected = vs.map(scalaSigs)
    assert(vs.map(interpreted) == expected)
    assert(generated(vs) == expected)
    // a longer vector is read up to the planes' width, like the loop
    val longer = vs(5) :+ 1.0f
    assert(interpreted(longer) == expected(5))
    assert(generated(Seq(longer)) == Seq(expected(5)))
  }

  test("hyperplane_sigs fails a short vector the way the Scala loop does") {
    for (n <- Seq(0, 1, Dim - 1)) {
      val v = Array.fill(n)(1.0f)
      val loop = intercept[ArrayIndexOutOfBoundsException](scalaSigs(v))
      val eval = intercept[ArrayIndexOutOfBoundsException](interpreted(v))
      val gen = rootCause(intercept[Exception](generated(Seq(v))))
      assert(gen.isInstanceOf[ArrayIndexOutOfBoundsException], gen.toString)
      assert(eval.getMessage == loop.getMessage && gen.getMessage == loop.getMessage,
        s"${loop.getMessage} / ${eval.getMessage} / ${gen.getMessage}")
    }
  }

  private def embeddings: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("annLsh and dedupEmbedding compute signatures without typed deserialization") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      for ((name, df) <- Seq("annLsh" -> TrainingOps.annLsh(embeddings),
          "dedupEmbedding" -> TrainingOps.dedupEmbedding(embeddings))) {
        val plan = df.queryExecution.executedPlan
        assert(plan.collect { case d: DeserializeToObjectExec => d }.isEmpty,
          s"$name deserializes rows to objects:\n$plan")
        assert(plan.toString.contains("hyperplane_sigs"), s"$name: no signature expression:\n$plan")
      }
    }
  }

  /** The physical operators that ran as RDD steps of their own (outside a
    * whole-stage codegen span) while `run` ran, materialized inputs
    * included: the RDD operation scopes of every submitted stage.
    */
  private def operatorsRun(run: => Unit): Set[String] = {
    val names = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val marker = s"operators-run-${System.nanoTime()}"
    val done = new java.util.concurrent.CountDownLatch(1)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(_.scope.foreach(s => names.add(s.name)))
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerJobs.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) done.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      // listener events arrive in order: once the marker job's end is seen,
      // every stage of `run` has been seen too
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    names.asScala.toSet
  }

  test("dedupPipeline runs no sort-based or object aggregate") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(F.col("doc_id").cast("long"), F.col("text"))
    val ran = operatorsRun {
      TrainingOps.dedupPipeline(docs.unionByName(docs.select(
        (F.col("doc_id") + 1000000L).as("doc_id"), F.col("text"))), threshold = 1.0).collect()
    }
    assert(ran.exists(_.startsWith("WholeStageCodegen")), ran.toString)
    assert(!ran.exists(n => n.startsWith("SortAggregate") || n.startsWith("ObjectHashAggregate")),
      s"non-codegen aggregates ran: $ran")
  }
}
