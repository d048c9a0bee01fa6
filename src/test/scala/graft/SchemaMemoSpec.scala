package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}

/** `SparkEntry.t`'s parquet schema memo must notice a
  * regenerated table on any filesystem URI, not only on bare local paths.
  */
class SchemaMemoSpec extends AnyFunSuite with SparkSuite {

  test("a table rewritten under a file: URI is read with its new schema") {
    val local = java.nio.file.Files.createTempDirectory("graft_schema_memo").toFile
    local.deleteOnExit()
    val dir = local.toURI.toString.stripSuffix("/") // file:/…
    assert(dir.startsWith("file:"))
    spark.range(3).toDF("id")
      .write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    assert(SparkEntry.t(spark, dir, "tbl").columns.toSeq == Seq("id"))

    Thread.sleep(20) // a rewrite in the same millisecond keeps the mtime
    spark.range(3).toDF("id").withColumn("extra", F.col("id") * 2)
      .write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    val reread = SparkEntry.t(spark, dir, "tbl")
    assert(reread.columns.toSeq == Seq("id", "extra"),
      "the rewritten table's new column must be read, not a stale memo schema")
    assert(reread.agg(F.sum("extra")).collect()(0).getLong(0) == 6L)
  }
}
