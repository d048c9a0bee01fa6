package graft.spark

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.execution.{CodegenSupport, WholeStageCodegenExec}

/** Deterministic Common-Crawl-style pages synthesized from the driver's
  * `documents` table (BASELINE.json input_hint). Each document becomes one
  * project whose manifest family is chosen by doc_id % 8:
  *
  *   0 package.json   1 Cargo.toml       2 poetry pyproject.toml
  *   3 hpack package.yaml                4 debian (changelog + control +
  *                                         source/format + watch — the
  *                                         multi-file sibling-context case)
  *   5 .cabal         6 setup.py         7 dist.ini
  *
  * plus a plain-text README for every project. Everything is a pure function
  * of doc_id, so a DuckDB oracle reconstructs the expected canonical triples
  * exactly — the correctness gate for the whole extract→merge→extrapolate→fix
  * pipeline at any scale factor, across eight parser families.
  */
object SynthPages {

  val FixedTs = "2026-07-23 00:00:00"

  private def c(parts: Any*): Column =
    F.concat(parts.map {
      case col: Column => col
      case s: String   => F.lit(s)
    }: _*)

  /** documents(doc_id, text, ...) → pages(url, warc_ts, html, text, lang).
    * The input is typically one small parquet file (a single scan split);
    * repartitioning first spreads the narrow extract stage across cores the
    * way a real multi-file 100 TB scan would be.
    */
  def fromDocuments(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession

    val par = spark.sparkContext.defaultParallelism * 2
    val base0 = documents.select(
      F.col("doc_id").cast("long"),
      F.col("text"),
      F.col("lang"))
    val base =
      if (numPartitions(base0) >= spark.sparkContext.defaultParallelism) base0
      else base0.repartition(par)

    val id = F.col("doc_id")
    val flavor = F.pmod(id, F.lit(8L))
    val name = c("proj", id)
    val version = c("1.", F.pmod(id, F.lit(10L)), ".0")
    val summary = c("Tool number ", id, ".")
    val homepage = c("https://proj", id, ".example.com/")
    val org = F.pmod(id, F.lit(97L))
    val ghRepo = c("https://github.com/org", org, "/proj", id)
    val glRepo = c("https://gitlab.com/org", org, "/proj", id)
    val docsUrl = c("https://docs.example.com/proj", id)

    // one (relpath, content) struct per potential file; null content = file
    // absent. All five files explode out of ONE pass over the base — the
    // round-6 form unioned five per-file branches, and per-branch column
    // pruning specialized each branch's copy of the repartition exchange so
    // none were reused: five exchanges, five map stages, and a 5×-partition
    // union feeding extraction (measured: 320 tasks and ~0.5 s of serialized
    // single-task stage dispatch per kg query at sf0.1). One explode = one
    // exchange, one map stage, identical rows.
    def file(relpath: Column, content: Column): Column =
      F.struct(relpath.as("relpath"), content.as("content"))

    val manifest = file(
      F.when(flavor === 0, "package.json")
        .when(flavor === 1, "Cargo.toml")
        .when(flavor === 2, "pyproject.toml")
        .when(flavor === 3, "package.yaml")
        .when(flavor === 4, "debian/changelog")
        .when(flavor === 5, c(name, ".cabal"))
        .when(flavor === 6, "setup.py")
        .otherwise("dist.ini"),
      F.when(flavor === 0,
          c("{\"name\":\"", name, "\",\"version\":\"", version,
            "\",\"description\":\"", summary, "\",\"homepage\":\"", homepage,
            "\",\"license\":\"MIT\",\"repository\":\"", ghRepo,
            "\",\"author\":\"Dev ", id, " <dev", id, "@example.com>\"}"))
        .when(flavor === 1,
          c("[package]\nname = \"", name, "\"\nversion = \"", version,
            "\"\ndescription = \"", summary, "\"\nhomepage = \"", homepage,
            "\"\nlicense = \"MIT\"\nrepository = \"", ghRepo, "\"\n"))
        .when(flavor === 2,
          c("[tool.poetry]\nname = \"", name, "\"\nversion = \"", version,
            "\"\ndescription = \"", summary, "\"\nlicense = \"MIT\"\nhomepage = \"",
            homepage, "\"\ndocumentation = \"", docsUrl,
            "\"\nrepository = \"", glRepo, "\"\n"))
        .when(flavor === 3,
          c("name: ", name, "\nversion: ", version, "\nsynopsis: ", summary,
            "\nlicense: MIT\ngithub: org", org, "/proj", id, "\n"))
        .when(flavor === 4,
          c(name, " (", version, "-1) unstable; urgency=medium\n\n",
            "  * Initial release. (Closes: #9", id, ")\n\n",
            " -- Dev ", id, " <dev", id, "@example.com>  Mon, 05 Jan 2026 10:00:00 +0000\n"))
        .when(flavor === 5,
          c("name: ", name, "\nversion: ", version, "\nsynopsis: ", summary,
            "\nlicense: MIT\nhomepage: ", homepage,
            "\nbug-reports: ", ghRepo, "/issues\n",
            "source-repository head\n  type: git\n  location: ", ghRepo, ".git\n"))
        .when(flavor === 6,
          c("from setuptools import setup\nsetup(name=\"", name,
            "\",\n      version=\"", version,
            "\",\n      description=\"", summary,
            "\",\n      url=\"", homepage,
            "\",\n      license=\"MIT\")\n"))
        .otherwise(
          c("name = ", name, "\nversion = ", version, "\nabstract = ", summary,
            "\nlicense = MIT\n[MetaResources]\nbugtracker.web = ", ghRepo,
            "/issues\nrepository.url = ", ghRepo, ".git\n")))

    // flavor 4's sibling files: extraction needs all of them per subject
    val debControl = file(
      F.lit("debian/control"),
      F.when(flavor === 4,
        c("Source: ", name, "\nHomepage: ", homepage,
          "\n\nPackage: ", name, "\nDescription: ", summary,
          "\n Frobnicates widget number ", id, ".\n")))
    val debFormat = file(
      F.lit("debian/source/format"),
      F.when(flavor === 4, F.lit("3.0 (quilt)\n")))
    val debWatch = file(
      F.lit("debian/watch"),
      F.when(flavor === 4,
        c("version=4\nopts=\"mode=git\" ", ghRepo, ".git HEAD\n")))

    val readme = file(F.lit("README"), F.col("text"))

    base
      .select(F.col("doc_id"), F.col("lang"),
        F.explode(F.array(manifest, debControl, debFormat, debWatch, readme))
          .as("f"))
      .where(F.col("f.content").isNotNull)
      .select(
        c("https://replay.invalid/", name, "/", F.col("f.relpath")).as("url"),
        F.to_timestamp(F.lit(FixedTs)).as("warc_ts"),
        F.col("f.content").cast("binary").as("html"),
        F.col("f.content").as("text"),
        F.col("lang"))
  }

  /** The partition count of `df`'s physical plan, read without executing
    * it: a whole-stage codegen stage runs over its input RDDs' partitions,
    * so their count needs no generated class (`df.rdd` would compile the
    * stage, plus a deserializer, on the driver).
    */
  private[graft] def numPartitions(df: DataFrame): Int = df.queryExecution.executedPlan match {
    case w: WholeStageCodegenExec =>
      w.child.asInstanceOf[CodegenSupport].inputRDDs().head.getNumPartitions
    case p => p.execute().getNumPartitions
  }

  /** Deterministically replicates the documents table `factor`× with fresh
    * doc_ids — the knob that turns the small driver tables into a
    * compute-bound corpus for scaling runs.
    */
  def replicate(documents: DataFrame, factor: Int): DataFrame = {
    val spark = documents.sparkSession
    val n = documents.count()
    // the partitioned range drives generation so every core produces its own
    // slice; the small documents table rides along as a broadcast
    val reps = spark.range(0L, factor.toLong, 1L,
      spark.sparkContext.defaultParallelism * 2).toDF("rep")
    reps.crossJoin(F.broadcast(documents))
      .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(n))
      .drop("rep")
      .select(documents.columns.map(F.col).toSeq: _*)
  }
}
