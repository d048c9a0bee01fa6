package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset, functions => F}
import graft.spark.{BucketedStore, Incremental, KgEngine, KgJob, SynthPages}
import graft.spark.Model.CanonTriple

/** Crawl input a real crawl delivers and a synthetic corpus does not: pages
  * whose text is not valid UTF-8, and a page without a url. Every extraction
  * path and the store must agree on them, and neither may fail the job.
  */
class HostileInputSpec extends AnyFunSuite with SparkSuite {

  private def key(t: CanonTriple) =
    (t.subj, t.pred, t.obj, t.obj_json, t.certainty, t.origin)

  private def keys(ds: Dataset[CanonTriple]) = ds.collect().map(key).toSet

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private def md5(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  private def hex(bytes: Array[Byte]): String = bytes.map("%02X".format(_)).mkString

  /** Malformed UTF-8: a stray 0xFF/0xFE, an overlong '/', a lone continuation
    * byte, truncated 3- and 4-byte sequences, a code point above U+10FFFF and
    * a truncated 2-byte sequence. Each decodes to U+FFFD characters the same
    * way in Java's decoder and in Spark's `make_valid_utf8`.
    */
  private val Malformed = Seq("FF", "FE", "C0AF", "80", "E282", "F09F98", "F4908080", "C3")

  private def unhex(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Subject i's Cargo.toml: `name` plus a description holding `bad`. */
  private def cargo(name: String, bad: String): Array[Byte] =
    s"[package]\nname = \"$name\"\nversion = \"1.0.0\"\ndescription = \"tool ".getBytes(UTF_8) ++
      unhex(bad) ++ " end\"\n".getBytes(UTF_8)

  private val Subjects = 0 until 16

  /** Two captures of one (subj, relpath) at one warc_ts: (url, raw bytes). */
  private def captures(i: Int): Seq[(String, Array[Byte])] = {
    val url = s"https://replay.invalid/utf$i/Cargo.toml"
    Seq(url -> cargo(s"a$i", Malformed(i % Malformed.size)),
      url -> cargo(s"b$i", Malformed((i + 3) % Malformed.size)))
  }

  /** A README pair whose raw bytes differ but decode to the same text. */
  private def readmes(i: Int): Seq[(String, Array[Byte])] = {
    val url = s"https://replay.invalid/utf$i/README.md"
    Seq("FF", "FE").map(b => url -> ("Readme ".getBytes(UTF_8) ++ unhex(b) ++ " text.".getBytes(UTF_8)))
  }

  /** Pages in the crawl schema whose text is `bytes` cast to a string, so
    * the invalid sequences reach the engine undecoded.
    */
  private def pagesOf(rows: Seq[(String, Array[Byte])]): DataFrame = {
    import spark.implicits._
    rows.map { case (u, b) => (u, hex(b)) }.toDF("url", "hex")
      .select(F.col("url"),
        F.to_timestamp(F.lit(SynthPages.FixedTs)).as("warc_ts"),
        F.unhex(F.col("hex")).as("html"),
        F.unhex(F.col("hex")).cast("string").as("text"),
        F.lit("en").as("lang"))
  }

  /** The engine's rule stated on decoded text: max md5 of the UTF-8 bytes
    * of the decoded capture wins among equal warc_ts.
    */
  private def decodedMd5(b: Array[Byte]): String = md5(new String(b, UTF_8).getBytes(UTF_8))

  test("invalid UTF-8 with equal-ts duplicates: every path picks the same captures") {
    import spark.implicits._
    // the fixture exercises the hazard: on some subject the raw-byte hash
    // order and the decoded-text hash order disagree, so a path that hashed
    // raw bytes would pick the other capture
    assert(Subjects.exists { i =>
      val Seq((_, a), (_, b)) = captures(i)
      (md5(a) > md5(b)) != (decodedMd5(a) > decodedMd5(b))
    })
    val expectedNames = Subjects.map { i =>
      val Seq((_, a), (_, b)) = captures(i)
      s"https://replay.invalid/utf$i/" -> (if (decodedMd5(a) > decodedMd5(b)) s"a$i" else s"b$i")
    }.toMap
    // both arrival orders, so a fold that keeps the first or the last of
    // two equal-ts captures fails one of them
    val first = Subjects.flatMap(i => captures(i).take(1) ++ readmes(i).take(1))
    val second = Subjects.flatMap(i => captures(i).drop(1) ++ readmes(i).drop(1))
    Seq("ab" -> pagesOf(first).unionByName(pagesOf(second)),
        "ba" -> pagesOf(second).unionByName(pagesOf(first))).foreach { case (order, pages) =>
      val grouped = keys(KgEngine.extractCanonical(spark, pages))
      val names = grouped.collect { case (s, "Name", n, _, _, _) => s -> n }.toMap
      assert(names == expectedNames, order)
      assert(keys(KgEngine.extractCanonicalPreExtract(spark, pages)) == grouped, order)
      assert(keys(KgEngine.splitStats(KgEngine.extractCanonicalWithStats(spark, pages))._1) ==
        grouped, order)
      val root = freshDir("graft_hostile_utf8")
      Incremental.initStore(spark, pages, s"hu_caps_$order", s"hu_tri_$order", root, buckets = 4)
      assert(keys(BucketedStore.read(spark, s"hu_tri_$order").as[CanonTriple]) == grouped, order)
      val caps = BucketedStore.read(spark, s"hu_caps_$order")
      assert(caps.count() == 2L * Subjects.size, order)
      assert(caps.where(F.col("md5") =!= F.md5(F.col("text"))).isEmpty,
        s"$order: a stored capture's md5 must be the md5 of its stored text")
    }
  }

  test("deeply nested HTML gives the same datums as shallow HTML on a 1 MB stack") {
    import graft.extract.{Homepage, Readme}
    def page(depth: Int) = "<div>" * depth +
      "<p>A tool that converts things.</p>" +
      "<a href=\"https://github.com/o/tool\">GitHub</a>" +
      "<a href=\"/issues\">Bug tracker</a>" + "</div>" * depth
    // called directly on a thread with the default 1 MB stack, not in a
    // Spark task: a StackOverflowError is fatal to Spark and would end the
    // whole test JVM
    def datums(html: String): (List[graft.core.Datum], (Option[String], List[graft.core.Datum])) = {
      @volatile var out: Either[Throwable, (List[graft.core.Datum],
        (Option[String], List[graft.core.Datum]))] = null
      val t = new Thread(null, () => out =
        try Right((Homepage.guessFromPage(html, "https://tool.example.org/"),
          Readme.descriptionFromReadmeHtml(html)))
        catch { case e: Throwable => Left(e) }, "deep", 1L << 20)
      t.start()
      t.join()
      out.fold(e => fail(s"${e.getClass.getName} at ${html.length} chars", e), identity)
    }
    val shallow = datums(page(3))
    assert(shallow._1.map(_.field) == List("Repository", "Bug-Database"), shallow)
    assert(shallow._2._1.exists(_.contains("converts things")), shallow)
    assert(datums(page(20000)) == shallow)
  }

  test("a page without a url is dropped; every path extracts the rest as without it") {
    import spark.implicits._
    val pages = SynthPages.fromDocuments(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val orphan = Seq((Option.empty[String], "Readme of a page without a url.")).toDF("url", "text")
      .select(F.col("url"), F.to_timestamp(F.lit(SynthPages.FixedTs)).as("warc_ts"),
        F.col("text").cast("binary").as("html"), F.col("text"), F.lit("en").as("lang"))
    val withOrphan = pages.unionByName(orphan)
    assert(keys(KgEngine.extractCanonical(spark, withOrphan)) ==
      keys(KgEngine.extractCanonical(spark, pages)))
    assert(keys(KgEngine.extractCanonicalPreExtract(spark, withOrphan)) ==
      keys(KgEngine.extractCanonicalPreExtract(spark, pages)))
    def store(p: DataFrame, name: String): (Set[Any], Set[Any]) = {
      Incremental.initStore(spark, p, s"${name}_caps", s"${name}_tri", freshDir(name), buckets = 4)
      (BucketedStore.read(spark, s"${name}_caps").collect().map(_.toSeq).toSet,
        keys(BucketedStore.read(spark, s"${name}_tri").as[CanonTriple]).map(x => x: Any))
    }
    assert(store(withOrphan, "hn_orphan") == store(pages, "hn_clean"))
    // the job: the same triples; its lineage counts the orphan as an input
    // row of a real bucket (the bucket of ""), which emits nothing, so no
    // lineage row lands in a bucket outside the manifest
    val out = freshDir("graft_hostile_job")
    val clean = freshDir("graft_hostile_job_clean")
    KgJob.run(spark, withOrphan, out, buckets = 4)
    KgJob.run(spark, pages, clean, buckets = 4)
    def tri(dir: String) = spark.read.parquet(s"$dir/triples").drop("bucket")
    assert(tri(out).except(tri(clean)).isEmpty && tri(clean).except(tri(out)).isEmpty)
    val lin = KgJob.lineage(spark, out)
    assert(lin.where(F.col("bucket").isNull).isEmpty)
    assert(lin.collect().map(_.getAs[Int]("bucket")).toSet.subsetOf(KgJob.committedBuckets(out).toSet))
    assert(lin.agg(F.sum("input_rows")).head.getLong(0) == withOrphan.count())
    def perBucket(dir: String) = KgJob.lineage(spark, dir)
      .collect().map(r => r.getAs[Int]("bucket") ->
        (r.getAs[Long]("input_rows"), r.getAs[Long]("emitted"))).toMap
    val orphanBucket = KgEngine.bucketOf(F.lit(""), 4)
    val b0 = spark.range(1).select(orphanBucket).head.getInt(0)
    val (withIt, without) = (perBucket(out), perBucket(clean))
    assert(withIt.keySet == without.keySet + b0)
    assert(withIt.forall { case (b, (in, emitted)) =>
      val (in0, emitted0) = without.getOrElse(b, (0L, 0L))
      emitted == emitted0 && in == in0 + (if (b == b0) 1 else 0)
    }, s"$withIt vs $without")
  }
}
