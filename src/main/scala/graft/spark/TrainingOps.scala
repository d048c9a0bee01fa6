package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables: deduplication (exact / MinHash+LSH / SimHash / n-gram Jaccard),
  * approximate nearest neighbors, text analysis, and multimodal plumbing.
  * All deterministic (seeded hash mixes, no RNG), all expressed so filters
  * and projections push to the parquet scan.
  */
object TrainingOps {

  // The operators' fixed geometry. The relational oracles embed these values
  // as literals, so a different value would only break the oracle.
  private final val MinHashes = 16   // minhash values per document
  private final val Bands = 4        // LSH bands, MinHashes / Bands values each
  private final val ShingleN = 3     // words per shingle
  private final val Dim = 64         // embedding width
  private final val Planes = 8       // hyperplanes per LSH table
  private final val Tables = 4       // hyperplane LSH tables
  private final val NList = 16       // IVF cells
  private final val NProbe = 4       // IVF cells a query probes
  private final val Iters = 2        // Lloyd's iterations of the IVF trainer
  private final val Queries = 10     // ANN queries: the vectors with vec_id < Queries
  private final val K = 10           // ANN neighbors per query
  private final val DupCosine = 0.95 // dedupEmbedding's cosine threshold

  // ---------- deduplication ----------

  /** Exact dedup via content hash: one row per distinct text with its
    * cardinality and the kept (minimum) doc_id.
    */
  def dedupExact(documents: DataFrame): DataFrame =
    documents.groupBy(F.md5(F.col("text")).as("content_hash"))
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.min("doc_id").as("keep_id"))

  /** 64-bit deterministic hash mix (splitmix64 finalizer). */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Space-split keeping trailing empty tokens — the semantics of SQL
    * `split`/DuckDB `string_split`, so Scala-side token streams and the
    * relational oracles measure identical token sequences even for texts
    * with trailing/double spaces.
    */
  private def tokens(text: String): Array[String] = text.split(" ", -1)

  /** `words.slice(from, from+n).mkString(" ").hashCode` without building
    * the window or the joined string: String.hashCode is 31-Horner over
    * chars, so folding the words' chars with a single space between them is
    * bit-identical. The sliding+mkString form allocated a window ArraySeq
    * plus a String per shingle and measured as the dominant allocation of
    * the MinHash signature pass. Equivalence is property-tested
    * (DedupPipelineSpec).
    */
  private[graft] def joinedHashCode(words: Array[String], from: Int, n: Int): Int = {
    var h = 0
    var w = from
    val end = from + n
    while (w < end) {
      if (w > from) h = 31 * h + ' '
      val s = words(w)
      var i = 0
      while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
      w += 1
    }
    h
  }

  private def shingles(text: String): Iterator[Long] = {
    val words = tokens(text)
    if (words.length < ShingleN) Iterator.single(mix64(text.hashCode.toLong))
    else (0 to words.length - ShingleN).iterator
      .map(i => mix64(joinedHashCode(words, i, ShingleN).toLong))
  }

  final case class MinHashSig(doc_id: Long, band: Int, key: Long)

  /** MinHash+LSH candidate generation: word `ShingleN`-gram shingles →
    * `MinHashes` minhash values → `Bands` bands hashed to bucket keys. A
    * join on (band, key) yields candidate pairs without a cross product;
    * verification computes true Jaccard on the candidates only. The
    * signature runs as a Catalyst expression (`bandKeys` in a
    * `ScalaKernel`) and a posexplode, inside the scan's codegen stage.
    */
  def minhashBands(documents: DataFrame): Dataset[MinHashSig] = {
    import documents.sparkSession.implicits._
    bandSigs(documents).select("doc_id", "band", "key").as[MinHashSig]
  }

  /** `minhashBands` plus `keys`, the document's key in every band. */
  private def bandSigs(documents: DataFrame): DataFrame =
    documents.select(F.col("doc_id").cast("long").as("doc_id"),
        graft.functions.ScalaKernel.column(documents.sparkSession, "minhash_band_keys",
          bandKeys, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          F.col("text")).as("keys"))
      .select(F.col("*"), F.posexplode(F.col("keys")).as(Seq("band", "key")))

  /** A text's `Bands` band keys, band b at index b. */
  private val bandKeys: Array[Any] => Any = args => {
    val sig = Array.fill(MinHashes)(Long.MaxValue)
    shingles(if (args(0) == null) null else args(0).toString).foreach { sh =>
      var i = 0
      while (i < MinHashes) {
        val h = mix64(sh ^ (0x1234567890ABCDEFL * (i + 1)))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    val perBand = MinHashes / Bands
    val keys = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var key = 0L
      var i = 0
      while (i < perBand) { key = mix64(key ^ sig(b * perBand + i)); i += 1 }
      keys(b) = key
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(keys)
  }

  /** The word-`ShingleN`-gram shingle set from a pre-split token-array
    * column — SAME granularity the MinHash signatures hash, so candidate
    * verification measures the quantity the LSH approximates (texts of
    * fewer words degrade to the whole text, mirroring `shingles`). Takes
    * the split as a bound column: re-splitting inside the transform lambda
    * would make each row O(words²).
    */
  private def shingleSet(textCol: String, wsCol: String): org.apache.spark.sql.Column = {
    val words = (0 until ShingleN).map(j => if (j == 0) s"$wsCol[i]" else s"$wsCol[i+$j]")
    F.when(F.size(F.col(wsCol)) < ShingleN, F.array(F.col(textCol)))
      .otherwise(F.expr(
        s"transform(sequence(0, size($wsCol) - $ShingleN), " +
        s"i -> concat_ws(' ', ${words.mkString(", ")}))"))
  }

  /** LSH candidate pairs: the rows of `sigs` (`id`, keys, slot, key) that
    * share a bucket, i.e. a `key` in the same `slot` (a band, chunk or
    * table), as (a, b) with a < b on `id`, plus `<c>_a` and `<c>_b` for every
    * `carry` column. `keys` holds the row's key in every slot, so a pair
    * that shares several buckets joins once, in the first slot it shares,
    * and needs no distinct. This is the one place bucket pairs are built, so
    * a heavy bucket is split here or nowhere.
    *
    * The shuffle-hash hint on the build side: without it the planner
    * broadcasts one side, whose plan shape differs from the streamed side,
    * and the signature pass executes once PER SIDE (profiled as 2× the
    * operator's CPU). With both sides shuffled on (slot, key) the two
    * exchange subtrees are canonically identical and AQE's runtime stage
    * cache executes the signature pass ONCE — single execution with lineage
    * intact (no checkpoint, no storage residency), and the shuffled
    * self-join is the only shape that works at corpus scale anyway (a
    * signature table never broadcasts at 100 TB).
    */
  private def bucketPairs(
      sigs: DataFrame, id: String, slots: Int, carry: Seq[String] = Nil
  ): DataFrame = {
    def side(s: String, c: String) = F.col(s"$s.$c")
    sigs.as("l").join(sigs.as("r").hint("shuffle_hash"),
        side("l", "slot") === side("r", "slot") && side("l", "key") === side("r", "key") &&
        side("l", id) < side("r", id) &&
        side("l", "slot") === firstShared(side("l", "keys"), side("r", "keys"), slots))
      .select(Seq(side("l", id).as("a"), side("r", id).as("b")) ++
        carry.flatMap(c => Seq(side("l", c).as(s"${c}_a"), side("r", c).as(s"${c}_b"))): _*)
  }

  /** The first of `slots` positions at which the key arrays `l` and `r`
    * agree (`slots` when none does).
    */
  private def firstShared(
      l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column, slots: Int
  ): org.apache.spark.sql.Column =
    (0 until slots).foldRight(F.lit(slots)) { (i, later) =>
      F.when(l(i) === r(i), i).otherwise(later)
    }

  /** The LSH candidate set alone: doc pairs sharing at least one band
    * bucket, (a, b) with a < b. Split out of `minhashDedupPairs` so the
    * composed `dedupPipeline` (and its scale tests) can measure candidate
    * volume directly — candidate count is the quantity the exact-first
    * composition bounds.
    */
  def minhashCandidatePairs(documents: DataFrame): DataFrame =
    bucketPairs(bandSigs(documents).withColumnRenamed("band", "slot"), "doc_id", Bands)

  /** Candidate pairs from LSH buckets, verified with exact shingle-set
    * Jaccard ≥ `threshold` (w-shingling). Output: (a, b, jaccard), a < b.
    * At threshold 1.0 the pairs are exactly the identical-shingle-set pairs,
    * for which banding recall is 1 (identical signatures collide in every
    * band) — that is the oracle-checkable operating point.
    */
  def minhashDedupPairs(documents: DataFrame, threshold: Double = 0.9): DataFrame = {
    val docs = documents.select(F.col("doc_id").cast("long"), F.col("text"))
    // the shingle-set table verifies both endpoints of every candidate pair
    // (two joins with different column aliases — aliased consumers do not
    // share an exchange, measured): materialize it once instead of
    // recomputing the O(words) transform per side
    verifiedPairs(minhashCandidatePairs(docs),
      SparkRuntime.materialize(withShingles(docs).select("doc_id", "toks")), threshold)
  }

  /** `docs` plus `toks`, the distinct word-`ShingleN`-gram shingles of its
    * `text`.
    */
  private def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("ws", F.split(F.col("text"), " "))
      .withColumn("toks", F.array_distinct(shingleSet("text", "ws")))
      .drop("ws")

  /** The candidate pairs `cand` (a, b) whose shingle sets, looked up in
    * `toks` (doc_id, toks, carry...), have Jaccard ≥ `threshold`: (a, b,
    * jaccard), plus `<c>_a` and `<c>_b` for every `carry` column.
    */
  private def verifiedPairs(
      cand: DataFrame, toks: DataFrame, threshold: Double, carry: Seq[String] = Nil
  ): DataFrame = {
    def end(e: String) = toks.select(Seq(F.col("doc_id").as(e), F.col("toks").as(s"t$e")) ++
      carry.map(c => F.col(c).as(s"${c}_$e")): _*)
    cand
      .join(end("a"), "a")
      .join(end("b"), "b")
      .withColumn("inter", F.size(F.array_intersect(F.col("ta"), F.col("tb"))))
      .withColumn("uni", F.size(F.array_union(F.col("ta"), F.col("tb"))))
      .where(F.col("uni") > 0)
      .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
      .where(F.col("jaccard") >= threshold)
      .select((Seq("a", "b", "jaccard") ++ carry.flatMap(c => Seq(s"${c}_a", s"${c}_b")))
        .map(F.col): _*)
  }

  /** First 8 md5 bytes of a word, big-endian — the per-word hash for
    * SimHash. md5 (rather than a JVM-private hash mix) keeps the signature
    * reproducible by any engine, which is what makes the relational oracle
    * for simhash pairs possible.
    */
  private def md5Word64(md: java.security.MessageDigest, w: String): Long = {
    md.reset()
    val d = md.digest(w.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h
  }

  /** 64-bit SimHash over word frequencies (word hash = first 8 md5 bytes). */
  def simhash(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(F.col("doc_id").cast("long"), F.col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val acc = new Array[Int](64)
          tokens(text).foreach { w =>
            val h = md5Word64(md, w)
            var i = 0
            while (i < 64) {
              if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
              i += 1
            }
          }
          var sh = 0L
          var i = 0
          while (i < 64) { if (acc(i) > 0) sh |= (1L << i); i += 1 }
          (id, sh)
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist, blocked on the
    * 4 16-bit chunks (a pair within distance 3 shares at least one chunk).
    */
  def simhashPairs(documents: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunked = simhash(documents)
      .select(F.col("*"), F.array((0 until 4).map(c =>
        F.shiftrightunsigned(F.col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*).as("keys"))
      .select(F.col("*"), F.posexplode(F.col("keys")).as(Seq("slot", "key")))
    bucketPairs(chunked, "doc_id", 4, carry = Seq("simhash"))
      .withColumn("dist", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
      .where(F.col("dist") <= maxDist)
      .select("a", "b", "dist")
  }

  // ---------- composed dedup pipeline (exact-first) ----------

  /** MinHash+LSH near-dup with the exact-duplicate collapse composed in
    * front — same output contract as `minhashDedupPairs` (a, b, jaccard),
    * identical results, candidate volume bounded by distinct content.
    *
    * Collapse exact duplicates (md5 groupBy, kept id = group minimum), run
    * `minhashDedupPairs`' candidate and verification steps over ONE
    * representative per distinct content, then expand each verified group
    * pair over both groups' members. Because every stage of the near-dup
    * operator — MinHash signatures, shingle sets — is a pure function of
    * `text`, a pair of documents relates exactly as its representatives do,
    * so the composed result EQUALS the naive all-docs pair semantics while
    * candidate generation and verification touch only O(distinct²) pairs
    * instead of O(docs²). This is the fix for the duplicate-flood pathology:
    * 10⁶ copies of one boilerplate page share every LSH band and would emit
    * ~5·10¹¹ intra-bucket candidates naively; here they collapse to one
    * representative before banding, and reappear only in the final member
    * joins (linear in OUTPUT size, which is irreducible for a pair-list
    * contract — a production run would persist the groups plus the
    * representative pairs and skip the expansion entirely).
    */
  def dedupPipeline(documents: DataFrame, threshold: Double = 0.9): DataFrame = {
    val docs = documents.select(F.col("doc_id").cast("long").as("doc_id"), F.col("text"))
    val members = docs.withColumn("h", F.md5(F.col("text")))
    // one aggregate produces the representative corpus with its shingle
    // sets. text is functionally determined by h, so it is a grouping key
    // rather than a min(text) buffer: a string-buffered aggregate plans as a
    // SortAggregate, outside whole-stage codegen, while this is a hash
    // aggregate. groups is materialized: it feeds the band signatures, both
    // ends of the pair verification and the self pairs — without the
    // barrier each consumer re-runs the md5 aggregate over the full corpus
    val groups = SparkRuntime.materialize(withShingles(members.groupBy("h", "text")
      .agg(F.min("doc_id").as("rep_id"))))
    val reps = groups.select(F.col("rep_id").as("doc_id"), F.col("text"), F.col("toks"),
      F.col("h"))
    // each group also pairs with itself at jaccard 1.0 (identical content),
    // so expanding the verified group pairs plus every (h, h) self pair over
    // both groups' members yields the cross-group pairs and the intra-group
    // pairs (da < db) in one pass; least/greatest restores the a < b normal
    // form. Both member joins read the member table itself, keyed on h
    verifiedPairs(minhashCandidatePairs(reps), reps, threshold, carry = Seq("h"))
      .select(F.col("h_a"), F.col("h_b"), F.col("jaccard"))
      .unionByName(groups.select(F.col("h").as("h_a"), F.col("h").as("h_b"),
        F.lit(1.0).as("jaccard")))
      .join(members.select(F.col("doc_id").as("da"), F.col("h").as("h_a")), "h_a")
      .join(members.select(F.col("doc_id").as("db"), F.col("h").as("h_b")), "h_b")
      .where(F.col("h_a") =!= F.col("h_b") || F.col("da") < F.col("db"))
      .select(F.least("da", "db").as("a"), F.greatest("da", "db").as("b"), F.col("jaccard"))
  }

  // ---------- similarity search (embeddings) ----------

  /** Cosine in double precision element-by-element (floats widened before
    * multiply) so any engine computing on DOUBLE lists sequentially gets the
    * bit-identical result — required for the relational oracle. Mismatched
    * lengths compare the common prefix (the same contract as the Catalyst
    * `cosine_sim` expression — the two implementations must never diverge).
    */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** The (vec_id, embedding) pairs every embedding operator reads. */
  private def vectors(embeddings: DataFrame): Dataset[(Long, Array[Float])] = {
    import embeddings.sparkSession.implicits._
    embeddings.select(F.col("vec_id").cast("long"), F.col("embedding"))
      .as[(Long, Array[Float])]
  }

  /** Brute-force cosine top-`K` for the query vectors with vec_id <
    * `Queries`. Query selection is a pushed-down column filter; queries
    * broadcast; one pass over the corpus per partition keeps a bounded
    * k-heap per query, so at most partitions × queries × K rows (not N×Q)
    * reach the final per-query top-k merge.
    */
  def annBruteForce(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val proj = vectors(embeddings)
    val queries = proj.where(F.col("vec_id") < Queries).collect().sortBy(_._1)
    val bq = spark.sparkContext.broadcast(queries)
    // worst-first ordering: lowest cosine (then highest vec_id) at the top
    val worstFirst = Ordering.by((x: (Double, Long)) => (-x._1, x._2))
    val partialTopK = proj.mapPartitions { it =>
      val qs = bq.value
      val heaps = Array.fill(qs.length)(
        new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst))
      it.foreach { case (id, v) =>
        var qi = 0
        while (qi < qs.length) {
          val (qid, qv) = qs(qi)
          if (qid != id) {
            val c = cosine(qv, v)
            val h = heaps(qi)
            if (h.size < K) h.enqueue((c, id))
            else {
              val (wc, wid) = h.head
              if (c > wc || (c == wc && id < wid)) { h.dequeue(); h.enqueue((c, id)) }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (c, id) => (qs(qi)._1, id, c) }
      }
    }.toDF("query_id", "vec_id", "cosine")
    // tiny merge: ≤ partitions × |queries| × K rows
    val w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    partialTopK.withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= K)
      .select("query_id", "rank", "vec_id")
  }

  /** Deterministic pseudo-random hyperplanes for `annLsh` — public so the
    * correctness oracle can embed the identical values.
    */
  def hyperplanes(tables: Int, planes: Int, dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, planes, dim) { (t, p, d) =>
      val h = mix64((t.toLong << 40) ^ (p.toLong << 20) ^ d.toLong)
      (h.toDouble / Long.MaxValue.toDouble).toFloat.toDouble
    }

  /** Random-hyperplane LSH signatures: one (vec_id, embedding, sigs, table,
    * sig) row per vector of `vecs` (vec_id, embedding) and table, where bit p
    * of `sig` is set when the vector lies on the positive side of the
    * table's hyperplane p, and `sigs` holds every table's signature. A
    * native expression (`graft.functions.HyperplaneSignatures`) and a
    * posexplode, so the pass stays inside whole-stage codegen. The one
    * signature pass of `annLsh` (corpus and query sides) and
    * `dedupEmbedding`.
    */
  private def hyperplaneSigs(vecs: DataFrame): DataFrame =
    vecs.select(F.col("vec_id"), F.col("embedding"), graft.functions.HyperplaneSignatures
        .column(vecs.sparkSession, F.col("embedding"), lshPlanes).as("sigs"))
      .select(F.col("*"), F.posexplode(F.col("sigs")).as(Seq("table", "sig")))

  /** `annLsh`'s and `dedupEmbedding`'s hyperplanes, built once. */
  private lazy val lshPlanes = hyperplanes(Tables, Planes, Dim)

  /** The top-`K` candidates of each query by exact cosine: `cand` holds
    * (query_id, qembedding, vec_id, embedding), each pair scored and ranked
    * within its query, ties to the lower vec_id. The scoring tail of `annLsh`
    * and `annIvf`.
    */
  private def topKByCosine(cand: DataFrame): DataFrame = {
    // native codegen'd expression, not a UDF — keeps the scoring inside the
    // whole-stage span and reads ArrayData in place
    graft.functions.CosineSimilarity.register(cand.sparkSession)
    val w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    cand
      .withColumn("cosine", F.expr("cosine_sim(qembedding, embedding)"))
      .withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= K)
      .select("query_id", "rank", "vec_id")
  }

  /** LSH-bucketed ANN (the scale path): random-hyperplane signatures from a
    * deterministic seed bucket the corpus; candidates = same bucket in any
    * of the `Tables` hash tables; top-k among candidates. Both signature
    * passes carry their vectors, so the candidates are scored without a
    * lookup join.
    */
  def annLsh(embeddings: DataFrame): DataFrame = {
    val ds = vectors(embeddings).toDF()
    val bucketed = hyperplaneSigs(ds)
    // query signatures from the FILTERED vectors (a column predicate, so
    // the scan pushes it down), not a filter of the corpus signature table:
    // the corpus pass then has a single consumer and runs once, and at
    // scale the query side reads `Queries` vectors instead of re-bucketing
    // the corpus (the same shape annIvf uses)
    val queries = hyperplaneSigs(ds.where(F.col("vec_id") < Queries))
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qembedding"),
        F.col("sigs").as("qsigs"), F.col("table"), F.col("sig"))
    // a pair that shares buckets in several tables joins once, in the first
    // table it shares, so the candidates need no distinct
    topKByCosine(queries.join(bucketed, Seq("table", "sig"))
      .where(F.col("query_id") =!= F.col("vec_id") &&
        F.col("table") === firstShared(F.col("qsigs"), F.col("sigs"), Tables))
      .select("query_id", "qembedding", "vec_id", "embedding"))
  }

  /** Deterministic IVF centroids — the same splitmix64 family as
    * `hyperplanes` (distinct seed space), public so the relational oracle
    * embeds identical values. Real IVF trains centroids with k-means in a
    * separate offline job; deterministic centroids keep the ORACLE exact
    * while the Spark-side plumbing (assignment, inverted cells, probe
    * join, in-cell exact scoring) is the production shape.
    */
  def centroids(nlist: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nlist, dim) { (c, d) =>
      val h = mix64(0x1F1F0000000000L ^ (c.toLong << 20) ^ d.toLong)
      (h.toDouble / Long.MaxValue.toDouble).toFloat.toDouble
    }

  /** Nearest `n` cells of `v` under the IVF assignment rule: argmax dot
    * product, ties to the lowest cell id — shared by assignment, probing,
    * and the k-means trainer so the three can never drift apart.
    */
  private def nearestCells(
      cs: Array[Array[Double]], v: Array[Float], n: Int): Array[Int] = {
    val scores = Array.tabulate(cs.length) { c =>
      var dot = 0.0
      var d = 0
      val lim = math.min(cs(c).length, v.length)
      // double element products — reproducible by list_dot_product on
      // DOUBLE[] (the relational oracle)
      while (d < lim) { dot += v(d).toDouble * cs(c)(d); d += 1 }
      (dot, c)
    }
    scores.sortBy { case (s, c) => (-s, c) }.take(n).map(_._2)
  }

  /** Lloyd's trainer for the IVF coarse quantizer — the offline job the
    * deterministic seed matrix stood in for. Seeds = `centroids(NList,
    * Dim)`; each iteration assigns every vector to its nearest cell under
    * the SAME argmax-dot rule retrieval uses, then recomputes each cell as
    * the element-wise mean of its members (an empty cell keeps its previous
    * position).
    *
    * Scale shape: one narrow scan per iteration. The mean is a columnar
    * `posexplode` + partial-aggregated `avg` per (cell, dimension) — rows
    * crossing the shuffle are capped at partitions × NList × Dim partials,
    * never the corpus — and the driver collect is exactly NList × Dim
    * means. No vector ever crosses an exchange. `Iters` is FIXED (not
    * convergence-tested) so the run is deterministic and the relational
    * oracle can unroll the same number of steps.
    *
    * Means are rounded to 6 decimals before feeding the next assignment:
    * both engines' float sums agree to ~1e-12 relative, so quantizing at
    * 1e-6 makes the (engine-dependent) summation order unobservable while
    * leaving the quantizer's geometry intact.
    */
  def trainIvfCentroids(embeddings: DataFrame): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val ds = vectors(embeddings)
    var cs = centroids(NList, Dim)
    for (_ <- 0 until Iters) {
      val cur = cs
      val means = ds.map { case (_, v) => (nearestCells(cur, v, 1)(0), v) }
        .toDF("cell", "emb")
        .select(F.col("cell"), F.posexplode(F.col("emb")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).as("m"))
        .collect()
      val next = Array.tabulate(NList, Dim)((c, d) => cur(c)(d))
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cs = next
    }
    cs
  }

  /** IVF (inverted-file) ANN — the other classic scale path beside LSH:
    * every corpus vector is assigned to its single nearest centroid cell of
    * `cents` (argmax dot product, ties to the lowest cell id — one narrow
    * pass, centroids in the task closure); a query probes its `NProbe`
    * nearest cells and exact cosine runs only against those cells' vectors.
    * The candidate step is a cell-id equijoin (the probe side is Queries ×
    * NProbe rows — broadcast), so the scored set is ~|corpus|·NProbe/NList
    * instead of N×Q; a skewed cell is ordinary join skew, handled by AQE.
    */
  def annIvf(embeddings: DataFrame, cents: Array[Array[Double]] = centroids(NList, Dim)): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val ds = vectors(embeddings)
    val assigned = ds.map { case (id, v) => (id, nearestCells(cents, v, 1)(0)) }
      .toDF("vec_id", "cell")
    // a column predicate, so the scan pushes it down
    val probed = ds.where(F.col("vec_id") < Queries)
      .flatMap { case (id, v) => nearestCells(cents, v, NProbe).iterator.map(c => (id, c)) }
      .toDF("query_id", "cell")
    val cand = F.broadcast(probed).join(assigned, Seq("cell"))
      .where(F.col("query_id") =!= F.col("vec_id"))
      .select("query_id", "vec_id")
    // the `Queries` query vectors broadcast; the corpus vectors join back
    val vecs = ds.toDF()
    topKByCosine(cand
      .join(F.broadcast(vecs.toDF("query_id", "qembedding").where(F.col("query_id") < Queries)),
        "query_id")
      .join(vecs, "vec_id"))
  }

  /** Embedding-cosine near-dup: candidate pairs share a hyperplane-LSH
    * bucket in any table (the same signatures annLsh uses), then exact
    * cosine ≥ `DupCosine` on candidates only — never the N² cross product.
    * Identical vectors always share every bucket, so recall for exact
    * duplicates is 1.
    */
  def dedupEmbedding(embeddings: DataFrame): DataFrame = {
    val ds = vectors(embeddings)
    val cand = bucketPairs(hyperplaneSigs(ds.toDF()).select(F.col("vec_id"),
      F.col("sigs").as("keys"), F.col("table").as("slot"), F.col("sig").as("key")), "vec_id", Tables)
    val vecs = ds.toDF()
    graft.functions.CosineSimilarity.register(embeddings.sparkSession)
    cand
      .join(vecs.withColumnRenamed("vec_id", "a").withColumnRenamed("embedding", "ea"), "a")
      .join(vecs.withColumnRenamed("vec_id", "b").withColumnRenamed("embedding", "eb"), "b")
      .withColumn("cosine", F.expr("cosine_sim(ea, eb)"))
      .where(F.col("cosine") >= DupCosine)
      .select("a", "b", "cosine")
  }

  // ---------- text analysis ----------

  /** BPE-ish subword pattern: letter runs, SINGLE digits (the GPT-2-family
    * convention that keeps numbers compositional), and single
    * non-alphanumeric marks. Dialect-portable (same semantics under Java
    * regex and DuckDB/RE2), so both engines count identical pieces.
    */
  val SubwordPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  /** Token counting + vocabulary stats per language: whitespace tokens AND
    * a BPE-ish subword count (`SubwordPattern`) — the estimator a training
    * pipeline budgets with. Pure integer arithmetic so the DuckDB oracle
    * matches exactly; everything stays columnar/codegen'd (regexp_count, no
    * UDF).
    */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .withColumn("n_tokens",
        (F.length(F.col("text")) - F.length(F.regexp_replace(F.col("text"), " ", "")) + F.lit(1))
          .cast("long"))
      .withColumn("n_distinct",
        F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("long"))
      .withColumn("n_subwords",
        F.expr(s"regexp_count(text, '${SubwordPattern.replace("\\", "\\\\")}')").cast("long"))
      .groupBy("lang")
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.sum("n_tokens").as("total_tokens"),
        F.sum("n_distinct").as("total_distinct"),
        F.sum("n_subwords").as("total_subwords"))
      .orderBy("lang")

  /** Per-document quality scoring: length sanity, vocabulary richness,
    * punctuation count, mean token length (centichars). Integer/exact
    * arithmetic only so the relational oracle is bit-exact.
    */
  def qualityScores(documents: DataFrame): DataFrame = {
    val len = F.length(F.col("text"))
    val nTokens = len - F.length(F.regexp_replace(F.col("text"), " ", "")) + F.lit(1)
    documents.select(
      F.col("doc_id"),
      len.cast("long").as("n_chars_actual"),
      nTokens.cast("long").as("n_tokens"),
      F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("long").as("n_distinct"),
      (len - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")))
        .cast("long").as("n_punct"),
      // mean token length in centichars: chars-in-tokens*100 div tokens
      F.expr("((length(text) - (length(text) - length(replace(text, ' ', '')))) * 100) " +
        "div (length(text) - length(replace(text, ' ', '')) + 1)")
        .cast("long").as("mean_token_centilen"),
      (F.col("n_chars") === len).as("chars_consistent"))
  }

  /** Stopword-ratio language-ID heuristic: per mille of 'the'/'a' tokens;
    * classify en-like when above threshold.
    */
  def langIdHeuristic(documents: DataFrame): DataFrame = {
    // integer-division arithmetic throughout so the DuckDB `//` oracle is exact
    val permille = F.expr(
      """CAST((((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ' '))) div 4
            + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ' '))) div 2)
            * 1000) div (length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)""")
    documents.select(
      F.col("doc_id"),
      F.col("lang").as("declared_lang"),
      permille.as("stopword_permille"))
      .withColumn("looks_english", F.col("stopword_permille") >= 40)
  }

  /** Document fingerprint: stable 128-bit content id + 16-char prefix id. */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      F.col("doc_id"),
      F.md5(F.col("text")).as("content_hash"),
      F.substring(F.md5(F.col("text")), 1, 16).as("short_id"))

  // ---------- multimodal plumbing ----------

  final case class MediaFeature(
      doc_id: Long, n_bytes: Int, width: Int, height: Int, checksum: String)

  /** Lowercase hex of a byte array as ASCII bytes — the fingerprint
    * encoding of the multimodal ops. A lookup table instead of per-byte
    * `"%02x".format` (which allocates a Formatter per byte and measured as
    * the dominant CPU of multimodal_decode at sf0.1 — ~1 s for 5000 blobs).
    * Output is byte-identical.
    */
  private val HexDigits: Array[Byte] = "0123456789abcdef".getBytes("US-ASCII")

  private def hexBytes(bytes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xFF
      out(2 * i) = HexDigits(v >>> 4)
      out(2 * i + 1) = HexDigits(v & 0xF)
      i += 1
    }
    out
  }

  private def hexString(bytes: Array[Byte]): String =
    new String(hexBytes(bytes), java.nio.charset.StandardCharsets.US_ASCII)

  private def le32(bytes: Array[Byte], off: Int): Int =
    (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8) |
    ((bytes(off + 2) & 0xFF) << 16) | ((bytes(off + 3) & 0xFF) << 24)

  /** Multimodal decode: media arrives as opaque binary; decode runs batched
    * per partition. BMP (the one format parseable without codec libraries)
    * is decoded for real — magic, BITMAPINFOHEADER width/height. Other
    * payloads fall back to a documented length-derived shape (a production
    * build swaps in a vectorized codec at the marked point; the Spark-side
    * contract — binary in, typed features out, batched execution — is the
    * same). The checksum is md5 over the lowercase hex encoding of the blob,
    * an engine-neutral fingerprint any SQL oracle reproduces.
    */
  def decodeMediaBatch(spark: SparkSession, media: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    media.select(F.col("doc_id").cast("long"), F.col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.grouped(64).flatMap { batch =>
          // batch boundary: a vectorized decoder takes `batch` wholesale here
          batch.iterator.map { case (id, bytes0) =>
            val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
            val n = bytes.length
            // decodable = BM magic + a BITMAPINFOHEADER (40) with sane dims;
            // a negative biHeight marks a top-down bitmap (report |height|)
            val isBmp = n >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte &&
              le32(bytes, 14) == 40
            val (w0, h0) =
              if (isBmp) (le32(bytes, 18), math.abs(le32(bytes, 22)))
              else (0, 0)
            val (w, h) =
              if (isBmp && w0 > 0 && w0 <= (1 << 20) && h0 > 0 && h0 <= (1 << 20))
                (w0, h0)
              else (1 + (n % 640), 1 + (n % 480)) // codec-free fallback shape
            md.reset()
            MediaFeature(
              doc_id = id, n_bytes = n, width = w, height = h,
              checksum = hexString(md.digest(hexBytes(bytes))))
          }
        }
      }
  }

  final case class ResizedMedia(
      doc_id: Long, width: Int, height: Int, n_pixel_bytes: Int, pixel_md5: String)

  /** Multimodal resize: a REAL nearest-neighbor ÷2 downsample over the
    * decoded 24bpp BMP pixel array (bottom-up rows, 4-byte row padding —
    * the actual pixel walk a production resizer does), emitting packed RGB
    * without padding plus an engine-neutral md5-over-hex fingerprint. The
    * synthetic payloads are all-black, which keeps the ORACLE closed-form
    * (the resample of a black image is black: md5(repeat('00', 3·w'·h')))
    * while the Spark-side plumbing — binary in, batched per-partition
    * execution, typed rows out — is the production shape. Non-BMP blobs
    * are skipped (a production build routes them to its codec at the same
    * batch boundary).
    */
  def resizeMediaBatch(spark: SparkSession, media: DataFrame): Dataset[ResizedMedia] = {
    import spark.implicits._
    media.select(F.col("doc_id").cast("long"), F.col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.grouped(64).flatMap { batch =>
          batch.iterator.flatMap { case (id, bytes0) =>
            val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
            val n = bytes.length
            val isBmp = n >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte &&
              le32(bytes, 14) == 40
            if (!isBmp) Iterator.empty
            else {
              val w = le32(bytes, 18)
              val h = math.abs(le32(bytes, 22))
              if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) Iterator.empty
              else {
                val rowSize = ((24 * w + 31) / 32) * 4
                val w2 = (w + 1) / 2
                val h2 = (h + 1) / 2
                val out = new Array[Byte](3 * w2 * h2)
                var y2 = 0
                while (y2 < h2) {
                  val srcY = y2 * 2
                  // bottom-up storage: row y sits at (h-1-y) from the top
                  val rowOff = 54 + (h - 1 - srcY) * rowSize
                  var x2 = 0
                  while (x2 < w2) {
                    val srcOff = rowOff + (x2 * 2) * 3
                    val dstOff = (y2 * w2 + x2) * 3
                    if (srcOff + 2 < n) {
                      out(dstOff) = bytes(srcOff)
                      out(dstOff + 1) = bytes(srcOff + 1)
                      out(dstOff + 2) = bytes(srcOff + 2)
                    }
                    x2 += 1
                  }
                  y2 += 1
                }
                md.reset()
                Iterator.single(ResizedMedia(id, w2, h2, out.length,
                  hexString(md.digest(hexBytes(out)))))
              }
            }
          }
        }
      }
  }

  final case class SampledFrame(doc_id: Long, frame_idx: Int, width: Int, height: Int)

  /** Multimodal frame sampling: walk a length-prefixed frame container and
    * decode every `stride`-th frame's header — the batched binary-in /
    * typed-rows-out plumbing of a video sampler (a production build swaps
    * the per-frame header read for its codec at the same place). Offsets
    * advance by each frame's OWN declared file size, so variable-length
    * frames walk correctly.
    */
  def sampleFrames(
      spark: SparkSession,
      clips: DataFrame,              // (doc_id, blob)
      stride: Int = 2
  ): Dataset[SampledFrame] = {
    import spark.implicits._
    clips.select(F.col("doc_id").cast("long"), F.col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          batch.iterator.flatMap { case (id, bytes0) =>
            val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
            if (bytes.length < 4) Iterator.empty
            else {
              val nFrames = le32(bytes, 0)
              val out = List.newBuilder[SampledFrame]
              var off = 4
              var i = 0
              while (i < nFrames && off + 54 <= bytes.length &&
                     bytes(off) == 'B'.toByte && bytes(off + 1) == 'M'.toByte) {
                val fileSize = le32(bytes, off + 2)
                if (i % stride == 0)
                  out += SampledFrame(id, i,
                    le32(bytes, off + 18), math.abs(le32(bytes, off + 22)))
                if (fileSize <= 0) i = nFrames else { off += fileSize; i += 1 }
              }
              out.result().iterator
            }
          }
        }
      }
  }

  /** Deterministic 24-bit all-black BMP for doc `id` (width 1+id%16, height
    * 1+id%12) — the synthetic media payload for decode tests and oracles.
    */
  def syntheticBmp(id: Long): Array[Byte] = {
    val w = (1 + id % 16).toInt
    val h = (1 + id % 12).toInt
    syntheticBmpPattern(id, w, h, black = true)
  }

  /** Deterministic 24-bit BMP with a NON-uniform pixel pattern (unless
    * `black`): pixel at image column x, top-based row y carries
    * B=(id+x+y)%256, G=(2x+3y)%256, R=(id+5x+7y)%256, stored bottom-up
    * with 4-byte row padding. Non-black payloads keep the resize pixel
    * walk honest — an off-by-one in the row offset or padding math is
    * invisible on all-black data.
    */
  def syntheticBmpPattern(id: Long, w: Int, h: Int, black: Boolean = false): Array[Byte] = {
    val rowSize = ((24 * w + 31) / 32) * 4
    val imageSize = rowSize * h
    val fileSize = 54 + imageSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(imageSize).putInt(0).putInt(0).putInt(0).putInt(0)
    val bytes = b.array()
    if (!black) {
      var y = 0
      while (y < h) {
        val rowOff = 54 + (h - 1 - y) * rowSize // bottom-up storage
        var x = 0
        while (x < w) {
          val off = rowOff + x * 3
          bytes(off) = ((id + x + y) % 256).toByte
          bytes(off + 1) = ((2 * x + 3 * y) % 256).toByte
          bytes(off + 2) = ((id + 5 * x + 7 * y) % 256).toByte
          x += 1
        }
        y += 1
      }
    }
    bytes
  }

  /** Synthetic clip with VARIABLE-size frames: a 4-byte LE frame count,
    * then 1+id%6 all-black BMP frames where frame i has width
    * 1+(id+3i)%16 and height 1+(id+5i)%12 — so the sampler's walk
    * advances by a DIFFERENT declared file size per frame and any
    * fixed-stride shortcut would desynchronize.
    */
  def syntheticClipVaried(id: Long): Array[Byte] = {
    val nFrames = (1 + id % 6).toInt
    val frames = (0 until nFrames).map { i =>
      syntheticBmpPattern(id,
        (1 + (id + 3 * i) % 16).toInt, (1 + (id + 5 * i) % 12).toInt, black = true)
    }
    val b = java.nio.ByteBuffer.allocate(4 + frames.map(_.length).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(nFrames)
    frames.foreach(b.put)
    b.array()
  }
}
