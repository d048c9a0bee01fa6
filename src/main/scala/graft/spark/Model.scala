package graft.spark

import graft.core._

/** Spark-facing row types and the Datum JSON codec used to ship extractor
  * output through shuffles (triples are ~100s of bytes; page bodies never
  * shuffle — see KgEngine).
  */
object Model {

  /** One provenance-tagged triple row (the `raw_triples` table). */
  final case class RawTriple(
      subj: String,
      pred: String,
      obj: String,          // scalar canonical form ("" when payload is structured)
      obj_json: String,     // canonical JSON for list/struct payloads ("" for scalars)
      certainty: Int,       // -1 = unknown; 0..3 = possible..certain
      origin: String,
      guesser_rank: Int,    // registry order of the producing guesser
      seq: Int              // emission index within the guesser
  )

  /** A raw datum in `KgEngine.enrichAll`'s subject pass: the RawTriple
    * columns plus `src`, the homepage url a scraped datum was read from
    * (null for every other stream), so the pass keeps only the scrape of the
    * subject's winning homepage.
    */
  final case class SourcedTriple(
      subj: String,
      pred: String,
      obj: String,
      obj_json: String,
      certainty: Int,
      origin: String,
      guesser_rank: Int,
      seq: Int,
      src: String
  )

  /** Canonicalized: exactly one row per (subj, pred). */
  final case class CanonTriple(
      subj: String,
      pred: String,
      obj: String,
      obj_json: String,
      certainty: Int,
      origin: String
  )

  /** A capture's place in the duplicate-capture order (`KgEngine.above`):
    * its warc_ts in millis, then the md5 of its text.
    */
  trait Ranked {
    def ts: Long
    def md5: String
  }

  /** A candidate capture of one subject's file (`KgEngine.candidateRows`). */
  final case class Capture(subj: String, relpath: String, ts: Long, md5: String, text: String)
      extends Ranked

  /** Intermediate row between the narrow extract stage and the per-subject
    * reduce: either a bag of extracted datums (kind="d") or a deferred
    * artifact whose extraction needs sibling context (kind="x", payload =
    * raw content; only tiny debian metadata files take this path). `ts` and
    * `md5` are its capture's.
    */
  final case class ExtractRow(
      subj: String,
      relpath: String,
      kind: String,
      payload: String,
      ts: Long,
      md5: String
  ) extends Ranked

  // ---------- Datum <-> JSON ----------

  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

  private val mapper = new ObjectMapper()

  private def personNode(p: Person): ObjectNode = {
    val o = mapper.createObjectNode()
    p.name.foreach(o.put("name", _))
    p.email.foreach(o.put("email", _))
    p.url.foreach(o.put("url", _))
    o
  }

  private def personFrom(n: com.fasterxml.jackson.databind.JsonNode): Person =
    Person(
      Option(n.get("name")).map(_.asText),
      Option(n.get("email")).map(_.asText),
      Option(n.get("url")).map(_.asText))

  def datumsToJson(ds: List[Datum]): String = {
    val arr = mapper.createArrayNode()
    for (dt <- ds) {
      val o = mapper.createObjectNode()
      o.put("f", dt.field)
      o.put("c", dt.certainty.getOrElse(-1))
      dt.origin.foreach(o.put("o", _))
      dt.value match {
        case UStr(s)      => o.put("t", "s"); o.put("v", s)
        case UInt(i)      => o.put("t", "i"); o.put("v", i)
        case UStrings(ss) =>
          o.put("t", "ss"); val a = o.putArray("v"); ss.foreach(a.add)
        case UPerson(p)   =>
          o.put("t", "p")
          o.set[com.fasterxml.jackson.databind.JsonNode]("v", personNode(p))
        case UPersons(ps) =>
          o.put("t", "ps"); val a = o.putArray("v"); ps.foreach(p => a.add(personNode(p)))
      }
      arr.add(o)
    }
    mapper.writeValueAsString(arr)
  }

  def datumsFromJson(json: String): List[Datum] = {
    val arr = mapper.readTree(json).asInstanceOf[ArrayNode]
    val out = List.newBuilder[Datum]
    arr.forEach { o =>
      val c = o.get("c").asInt
      val value: UValue = o.get("t").asText match {
        case "s"  => UStr(o.get("v").asText)
        case "i"  => UInt(o.get("v").asInt)
        case "ss" =>
          val b = List.newBuilder[String]; o.get("v").forEach(x => b += x.asText)
          UStrings(b.result())
        case "p"  => UPerson(personFrom(o.get("v")))
        case "ps" =>
          val b = List.newBuilder[Person]; o.get("v").forEach(x => b += personFrom(x))
          UPersons(b.result())
      }
      out += Datum(
        o.get("f").asText,
        value,
        if (c < 0) None else Some(c),
        Option(o.get("o")).map(_.asText))
    }
    out.result()
  }

  /** Reconstructs the typed UValue from a triple's (obj, obj_json) forms —
    * the inverse of `objForms` for payload shapes that round-trip (scalars,
    * string lists, persons). Lets sink renderers recover structure from the
    * triple tables without re-extracting.
    */
  def valueFromForms(obj: String, objJson: String): UValue =
    if (objJson == null || objJson.isEmpty) UStr(obj)
    else {
      val node = mapper.readTree(objJson)
      if (node.isIntegralNumber) UInt(node.asInt)
      else if (node.isArray) {
        if (node.isEmpty) UStrings(Nil)
        else if (node.get(0).isTextual) {
          val b = List.newBuilder[String]; node.forEach(x => b += x.asText)
          UStrings(b.result())
        } else {
          val b = List.newBuilder[Person]; node.forEach(x => b += personFrom(x))
          UPersons(b.result())
        }
      } else if (node.isObject) UPerson(personFrom(node))
      else UStr(obj)
    }

  /** Canonical scalar + JSON forms of a datum payload for triple rows. */
  def objForms(v: UValue): (String, String) = v match {
    case UStr(s)      => (s, "")
    // UInt keeps a typed obj_json form (a JSON number) so triple-table sink
    // renderers reconstruct the integer, not a quoted string — GuessMain over
    // in-memory datums and the triple-table YAML sink must emit identical
    // bytes for e.g. Debian-ITP
    case UInt(i)      => (i.toString, i.toString)
    case UStrings(ss) =>
      val a = mapper.createArrayNode(); ss.foreach(a.add)
      ("", mapper.writeValueAsString(a))
    case UPerson(p)   => (p.show, mapper.writeValueAsString(personNode(p)))
    case UPersons(ps) =>
      val a = mapper.createArrayNode(); ps.foreach(p => a.add(personNode(p)))
      (ps.map(_.show).mkString(", "), mapper.writeValueAsString(a))
  }
}
