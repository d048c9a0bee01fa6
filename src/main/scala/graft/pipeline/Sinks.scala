package graft.pipeline

import graft.core._

/** Output renderers — the reference's sink formats (§2.8):
  *   - YAML per subject (guess-upstream-metadata's default output,
  *     /root/reference/src/lib.rs:1518-1532, bin/guess-upstream-metadata.rs:151-155)
  *   - codemeta JSON (schema.org SoftwareSourceCode,
  *     /root/reference/src/bin/autocodemeta.rs:9-160)
  *   - DOAP RDF/XML (/root/reference/src/bin/autodoap.rs:24-200)
  * Production tables (triples/nodes/edges) are written as parquet by
  * the Spark layer; these renderers serve the per-subject API surface.
  */
object Sinks {

  // ---------- YAML ----------

  private def needsQuoting(s: String): Boolean = {
    if (s.isEmpty) return true
    if (s.contains('\n')) return false // rendered as block scalar instead
    val first = s.head
    if (" \t".contains(s.last) || " \t".contains(first)) return true
    if ("!&*-?|>%@`\"'#{}[],".contains(first)) return true
    if (s.contains(": ") || s.endsWith(":") || s.contains(" #")) return true
    // plain scalars that YAML would re-type
    if (s.matches("[-+]?[0-9]+") || s.matches("[-+]?[0-9]*\\.[0-9]+([eE][-+]?[0-9]+)?")) return true
    if (Set("true", "false", "null", "~", "yes", "no", "on", "off",
            "True", "False", "Null", "Yes", "No", "On", "Off").contains(s)) return true
    false
  }

  /** Characters that cannot appear RAW in any YAML scalar without loss:
    * C0 controls, DEL, the C1 range (a YAML-1.1 parser folds NEL U+0085 as a
    * line break and C1 bytes are non-printable), and the U+2028/U+2029 line
    * separators (also folded). These force the double-quoted escape form.
    */
  private def unsafeRaw(c: Char): Boolean =
    c < ' ' || c == 0x7f || (c >= 0x80 && c <= 0x9f) ||
    c == 0x2028 || c == 0x2029

  /** Double-quoted YAML scalar with escapes — the lossless form for strings
    * a block scalar cannot round-trip (trailing whitespace on any line, a
    * first content line that begins with a space — which indentation
    * auto-detection would swallow — or any raw-unsafe character above).
    */
  private def doubleQuoted(s: String): String =
    "\"" + s.flatMap {
      case '\\'                        => "\\\\"
      case '"'                         => "\\\""
      case '\n'                        => "\\n"
      case '\r'                        => "\\r"
      case '\t'                        => "\\t"
      case c if unsafeRaw(c) && c < 0x100 => f"\\x${c.toInt}%02x"
      case c if unsafeRaw(c)           => f"\\u${c.toInt}%04x"
      case c                           => c.toString
    } + "\""

  private def blockSafe(s: String): Boolean = {
    if (s.exists(c => unsafeRaw(c) && c != '\n')) return false
    // two or more trailing newlines can't round-trip through a clip-chomped
    // block literal ("a\n\n" parses back as "a\n"); keep-chomping would need
    // |+ — simpler and equally lossless to double-quote. A string with no
    // content lines at all ("\n") has no block form either.
    if (s.endsWith("\n\n")) return false
    if (s.dropWhile(_ == '\n').isEmpty) return false
    val lines = s.split("\n", -1)
    val noTrailingWs = lines.forall(l =>
      l.isEmpty || (l.last != ' ' && l.last != '\t'))
    val firstContentOk = lines.find(_.nonEmpty).forall(_.head != ' ')
    noTrailingWs && firstContentOk
  }

  private def scalar(s: String, indent: String): String = {
    if (s.contains('\n')) {
      if (!blockSafe(s)) doubleQuoted(s)
      else {
        // block literal; strip/keep indicator by trailing newline
        val (body, indicator) =
          if (s.endsWith("\n")) (s.dropRight(1), "|") else (s, "|-")
        val ind = indent + "  "
        indicator + "\n" + body.split("\n", -1).map(l =>
          if (l.isEmpty) "" else ind + l).mkString("\n")
      }
    } else if (s.exists(unsafeRaw)) {
      doubleQuoted(s) // raw control/C1/line-separator chars are lossy
    } else if (needsQuoting(s)) {
      "'" + s.replace("'", "''") + "'"
    } else s
  }

  private def person(p: Person, indent: String): String = {
    val entries = List(
      p.name.map(n => s"name: ${scalar(n, indent)}"),
      p.email.map(e => s"email: ${scalar(e, indent)}"),
      p.url.map(u => s"url: ${scalar(u, indent)}")).flatten
    if (entries.isEmpty) "!Person {}"
    else "!Person\n" + entries.map(e => indent + "  " + e).mkString("\n")
  }

  /** Renders one subject's canonical metadata as a YAML mapping keyed by
    * field (already sorted upstream).
    */
  def toYaml(metadata: List[Datum]): String = {
    val sb = new StringBuilder
    for (dt <- metadata) {
      sb.append(dt.field).append(":")
      dt.value match {
        case UStr(s)  => sb.append(' ').append(scalar(s, "")).append('\n')
        case UInt(i)  => sb.append(' ').append(i).append('\n')
        case UPerson(p) => sb.append(' ').append(person(p, "")).append('\n')
        case UStrings(ss) =>
          sb.append('\n')
          ss.foreach(s => sb.append("- ").append(scalar(s, "")).append('\n'))
        case UPersons(ps) =>
          sb.append('\n')
          ps.foreach { p =>
            sb.append("- ").append(person(p, "  ")).append('\n')
          }
      }
    }
    sb.toString
  }

  // ---------- codemeta JSON (autocodemeta.rs field mapping) ----------

  import com.fasterxml.jackson.databind.ObjectMapper

  private val mapper = new ObjectMapper()

  def toCodemeta(metadata: List[Datum]): String = {
    val root = mapper.createObjectNode()
    root.put("@context", "https://doi.org/10.5063/schema/codemeta-2.0")
    root.put("@type", "SoftwareSourceCode")
    def get(f: String): Option[Datum] = metadata.find(_.field == f)
    get("Name").flatMap(_.str).foreach(root.put("name", _))
    get("Version").flatMap(_.str).foreach(root.put("version", _))
    get("Summary").flatMap(_.str).foreach(root.put("description", _))
    get("Homepage").flatMap(_.str).foreach(root.put("url", _))
    get("Repository").flatMap(_.str).foreach(root.put("codeRepository", _))
    get("Bug-Database").flatMap(_.str).foreach(root.put("issueTracker", _))
    get("License").flatMap(_.str).foreach(root.put("license", _))
    get("Keywords").foreach {
      _.value match {
        case UStrings(ks) =>
          val a = root.putArray("keywords"); ks.foreach(a.add)
        case _ =>
      }
    }
    get("Author").foreach {
      _.value match {
        case UPersons(ps) =>
          val a = root.putArray("author")
          ps.foreach { p =>
            val o = mapper.createObjectNode()
            o.put("@type", "Person")
            p.name.foreach(o.put("name", _))
            p.email.foreach(o.put("email", _))
            p.url.foreach(o.put("url", _))
            a.add(o)
          }
        case _ =>
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  // ---------- DOAP RDF/XML (autodoap.rs:24-200) ----------

  /** Renders a doap:Project from canonical metadata. Field mapping and
    * element order follow the reference's `doap_file_from_upstream_info`:
    * handled fields emit children in arrival order; Repository and
    * Repository-Browse are collected and appended LAST inside
    * doap:repository > doap:GitRepository. Resource-valued properties keep
    * the reference's (unusual) child-element shape
    * `<rdf:resource rdf:resource="url"/>` (autodoap.rs:13-22). The emitter
    * itself is this library's own stable 2-space-indent format (the
    * reference's byte layout is an xmltree EmitterConfig artifact, not
    * semantics).
    */
  def toDoap(metadata: List[Datum]): String = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def escAttr(s: String): String = esc(s).replace("\"", "&quot;")

    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<doap:Project xmlns:doap=\"http://usefulinc.com/ns/doap\"")
      .append(" xmlns:foaf=\"http://xmlns.com/foaf/0.1/\"")
      .append(" xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns\">\n")

    def text(tag: String, v: String): Unit =
      sb.append("  <doap:").append(tag).append(">").append(esc(v))
        .append("</doap:").append(tag).append(">\n")
    def resource(tag: String, url: String, indent: String = "  "): Unit = {
      sb.append(indent).append("<doap:").append(tag).append(">\n")
        .append(indent).append("  <rdf:resource rdf:resource=\"")
        .append(escAttr(url)).append("\" />\n")
        .append(indent).append("</doap:").append(tag).append(">\n")
    }

    var repository: Option[String] = None
    var repositoryBrowse: Option[String] = None
    for (dt <- metadata) (dt.field, dt.value) match {
      case ("Screenshots", UStrings(us)) => us.foreach(resource("screenshots", _))
      case (field, _) => dt.str.foreach { v =>
        field match {
          case "Name"              => text("name", v)
          case "Homepage"          => resource("homepage", v)
          case "Summary"           => text("shortdesc", v)
          case "Description"       => text("description", v)
          case "Download"          => resource("download-page", v)
          case "MailingList"       => resource("mailing-list", v)
          case "Bug-Database"      => resource("bug-database", v)
          case "Security-Contact"  => resource("security-contact", v)
          case "Wiki"              => resource("wiki", v)
          case "Repository"        => repository = Some(v)
          case "Repository-Browse" => repositoryBrowse = Some(v)
          case _                   => ()
        }
      }
    }

    if (repository.isDefined || repositoryBrowse.isDefined) {
      sb.append("  <doap:repository>\n    <doap:GitRepository>\n")
      repository.foreach(resource("location", _, "      "))
      repositoryBrowse.foreach(resource("browse", _, "      "))
      sb.append("    </doap:GitRepository>\n  </doap:repository>\n")
    }
    sb.append("</doap:Project>\n")
    sb.toString
  }
}
