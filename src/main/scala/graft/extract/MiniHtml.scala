package graft.extract

/** Lenient HTML5-lite parser producing a small DOM, standing in for
  * html5ever+select in the reference's README walk
  * (/root/reference/src/readme.rs:739-741, 1028-1083). Only the behaviors the
  * walk observes matter: element structure, attributes, and text nodes (with
  * entities decoded). Inter-element whitespace is kept as text nodes, exactly
  * like html5ever.
  */
object MiniHtml {

  sealed trait HNode
  final case class HText(data: String) extends HNode
  final case class HElem(
      tag: String,
      attrs: Map[String, String],
      children: Vector[HNode]
  ) extends HNode {
    def render: String = MiniHtml.render(this)
  }

  private val voidTags = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  /** Tags whose open implicitly closes an open <p>. */
  private val pClosers = Set(
    "p", "div", "section", "ul", "ol", "li", "pre", "h1", "h2", "h3", "h4",
    "h5", "h6", "table", "blockquote", "dl", "hr")

  def decodeEntities(s: String): String = {
    if (!s.contains('&')) return s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val decoded: Option[String] = ent match {
            case "amp"  => Some("&")
            case "lt"   => Some("<")
            case "gt"   => Some(">")
            case "quot" => Some("\"")
            case "apos" => Some("'")
            case "nbsp" => Some(" ")
            case "copy" => Some("©")
            case "mdash" => Some("—")
            case "ndash" => Some("–")
            case "hellip" => Some("…")
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try Some(new String(Character.toChars(Integer.parseInt(e.substring(2), 16))))
              catch { case _: Exception => None }
            case e if e.startsWith("#") =>
              try Some(new String(Character.toChars(e.substring(1).toInt)))
              catch { case _: Exception => None }
            case _ => None
          }
          decoded match {
            case Some(dd) => sb.append(dd); i = semi + 1
            case None     => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** An open element. It fills the parent's child slot it took on opening,
    * so siblings keep document order.
    */
  private final class Builder(val tag: String, val attrs: Map[String, String], val parent: Builder) {
    val depth: Int = if (parent == null) 0 else parent.depth + 1
    val children = scala.collection.mutable.ArrayBuffer.empty[HNode]
    val slot: Int = if (parent == null) -1 else { parent.children += null; parent.children.length - 1 }
    def toElem: HElem = HElem(tag, attrs, children.toVector)
  }

  /** The deepest element level (Blink's tree-builder cap): a deeper element
    * attaches to the level above, so hostile nesting cannot overflow the
    * recursive walks of the tree (`render`, `findAll`, Homepage, Readme).
    */
  private val MaxDepth = 512

  /** Parses an HTML document; returns the <body> element (auto-created). */
  def parse(html: String): HElem = {
    val body = new Builder("body", Map.empty, null)
    var stack = List(body)
    // open elements per tag, so no open or close scans the stack for one
    val open = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)

    def top: Builder = stack.head
    def push(tag: String, attrs: Map[String, String]): Unit = {
      stack = new Builder(tag, attrs, if (top.depth < MaxDepth) top else top.parent) :: stack
      open(tag) += 1
    }
    def pop(): Unit = {
      val b = stack.head
      stack = stack.tail
      open(b.tag) -= 1
      b.parent.children(b.slot) = b.toElem
    }
    def popTo(tag: String): Unit = {
      // close elements up to and including `tag`, if open
      if (open(tag) > 0) {
        var n = stack.indexWhere(_.tag == tag) + 1
        while (n > 0) { pop(); n -= 1 }
      }
    }

    var i = 0
    val n = html.length
    var rawMode: Option[String] = None // inside <script>/<style>

    while (i < n) {
      val lt = html.indexOf('<', i)
      rawMode match {
        case Some(rt) =>
          val close = html.toLowerCase.indexOf(s"</$rt", i)
          i = if (close < 0) n else {
            val gt = html.indexOf('>', close)
            if (gt < 0) n else gt + 1
          }
          rawMode = None
          popTo(rt)
        case None =>
          if (lt < 0) {
            if (i < n) top.children.append(HText(decodeEntities(html.substring(i))))
            i = n
          } else {
            if (lt > i) top.children.append(HText(decodeEntities(html.substring(i, lt))))
            if (lt + 1 < n && html.charAt(lt + 1) == '!') {
              // comment or doctype
              if (html.startsWith("<!--", lt)) {
                val end = html.indexOf("-->", lt + 4)
                i = if (end < 0) n else end + 3
              } else {
                val gt = html.indexOf('>', lt)
                i = if (gt < 0) n else gt + 1
              }
            } else if (lt + 1 < n && html.charAt(lt + 1) == '?') {
              val gt = html.indexOf('>', lt)
              i = if (gt < 0) n else gt + 1
            } else {
              val gt = findTagEnd(html, lt)
              if (gt < 0) { top.children.append(HText(html.substring(lt))); i = n }
              else {
                val inner = html.substring(lt + 1, gt)
                i = gt + 1
                if (inner.startsWith("/")) {
                  val tag = inner.substring(1).trim.toLowerCase
                  popTo(tag)
                } else {
                  val selfClose = inner.endsWith("/")
                  val content = if (selfClose) inner.dropRight(1) else inner
                  val (tag, attrs) = parseTag(content)
                  if (tag.nonEmpty && tag != "html" && tag != "head" && tag != "body") {
                    if (tag == "p" || pClosers.contains(tag)) {
                      // close any open <p>
                      if (open("p") > 0 &&
                          stack.takeWhile(_.tag != "p").forall(b =>
                            !Set("div", "section", "ul", "ol", "li",
                              "blockquote", "td", "th").contains(b.tag)))
                        popTo("p")
                      // <li> closes an open <li>
                      if (tag == "li" && open("li") > 0 &&
                          !stack.takeWhile(_.tag != "li").exists(b =>
                            b.tag == "ul" || b.tag == "ol"))
                        popTo("li")
                    }
                    if (voidTags.contains(tag) || selfClose) {
                      top.children.append(HElem(tag, attrs, Vector.empty))
                    } else {
                      push(tag, attrs)
                      if (tag == "script" || tag == "style") rawMode = Some(tag)
                    }
                  } // wrapper tags are ignored: content lands in our body
                }
              }
            }
          }
      }
    }

    // close all remaining
    while (stack.tail.nonEmpty) pop()
    body.toElem
  }

  private def findTagEnd(html: String, lt: Int): Int = {
    var i = lt + 1
    var quote: Char = 0
    while (i < html.length) {
      val c = html.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return i
      i += 1
    }
    -1
  }

  private def parseTag(content: String): (String, Map[String, String]) = {
    val s = content.trim
    val sp = s.indexWhere(c => c.isWhitespace)
    if (sp < 0) return (s.toLowerCase, Map.empty)
    val tag = s.substring(0, sp).toLowerCase
    var attrs = Map.empty[String, String]
    var i = sp
    while (i < s.length) {
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i >= s.length) return (tag, attrs)
      val nameStart = i
      while (i < s.length && !s.charAt(i).isWhitespace && s.charAt(i) != '=') i += 1
      val name = s.substring(nameStart, i).toLowerCase
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i < s.length && s.charAt(i) == '=') {
        i += 1
        while (i < s.length && s.charAt(i).isWhitespace) i += 1
        if (i < s.length && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
          val q = s.charAt(i)
          val end = s.indexOf(q, i + 1)
          if (end < 0) { attrs += (name -> decodeEntities(s.substring(i + 1))); i = s.length }
          else { attrs += (name -> decodeEntities(s.substring(i + 1, end))); i = end + 1 }
        } else {
          val start = i
          while (i < s.length && !s.charAt(i).isWhitespace) i += 1
          attrs += (name -> decodeEntities(s.substring(start, i)))
        }
      } else if (name.nonEmpty) {
        attrs += (name -> "")
      }
    }
    (tag, attrs)
  }

  /** select's render: concatenation of all descendant text nodes
    * (src/readme.rs:739-741).
    */
  def render(node: HNode): String = node match {
    case HText(t) => t
    case HElem(_, _, children) => children.map(render).mkString("")
  }

  /** All descendant elements with a given tag, in document order. */
  def findAll(node: HNode, tag: String): Vector[HElem] = node match {
    case HText(_) => Vector.empty
    case e @ HElem(t, _, children) =>
      val self = if (t == tag) Vector(e) else Vector.empty
      self ++ children.flatMap(findAll(_, tag))
  }
}
