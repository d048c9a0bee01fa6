package graft.registry

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core._
import graft.core.Certainty.{Certain => CERTAIN}

/** Pure registry-payload → datums parsers — the offline core of the
  * reference's network providers. The reference unit-tests exactly these
  * parses against canned API payloads in src/testdata/; here they run as
  * columnar functions over registry-snapshot side tables (a crawl of the
  * registry APIs landed as parquet), feeding `KgEngine.enrichFromRegistry`.
  *
  * Ports (payload shape and emission order are the reference's; fetching is
  * out of scope by golden config):
  *   - PyPI JSON:        /root/reference/src/providers/python.rs:1128-1376
  *   - npm registry:     /root/reference/src/providers/node.rs:64-275
  *   - crates.io API:    /root/reference/src/providers/rust.rs:230-325
  *   - MetaCPAN release: /root/reference/src/providers/perl.rs:295-575
  *   - RubyGems API:     /root/reference/src/providers/ruby.rs:161-307
  *   - SourceForge REST: /root/reference/src/forges/sourceforge.rs:19-146
  *   - PECL page HTML:   /root/reference/src/providers/php.rs:42-97
  *
  * Every parser returns Left(reason) on malformed payloads (the reference
  * surfaces serde errors as ProviderError::ParseError) so a registry-snapshot
  * job can route bad rows to a quarantine column instead of failing a task.
  */
object RegistryParsers {

  private val mapper = new ObjectMapper()

  private def str(n: JsonNode, f: String): Option[String] = {
    val v = n.get(f)
    if (v == null || v.isNull) None
    else if (v.isTextual) Some(v.asText) else None
  }

  private def req(n: JsonNode, f: String, what: String): Either[String, String] =
    str(n, f).toRight(s"$what: missing field $f")

  private def parseJson(payload: String, what: String): Either[String, JsonNode] =
    try {
      val n = mapper.readTree(payload)
      if (n != null && n.isObject) Right(n) else Left(s"$what: not a JSON object")
    } catch { case e: Exception => Left(s"$what: ${e.getMessage}") }

  private def datum(field: String, v: UValue, certainty: Option[Int],
                    origin: Option[String] = None): Datum =
    Datum(field, v, certainty, origin)

  // ---------- PyPI (python.rs:1281-1376) ----------

  /** `parse_python_project_urls` (python.rs:326-374). The reference consumes
    * a HashMap (arbitrary iteration order); this port iterates sorted by
    * url_type so the emission is deterministic — a requirement for the
    * oracle-checked Spark surface, and a superset guarantee of the
    * reference's (order-insensitive) semantics.
    */
  def parsePythonProjectUrls(urls: Seq[(String, String)], origin: String): List[Datum] =
    urls.sortBy(_._1).toList.flatMap { case (urlType, url) =>
      val field = urlType match {
        case "GitHub" | "Repository" | "Source Code" | "Source" => Some("Repository")
        case "Bug Tracker" | "Bug Reports"                      => Some("Bug-Database")
        case "Documentation"                                    => Some("Documentation")
        case "Funding"                                          => Some("Funding")
        case "Homepage"                                         => Some("Homepage")
        case _                                                  => None
      }
      field.map(f => datum(f, UStr(url), Some(CERTAIN), Some(origin)))
    }

  /** PyPI project JSON → datums (TryInto<UpstreamMetadata> for PypiProject,
    * python.rs:1281-1376): Author, Description, Homepage, License, Name,
    * Maintainer, Version, Keywords, project_urls, sdist Download, Summary —
    * all Certain.
    */
  def parsePypi(payload: String): Either[String, List[Datum]] =
    parseJson(payload, "pypi").flatMap { root =>
      val info = root.get("info")
      if (info == null || !info.isObject) Left("pypi: missing info object")
      else for {
        name <- req(info, "name", "pypi")
        version <- req(info, "version", "pypi")
        description <- req(info, "description", "pypi")
        summary <- req(info, "summary", "pypi")
      } yield {
        val out = List.newBuilder[Datum]
        str(info, "author").foreach { a =>
          out += datum("Author",
            UPersons(List(Person(Some(a), str(info, "author_email")))), Some(CERTAIN))
        }
        out += datum("Description", UStr(description), Some(CERTAIN))
        str(info, "home_page").foreach(h =>
          out += datum("Homepage", UStr(h), Some(CERTAIN)))
        str(info, "license").foreach(l =>
          out += datum("License", UStr(l), Some(CERTAIN)))
        out += datum("Name", UStr(name), Some(CERTAIN))
        str(info, "maintainer").foreach { m =>
          out += datum("Maintainer",
            UPerson(Person(Some(m), str(info, "maintainer_email"))), Some(CERTAIN))
        }
        out += datum("Version", UStr(version), Some(CERTAIN))
        str(info, "keywords").foreach { ks =>
          out += datum("Keywords",
            UStrings(ks.split(',').map(_.trim).toList), Some(CERTAIN))
        }
        val projectUrls = Option(info.get("project_urls")).filter(_.isObject)
          .map { pu =>
            val b = List.newBuilder[(String, String)]
            pu.properties().forEach(e =>
              if (e.getValue.isTextual) b += (e.getKey -> e.getValue.asText))
            b.result()
          }.getOrElse(Nil)
        out ++= parsePythonProjectUrls(projectUrls, "pypi")
        Option(root.get("urls")).filter(_.isArray).foreach { urls =>
          urls.forEach { u =>
            if (str(u, "packagetype").contains("sdist"))
              str(u, "url").foreach(d =>
                out += datum("Download", UStr(d), Some(CERTAIN)))
          }
        }
        out += datum("Summary", UStr(summary), Some(CERTAIN))
        out.result()
      }
    }

  // ---------- npm (node.rs:179-275) ----------

  private def npmPerson(n: JsonNode): Option[Person] =
    for { name <- str(n, "name"); email <- str(n, "email") }
      yield Person(Some(name), Some(email))

  /** npm registry package JSON → datums. The reference attaches NO certainty
    * to npm datums (node.rs:186-270) — they arrive as None and the merge
    * lattice ranks them below every explicit level.
    */
  def parseNpm(payload: String): Either[String, List[Datum]] =
    parseJson(payload, "npm").flatMap { root =>
      for {
        name <- req(root, "name", "npm")
        description <- req(root, "description", "npm")
      } yield {
        val out = List.newBuilder[Datum]
        out += datum("Name", UStr(name), None)
        out += datum("Description", UStr(description), None)
        str(root, "homepage").foreach(h => out += datum("Homepage", UStr(h), None))
        Option(root.get("author")).filter(_.isObject).flatMap(npmPerson).foreach(p =>
          out += datum("Author", UPersons(List(p)), None))
        Option(root.get("repository")).filter(_.isObject)
          .flatMap(r => str(r, "url"))
          .foreach(u => out += datum("Repository", UStr(u), None))
        Option(root.get("bugs")).filter(_.isObject)
          .flatMap(b => str(b, "url"))
          .foreach(u => out += datum("Bug-Database", UStr(u), None))
        str(root, "license").foreach(l => out += datum("License", UStr(l), None))
        Option(root.get("keywords")).filter(_.isArray).foreach { ks =>
          val b = List.newBuilder[String]
          ks.forEach(k => if (k.isTextual) b += k.asText)
          out += datum("Keywords", UStrings(b.result()), None)
        }
        for {
          tags <- Option(root.get("dist-tags")).filter(_.isObject)
          latest <- str(tags, "latest")
          versions <- Option(root.get("versions")).filter(_.isObject)
          vdata <- Option(versions.get(latest)).filter(_.isObject)
        } {
          str(vdata, "version").foreach(v => out += datum("Version", UStr(v), None))
          Option(vdata.get("dist")).filter(_.isObject)
            .flatMap(d => str(d, "tarball"))
            .foreach(t => out += datum("Download", UStr(t), None))
        }
        out.result()
      }
    }

  // ---------- crates.io (rust.rs:272-325) ----------

  def parseCrates(payload: String): Either[String, List[Datum]] =
    parseJson(payload, "crates").flatMap { root =>
      val c = root.get("crate")
      if (c == null || !c.isObject) Left("crates: missing crate object")
      else for {
        name <- req(c, "name", "crates")
        version <- req(c, "newest_version", "crates")
      } yield {
        val out = List.newBuilder[Datum]
        out += datum("Name", UStr(name), Some(CERTAIN))
        str(c, "homepage").foreach(h => out += datum("Homepage", UStr(h), Some(CERTAIN)))
        str(c, "repository").foreach(r => out += datum("Repository", UStr(r), Some(CERTAIN)))
        str(c, "description").foreach(d => out += datum("Summary", UStr(d), Some(CERTAIN)))
        str(c, "license").foreach(l => out += datum("License", UStr(l), Some(CERTAIN)))
        out += datum("Version", UStr(version), Some(CERTAIN))
        out.result()
      }
    }

  // ---------- MetaCPAN (perl.rs:295-575) ----------

  def parseCpan(payload: String): Either[String, List[Datum]] =
    parseJson(payload, "cpan").flatMap { root =>
      for {
        name <- req(root, "name", "cpan")
        version <- req(root, "version", "cpan")
        downloadUrl <- req(root, "download_url", "cpan")
        author <- req(root, "author", "cpan")
      } yield List(
        datum("Name", UStr(name), Some(CERTAIN)),
        datum("Version", UStr(version), Some(CERTAIN)),
        datum("Homepage", UStr(downloadUrl), Some(CERTAIN)),
        datum("Download", UStr(downloadUrl), Some(CERTAIN)),
        datum("Author", UPersons(List(Person.parse(author))), Some(CERTAIN)))
    }

  // ---------- RubyGems (ruby.rs:213-307) ----------

  def parseRubygem(payload: String): Either[String, List[Datum]] =
    parseJson(payload, "rubygems").flatMap { root =>
      for {
        name <- req(root, "name", "rubygems")
        version <- req(root, "version", "rubygems")
        authors <- req(root, "authors", "rubygems")
        projectUri <- req(root, "project_uri", "rubygems")
      } yield {
        val out = List.newBuilder[Datum]
        out += datum("Name", UStr(name), Some(CERTAIN))
        out += datum("Version", UStr(version), Some(CERTAIN))
        out += datum("Author", UPersons(List(Person.parse(authors))), Some(CERTAIN))
        out += datum("Homepage",
          UStr(str(root, "homepage_uri").getOrElse(projectUri)), Some(CERTAIN))
        str(root, "wiki_uri").foreach(u => out += datum("Wiki", UStr(u), Some(CERTAIN)))
        str(root, "mailing_list_uri").foreach(u =>
          out += datum("MailingList", UStr(u), Some(CERTAIN)))
        str(root, "bug_tracker_uri").foreach(u =>
          out += datum("Bug-Database", UStr(u), Some(CERTAIN)))
        str(root, "funding_uri").foreach(u => out += datum("Funding", UStr(u), Some(CERTAIN)))
        str(root, "source_code_uri").foreach(u =>
          out += datum("Repository", UStr(u), Some(CERTAIN)))
        val licenses = {
          val b = List.newBuilder[String]
          Option(root.get("licenses")).filter(_.isArray)
            .foreach(_.forEach(l => if (l.isTextual) b += l.asText))
          b.result()
        }
        out += datum("License", UStr(licenses.mkString(", ")), Some(CERTAIN))
        str(root, "documentation_uri").foreach(u =>
          out += datum("Documentation", UStr(u), Some(CERTAIN)))
        str(root, "changelog_uri").foreach(u =>
          out += datum("Changelog", UStr(u), Some(CERTAIN)))
        out.result()
      }
    }

  // ---------- SourceForge REST (sourceforge.rs:19-146) ----------

  /** `parse_sf_json`, offline form: the reference's canonical-URL probe for
    * preferred_support_url is network-only, and its failure branch keeps the
    * raw URL — exactly the offline behavior (sourceforge.rs:37-47).
    */
  def parseSfJson(payload: String, project: String,
                  subproject: Option[String]): Either[String, List[Datum]] =
    parseJson(payload, "sourceforge").map { root =>
      val out = List.newBuilder[Datum]
      str(root, "name").foreach(n => out += datum("Name", UStr(n), Some(CERTAIN)))
      str(root, "external_homepage").foreach(h =>
        out += datum("Homepage", UStr(h), Some(CERTAIN)))
      str(root, "preferred_support_url").filter(_.nonEmpty).foreach(u =>
        out += datum("Bug-Database", UStr(u), Some(CERTAIN)))

      val vcsNames = Set("hg", "git", "svn", "cvs", "bzr")
      var tools: List[(String, Option[String], JsonNode)] =
        Option(root.get("tools")).filter(_.isArray).map { ts =>
          val b = List.newBuilder[(String, Option[String], JsonNode)]
          ts.forEach { t =>
            val nm = str(t, "name").getOrElse("")
            if (vcsNames.contains(nm)) b += ((nm, str(t, "mount_label"), t))
          }
          b.result()
        }.getOrElse(Nil)

      // drop web/homepage mounts — only tools whose url ends in '/' are
      // inspected (the reference's strip_suffix('/') gate)
      if (tools.size > 1) tools = tools.filter { case (_, _, t) =>
        str(t, "url") match {
          case Some(u) if u.endsWith("/") =>
            val last = u.dropRight(1).split('/').lastOption.getOrElse("")
            !Set("www", "web", "homepage").contains(last)
          case _ => true
        }
      }
      if (tools.size > 1 && subproject.isDefined) {
        val filtered = tools.filter(_._2 == subproject)
        if (filtered.nonEmpty) tools = filtered
      }
      if (tools.exists(_._1 == "cvs")) tools = tools.filterNot(_._1 == "cvs")

      if (tools.size == 1) {
        val (kind, _, data) = tools.head
        kind match {
          case "git" | "svn" =>
            str(data, "clone_url_https_anon").foreach(u =>
              out += datum("Repository", UStr(u), Some(CERTAIN)))
          case "hg" =>
            str(data, "clone_url_ro").foreach(u =>
              out += datum("Repository", UStr(u), Some(CERTAIN)))
          case "cvs" =>
            val module = str(data, "url").map(_.stripSuffix("/"))
              .map { u => val segs = u.split('/'); if (segs.length >= 2) segs(segs.length - 2) else "" }
              .getOrElse("")
            out += datum("Repository",
              UStr(s"cvs+pserver://anonymous@$project.cvs.sourceforge.net/cvsroot/$module"),
              Some(CERTAIN))
          case _ => () // bzr: unimplemented in the reference too
        }
      }
      out.result()
    }

  // ---------- PECL package page (php.rs:42-97) ----------

  import graft.extract.MiniHtml
  import graft.extract.MiniHtml.{HElem, HNode, HText}

  private def textOf(n: HNode): String = n match {
    case HText(d)     => d
    case e: HElem     => e.children.map(textOf).mkString
  }

  private def walk(n: HNode)(f: HElem => Unit): Unit = n match {
    case e: HElem => f(e); e.children.foreach(walk(_)(f))
    case _        =>
  }

  private def firstAnchorContaining(root: HElem, needle: String): Option[String] = {
    var found: Option[String] = None
    walk(root) { e =>
      if (found.isEmpty && e.tag == "a" && textOf(e).contains(needle))
        found = e.attrs.get("href")
    }
    found
  }

  /** `guess_from_pecl_page`: Browse Source → Repository-Browse, Package Bugs
    * → Bug-Database, the Homepage table row's first link → Homepage. Emitted
    * in that order; malformed or empty pages yield Nil (php.rs:136-150).
    */
  def parsePeclPage(html: String): List[Datum] = {
    val root = MiniHtml.parse(html)
    val out = List.newBuilder[Datum]
    firstAnchorContaining(root, "Browse Source").foreach(h =>
      out += datum("Repository-Browse", UStr(h), Some(CERTAIN)))
    firstAnchorContaining(root, "Package Bugs").foreach(h =>
      out += datum("Bug-Database", UStr(h), Some(CERTAIN)))
    // th containing "Homepage" → its row's first td link
    var homepage: Option[String] = None
    walk(root) { row =>
      if (homepage.isEmpty &&
          row.children.exists {
            case th: HElem => th.tag == "th" && textOf(th).contains("Homepage")
            case _         => false
          }) {
        row.children.foreach {
          case td: HElem if td.tag == "td" && homepage.isEmpty =>
            walk(td) { a =>
              if (homepage.isEmpty && a.tag == "a") homepage = a.attrs.get("href")
            }
          case _ =>
        }
      }
    }
    homepage.foreach(h => out += datum("Homepage", UStr(h), Some(CERTAIN)))
    out.result()
  }

  // ---------- GitHub repos API (github.rs:139-203) ----------

  /** `RepoMetadata::to_upstream_data`: Summary, Homepage, Repository
    * (html_url), License (SPDX id; NOASSERTION and empties dropped).
    */
  def parseGithubRepo(payload: String): Either[String, List[Datum]] =
    parseJson(payload, "github").map { root =>
      val out = List.newBuilder[Datum]
      str(root, "description").filter(_.nonEmpty).foreach(d =>
        out += datum("Summary", UStr(d), Some(CERTAIN)))
      str(root, "homepage").filter(_.nonEmpty).foreach(h =>
        out += datum("Homepage", UStr(h), Some(CERTAIN)))
      str(root, "html_url").foreach(u =>
        out += datum("Repository", UStr(u), Some(CERTAIN)))
      Option(root.get("license")).filter(_.isObject)
        .flatMap(l => str(l, "spdx_id"))
        .filter(s => s.nonEmpty && s != "NOASSERTION")
        .foreach(l => out += datum("License", UStr(l), Some(CERTAIN)))
      out.result()
    }

  // ---------- AUR PKGBUILD (arch.rs:7-161) ----------

  /** `parse_pkgbuild_variables`: top-level `key=value` / `key=(values…)`
    * bash assignments, with backslash continuations, multi-line arrays and
    * shlex-split values; indented/comment lines skipped.
    *
    * Reference byte-quirks reproduced exactly (arch.rs:31-66):
    *   - a multi-line array's closing line is shlex-split with the trailing
    *     `)` STILL ATTACHED, so the last token keeps it;
    *   - a single-line array checks `trim_end().ends_with(')')` but then
    *     slices off only the last RAW character, so trailing whitespace
    *     leaves the `)` in the token stream.
    */
  def parsePkgbuildVariables(file: String): Map[String, List[String]] = {
    val variables = scala.collection.mutable.LinkedHashMap.empty[String, List[String]]
    var keep: Option[(String, String)] = None
    val joined = file.split("\n", -1).foldLeft(List.empty[String]) {
      case (acc, line) if acc.headOption.exists(_.endsWith("\\")) =>
        (acc.head.dropRight(1) + line) :: acc.tail
      case (acc, line) => line :: acc
    }.reverse
    for (line <- joined) {
      if (line.startsWith("\t") || line.startsWith(" ") || line.startsWith("#")) ()
      else keep match {
        case Some((key, value0)) =>
          val value = value0 + line
          if (line.stripTrailing.endsWith(")")) {
            keep = None
            graft.urls.VcsCommand.shlexSplit(value)
              .foreach(parts => variables(key) = parts)
          } else keep = Some((key, value))
        case None =>
          line.split("=", 2) match {
            case Array(key, v0) if !key.contains(' ') =>
              if (v0.startsWith("(")) {
                val v = v0.substring(1)
                if (v.stripTrailing.endsWith(")"))
                  graft.urls.VcsCommand.shlexSplit(v.dropRight(1))
                    .foreach(parts => variables(key) = parts)
                else keep = Some((key, v))
              } else {
                graft.urls.VcsCommand.shlexSplit(v0)
                  .foreach(parts => variables(key) = parts)
              }
            case _ => ()
          }
      }
    }
    variables.toMap
  }

  private def stripVcsPrefixes(url: String): String = {
    // vcs.rs:97-107
    List("git", "hg").collectFirst {
      case p if url.startsWith(p + "+") => url.substring(p.length + 1)
    }.getOrElse(url)
  }

  /** AUR datum mapping (arch.rs:126-161): `url` → Homepage, `source[0]` →
    * Repository after ${var} substitution / `name::url` split / `#branch=`
    * normalization / vcs-prefix strip, `_gitroot` → Repository. The
    * reference iterates a HashMap (arbitrary order); this port emits in the
    * fixed order url, source, _gitroot for determinism.
    */
  def parseAurPkgbuild(file: String): List[Datum] = {
    val variables = parsePkgbuildVariables(file)
    val out = List.newBuilder[Datum]
    // AUR's max_supported_certainty is Possible (arch.rs:192-194)
    val c = Some(Certainty.Possible)
    variables.get("url").flatMap(_.headOption).foreach(u =>
      out += datum("Homepage", UStr(u), c))
    variables.get("source").flatMap(_.headOption).foreach { v0 =>
      var value = v0
      if (value.contains("${"))
        for ((k, v) <- variables.toList.sortBy(_._1)) {
          value = value.replace("${" + k + "}", v.mkString(" "))
          value = value.replace("$" + k, v.mkString(" "))
        }
      val url0 = value.split("::", 2) match {
        case Array(_, u) => u
        case _           => value
      }
      val url = url0.replace("#branch=", ",branch=")
      out += datum("Repository", UStr(stripVcsPrefixes(url)), c)
    }
    variables.get("_gitroot").flatMap(_.headOption).foreach(u =>
      out += datum("Repository", UStr(stripVcsPrefixes(u)), c))
    out.result()
  }

  // ---------- GoboLinux recipes (gobo.rs:73-133) ----------

  /** `url=` lines of a Recipe file → Homepage. */
  def parseGoboRecipe(text: String): List[Datum] =
    text.split("\n", -1).toList.collect {
      case l if l.startsWith("url=") =>
        datum("Homepage", UStr(l.stripPrefix("url=")), Some(CERTAIN))
    }

  private val GoboDescLine = java.util.regex.Pattern.compile("\\[(.*)\\] (.*)")

  /** `[Field] value` lines of Resources/Description → datums. */
  def parseGoboDescription(text: String): List[Datum] =
    text.split("\n", -1).toList.flatMap { l =>
      val m = GoboDescLine.matcher(l)
      if (!m.matches()) None
      else m.group(1) match {
        case f @ ("Name" | "Summary" | "License" | "Description" | "Homepage") =>
          Some(datum(f, UStr(m.group(2)), Some(CERTAIN)))
        case _ => None
      }
    }

  // ---------- Launchpad project API (launchpad.rs:66-92) ----------

  /** The pure payload subset of `guess_from_launchpad`: the project record's
    * scalar fields. The bzr/git code-hosting chain needs further fetches
    * (branch / +code-import / +git records) and is feature-gated in the
    * reference; at crawl scale those arrive as additional side-table columns
    * and reuse this same shape.
    */
  def parseLaunchpadProject(payload: String): Either[String, List[Datum]] =
    parseJson(payload, "launchpad").map { root =>
      val out = List.newBuilder[Datum]
      str(root, "homepage_url").foreach(v =>
        out += datum("Homepage", UStr(v), Some(CERTAIN)))
      str(root, "display_name").foreach(v =>
        out += datum("Name", UStr(v), Some(CERTAIN)))
      str(root, "sourceforge_project").foreach(v =>
        out += datum("SourceForge-Project", UStr(v), Some(CERTAIN)))
      str(root, "wiki_url").foreach(v =>
        out += datum("Wiki", UStr(v), Some(CERTAIN)))
      str(root, "summary").foreach(v =>
        out += datum("Summary", UStr(v), Some(CERTAIN)))
      str(root, "download_url").foreach(v =>
        out += datum("Download", UStr(v), Some(CERTAIN)))
      out.result()
    }

  // ---------- Repology project aggregation (providers/repology.rs) ----------

  /** `guess_from_repology`: per-distro package entries vote on Homepage /
    * License / Summary / Download values — an outdated package's vote counts
    * 1, a current one 10; the top-scored value per field wins. The
    * reference's HashMap iteration breaks score ties arbitrarily; this port
    * breaks them by value (then emits fields alphabetically) so the
    * aggregation is deterministic and oracle-checkable.
    */
  def parseRepology(payload: String): Either[String, List[Datum]] =
    try {
      val root = mapper.readTree(payload)
      if (root == null || !root.isArray) Left("repology: not a JSON array")
      else {
        val scores = scala.collection.mutable.HashMap.empty[(String, String), Int]
        root.forEach { entry =>
          val score = if (str(entry, "status").contains("outdated")) 1 else 10
          def addAll(field: String, key: String): Unit =
            Option(entry.get(key)).filter(_.isArray).foreach(_.forEach(v =>
              if (v.isTextual)
                scores((field, v.asText)) = scores.getOrElse((field, v.asText), 0) + score))
          addAll("Homepage", "www")
          addAll("License", "licenses")
          str(entry, "summary").foreach(s =>
            scores(("Summary", s)) = scores.getOrElse(("Summary", s), 0) + score)
          addAll("Download", "downloads")
        }
        Right(scores.groupBy(_._1._1).toList.sortBy(_._1).map { case (field, entries) =>
          val best = entries.toList.maxBy { case ((_, v), s) => (s, v) }._1._2
          datum(field, UStr(best), None)
        })
      }
    } catch { case e: Exception => Left(s"repology: ${e.getMessage}") }

  /** `parse_repology_name` + `perl_name_to_module` (repology.rs:4-22). */
  def parseRepologyName(name: String): Option[(String, String)] =
    name.split(":", 2) match {
      case Array(family, n) if name.contains(':') => Some((family, n))
      case _                                      => None
    }

  def perlNameToModule(name: String): String =
    name.split('-').map(_.capitalize).mkString("::")

  // ---------- pkg.go.dev (providers/go.rs:40-57) ----------

  /** `remote_go_metadata`: pure string logic — github.com import paths yield
    * GoImportPath + the module's repository URL.
    */
  def goMetadata(importPath: String): List[Datum] =
    if (!importPath.startsWith("github.com/")) Nil
    else List(
      datum("Go-Import-Path", UStr(importPath), Some(CERTAIN)),
      datum("Repository",
        UStr("https://" + importPath.split('/').take(3).mkString("/")), Some(CERTAIN)))

  /** Dispatch by registry kind — the one entry point the Spark side binds.
    * `hackage` payloads are .cabal files and route through the existing
    * cabal extractor (haskell.rs:157-176 fetches exactly that file). A
    * null payload is `Left` for every kind.
    */
  def parse(kind: String, payload: String): Either[String, List[Datum]] =
    if (payload == null) Left(s"$kind: null payload")
    else kind match {
      case "pypi"      => parsePypi(payload)
      case "npm"       => parseNpm(payload)
      case "crates"    => parseCrates(payload)
      case "cpan"      => parseCpan(payload)
      case "rubygems"  => parseRubygem(payload)
      case "pecl"      => Right(parsePeclPage(payload))
      case "github"    => parseGithubRepo(payload)
      case "aur"       => Right(parseAurPkgbuild(payload))
      case "gobo-recipe"      => Right(parseGoboRecipe(payload))
      case "gobo-description" => Right(parseGoboDescription(payload))
      case "launchpad" => parseLaunchpadProject(payload)
      case "repology"  => parseRepology(payload)
      case "hackage"   => graft.extract.Extractors.cabal("hackage", payload)
      case "go"        => Right(goMetadata(payload))
      case other       => Left(s"unknown registry kind: $other")
    }
}
