package graft.pipeline

import graft.core._
import graft.urls._
import graft.extract._
import scala.collection.mutable.ArrayBuffer

/** Per-subject summarization: the reference's `get_upstream_info` semantics
  * (/root/reference/src/lib.rs:3896-3923) under the golden-test configuration
  * (trust=true, net=false, external=false, check=false).
  *
  * A subject is a project: a bag of (relpath, content) artifacts. This whole
  * function is pure and runs as the emit of `KgEngine.bySubject`, the one
  * per-subject pass — per-key state is ≤39 fields, so the extrapolation
  * fixpoint never crosses subjects and needs no driver-side loop.
  */
object Summarize {
  import Certainty._

  final case class Artifact(relpath: String, content: String)

  /** (guesser id, content → datums) for every SELF-CONTAINED guesser that
    * applies to one relpath. debian artifacts are excluded — they need
    * sibling context (package name, source/format) and stay deferred. One
    * file can feed several guessers (e.g. "readme.doap" is both a doap
    * candidate and a README). This is the unit the Spark engine can run in
    * the narrow pre-shuffle stage; the per-subject plan below decides which
    * results are actually used (registry order, exactly-one rules,
    * setup.py suppression).
    */
  def fileGuessers(relpath: String): List[(String, String => Either[String, List[Datum]])] = {
    val out = List.newBuilder[(String, String => Either[String, List[Datum]])]
    val isTopLevel = !relpath.contains('/')
    val base = relpath.substring(relpath.lastIndexOf('/') + 1)
    val lc = base.toLowerCase

    val staticFn: Option[String => Either[String, List[Datum]]] = relpath match {
      case "PKG-INFO"       => Some(Extractors.pkgInfo(relpath, _))
      case "package.json"   => Some(Extractors.packageJson(relpath, _))
      case "composer.json"  => Some(Extractors.composerJson(relpath, _))
      case "package.xml"    => Some(Extractors.packageXml(relpath, _))
      case "package.yaml"   => Some(Extractors.packageYaml(relpath, _))
      case "dist.ini"       => Some(Extractors.distIni(relpath, _))
      case "META.json" | "MYMETA.json" => Some(Extractors.metaJson(relpath, _))
      case "META.yml" | "MYMETA.yml"   => Some(Extractors.metaYml(relpath, _))
      case "configure"      => Some(Extractors.configure(relpath, _))
      case "DESCRIPTION"    => Some(Extractors.rDescription(relpath, _))
      case "Cargo.toml"     => Some(Extractors.cargoToml(relpath, _))
      case "pom.xml"        => Some(Extractors.pomXml(relpath, _))
      case ".git/config"    => Some(Extractors.gitConfig(relpath, _, trustPackage = true))
      case "pyproject.toml" => Some(Extractors.pyprojectToml(relpath, _))
      case "setup.cfg"      => Some(Extractors.setupCfg(relpath, _))
      case "go.mod"         => Some(Extractors.goMod(relpath, _))
      case "Makefile.PL"    => Some(Extractors.makefilePl(relpath, _))
      case "wscript"        => Some(Extractors.wscript(relpath, _))
      case "AUTHORS"        => Some(Extractors.authorsFile(relpath, _))
      case "INSTALL"        => Some(Extractors.installFile(relpath, _))
      case "pubspec.yaml" | "pubspec.yml" => Some(Extractors.pubspecYaml(relpath, _))
      case "meson.build"    => Some(Extractors.mesonBuild(relpath, _))
      case "metadata.json"  => Some(Extractors.metadataJson(relpath, _))
      case ".travis.yml"    => Some(Extractors.travisYml(relpath, _))
      case _                => None
    }
    staticFn.foreach(fn => out += (("static", fn)))

    if (relpath == "SECURITY.md" || relpath == ".github/SECURITY.md" ||
        relpath == "docs/SECURITY.md")
      out += (("security", (_: String) => Extractors.securityMd(relpath, relpath)))

    relpath.split('/') match {
      case Array(d, "PKG-INFO") if d.endsWith(".egg-info") =>
        out += (("egginfo", Extractors.pkgInfo(relpath, _)))
      case Array(d, "METADATA") if d.endsWith(".dist-info") =>
        out += (("egginfo", Extractors.pkgInfo(relpath, _)))
      case Array(d, "DESCRIPTION") if d.nonEmpty =>
        out += (("rdesc", Extractors.rDescription(relpath, _)))
      case _ =>
    }

    if (relpath == "setup.py")
      out += (("setup.py", Extractors.setupPy(relpath, _)))
    if (isTopLevel && base.endsWith(".gemspec"))
      out += (("gemspec", Extractors.gemspec(relpath, _)))
    if (isTopLevel && (base.endsWith(".doap") ||
        (base.endsWith(".xml") && base.startsWith("doap_XML_"))))
      out += (("doap", Extractors.doap(relpath, _)))
    if (isTopLevel && base.endsWith(".metainfo.xml"))
      out += (("metainfo", Extractors.metainfo(relpath, _)))
    if (isTopLevel && base.endsWith(".cabal"))
      out += (("cabal", Extractors.cabal(relpath, _)))
    if (isTopLevel &&
        (lc.startsWith("readme") || lc.startsWith("hacking") || lc.startsWith("contributing")) &&
        !base.endsWith("~") && {
          val ext = extensionOf(base)
          !ext.contains("html") && !ext.contains("pdf") && !ext.contains("xml")
        })
      out += (("readme", Readme.guessFromReadme(relpath, extensionOf(relpath), _)))
    if (isTopLevel && base.endsWith(".nuspec"))
      out += (("nuspec", Extractors.nuspec(relpath, _)))
    if (isTopLevel && base.endsWith(".opam"))
      out += (("opam", Extractors.opam(relpath, _)))

    out.result()
  }

  /** One guesser = registry-ordered unit of extraction
    * (find_guessers, src/lib.rs:3083-3440). `lookup`, when present, supplies
    * pre-extracted datums for (relpath, guesserId) instead of re-running the
    * self-contained extractors — the Spark pre-extraction path; only
    * debian content is then read from `files`.
    */
  private def guessers(
      files: scala.collection.Map[String, String],
      relpathUniverse: scala.collection.Set[String],
      subjectBasename: String,
      envRepositoryUrl: Option[String],
      lookup: Option[(String, String) => List[Datum]]
  ): List[() => Either[String, List[Datum]]] = {
    val out = List.newBuilder[() => Either[String, List[Datum]]]
    def has(p: String): Boolean = relpathUniverse.contains(p)
    def content(p: String): String = files(p)

    /** A self-contained slot: pre-extracted datums or a live extractor run. */
    def slot(relpath: String, id: String): Unit = lookup match {
      case Some(f) => out += (() => Right(f(relpath, id)))
      case None =>
        fileGuessers(relpath).find(_._1 == id).foreach { case (_, fn) =>
          out += (() => fn(content(relpath)))
        }
    }

    // package name for debian/watch templating (read_entries,
    // src/providers/debian.rs:728-768)
    lazy val debianPackageName: String =
      files.get("debian/changelog")
        .flatMap(c => Parsers.parseChangelogFirstEntry(c).toOption.map(_._1))
        .orElse(files.get("debian/control").flatMap { c =>
          Parsers.parseDeb822(c).flatMap(p => Parsers.deb822Get(p, "Source")).headOption
        })
        .getOrElse("")

    // debian_is_native (src/providers/debian.rs:819-844)
    lazy val isNative: Option[Boolean] =
      files.get("debian/source/format") match {
        case Some(f) => Some(f.trim == "3.0 (native)")
        case None =>
          files.get("debian/changelog").flatMap { c =>
            Parsers.parseChangelogFirstEntry(c).toOption.flatMap {
              case (_, Some(v), _) => Some(Parsers.debianRevision(v).isEmpty)
              case _               => None
            }
          }
      }

    // --- OLD_STATIC_GUESSERS in registry order (src/lib.rs:2939-3081) ---
    if (has("debian/watch"))
      out += (() => Extractors.debianWatch("debian/watch", content("debian/watch"), debianPackageName))
    if (has("debian/control"))
      out += (() => Extractors.debianControl("debian/control", content("debian/control"), isNative))
    if (has("debian/changelog"))
      out += (() => Extractors.debianChangelog("debian/changelog", content("debian/changelog")))
    if (has("debian/rules"))
      out += (() => Extractors.debianRules("debian/rules", content("debian/rules")))
    if (has("PKG-INFO")) slot("PKG-INFO", "static")
    if (has("package.json")) slot("package.json", "static")
    if (has("composer.json")) slot("composer.json", "static")
    if (has("package.xml")) slot("package.xml", "static")
    if (has("package.yaml")) slot("package.yaml", "static")
    if (has("dist.ini")) slot("dist.ini", "static")
    if (has("debian/copyright"))
      out += (() => Extractors.debianCopyright("debian/copyright", content("debian/copyright")))
    for (p <- List("META.json", "MYMETA.json") if has(p)) slot(p, "static")
    for (p <- List("META.yml", "MYMETA.yml") if has(p)) slot(p, "static")
    if (has("configure")) slot("configure", "static")
    if (has("DESCRIPTION")) slot("DESCRIPTION", "static")
    if (has("Cargo.toml")) slot("Cargo.toml", "static")
    if (has("pom.xml")) slot("pom.xml", "static")
    if (has(".git/config")) slot(".git/config", "static")
    if (has("debian/get-orig-source.sh"))
      out += (() => Extractors.getOrigSource("debian/get-orig-source.sh", content("debian/get-orig-source.sh")))
    if (has("pyproject.toml")) slot("pyproject.toml", "static")
    if (has("setup.cfg")) slot("setup.cfg", "static")
    if (has("go.mod")) slot("go.mod", "static")
    if (has("Makefile.PL")) slot("Makefile.PL", "static")
    if (has("wscript")) slot("wscript", "static")
    if (has("AUTHORS")) slot("AUTHORS", "static")
    if (has("INSTALL")) slot("INSTALL", "static")
    for (p <- List("pubspec.yaml", "pubspec.yml") if has(p)) slot(p, "static")
    // meson.build: reference shells out to `meson introspect`, which is not
    // available offline → the guesser ERRORS (meson.rs:15-19); the error is
    // logged-and-dropped from the datum stream but counted on the lineage
    // error channel
    if (has("meson.build")) slot("meson.build", "static")
    if (has("metadata.json")) slot("metadata.json", "static")
    if (has(".travis.yml")) slot(".travis.yml", "static")

    // --- SECURITY.md in three locations (src/lib.rs:3099-3113) ---
    for (name <- List("SECURITY.md", ".github/SECURITY.md", "docs/SECURITY.md") if has(name))
      slot(name, "security")

    // --- egg-info / dist-info (src/lib.rs:3115-3144) ---
    val topLevel = relpathUniverse.filterNot(_.contains('/')).toList.sorted
    var foundPkgInfo = has("PKG-INFO")
    val eggInfos = relpathUniverse.filter(p =>
      p.split('/') match {
        case Array(dir, "PKG-INFO") if dir.endsWith(".egg-info") => true
        case Array(dir, "METADATA") if dir.endsWith(".dist-info") => true
        case _ => false
      }).toList.sorted
    for (p <- eggInfos) {
      slot(p, "egginfo")
      foundPkgInfo = true
    }

    // --- setup.py if no PKG-INFO (src/lib.rs:3146-3157) ---
    if (!foundPkgInfo && has("setup.py")) slot("setup.py", "setup.py")

    // --- gemspecs, all (src/lib.rs:3159-3173) ---
    for (p <- topLevel if p.endsWith(".gemspec")) slot(p, "gemspec")

    // --- R subdir DESCRIPTION (src/lib.rs:3176-3195) ---
    for (p <- relpathUniverse.toList.sorted
         if p.endsWith("/DESCRIPTION") && p.count(_ == '/') == 1)
      slot(p, "rdesc")

    // --- exactly-one rules: doap / metainfo / cabal (src/lib.rs:3197-3292) ---
    def exactlyOne(pred: String => Boolean, id: String): Unit = {
      val matches = topLevel.filter(pred)
      if (matches.length == 1) slot(matches.head, id)
    }
    exactlyOne(p => p.endsWith(".doap") || (p.endsWith(".xml") && p.startsWith("doap_XML_")), "doap")
    exactlyOne(_.endsWith(".metainfo.xml"), "metainfo")
    exactlyOne(_.endsWith(".cabal"), "cabal")

    // --- README family, all (src/lib.rs:3294-3335) ---
    val readmes = topLevel.filter { p =>
      val lc = p.toLowerCase
      (lc.startsWith("readme") || lc.startsWith("hacking") || lc.startsWith("contributing")) &&
        !p.endsWith("~") && {
          val ext = extensionOf(p)
          !ext.contains("html") && !ext.contains("pdf") && !ext.contains("xml")
        }
    }
    for (p <- readmes) slot(p, "readme")

    // --- single nuspec / opam (src/lib.rs:3337-3401) ---
    exactlyOne(_.endsWith(".nuspec"), "nuspec")
    exactlyOne(_.endsWith(".opam"), "opam")

    // --- debian patches (src/lib.rs:3403-3430) ---
    for (p <- relpathUniverse.toList.sorted
         if p.startsWith("debian/patches/") && p.endsWith(".patch"))
      out += (() => Extractors.debianPatch(p, content(p)))

    // --- environment guesser (UPSTREAM_BRANCH_URL, src/lib.rs:2237-2248),
    //     then path fallback (src/lib.rs:3432-3437)
    envRepositoryUrl.foreach { url =>
      out += (() => Right(List(
        Datum("Repository", UStr(url), Some(Certain), Some("environment")))))
    }
    out += (() => Right(Extractors.fromPath(subjectBasename)))

    out.result()
  }

  private def extensionOf(p: String): Option[String] = {
    val base = p.substring(p.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot <= 0) None else Some(base.substring(dot + 1).toLowerCase)
  }

  /** Full per-subject run: extract → filter bad → merge → extrapolate →
    * fix → sort. Returns (metadata, errors).
    */
  def summarize(
      files: scala.collection.Map[String, String],
      subjectBasename: String,
      envRepositoryUrl: Option[String] = None
  ): (List[Datum], List[String]) = {
    val (metadata, errors, _) = summarizeWithStats(files, subjectBasename, envRepositoryUrl)
    (metadata, errors)
  }

  /** `summarize` plus the extraction observability the lineage table records
    * (SURVEY §1.3): the provider errors (the reference logs-and-drops these,
    * lib.rs:3905-3913 — e.g. meson's offline introspection failure) and the
    * count of raw datums dropped by `known_bad_guess` before the merge.
    */
  def summarizeWithStats(
      files: scala.collection.Map[String, String],
      subjectBasename: String,
      envRepositoryUrl: Option[String] = None,
      iterationLimit: Int = DefaultIterationLimit
  ): (List[Datum], List[String], Long) =
    run(guessers(files, files.keySet, subjectBasename, envRepositoryUrl, None), iterationLimit)

  /** The per-subject chain behind `summarizeWithStats` and `assemble`: run
    * the guessers, drop known-bad datums, merge, then extend → extrapolate →
    * fix → sort. Returns (metadata, errors, droppedBad).
    */
  private def run(
      gs: List[() => Either[String, List[Datum]]],
      iterationLimit: Int
  ): (List[Datum], List[String], Long) = {
    val errors = List.newBuilder[String]
    val raw = ArrayBuffer.empty[Datum]
    for (g <- gs) {
      g() match {
        case Right(ds) => raw ++= ds
        case Left(e)   => errors += e
      }
    }

    var droppedBad = 0L
    val metadata = ArrayBuffer.empty[Datum]
    Merge.updateFromGuesses(metadata, raw.iterator.filterNot { d =>
      val bad = KnownBad.isBad(d)
      if (bad) droppedBad += 1
      bad
    })

    extendSfArchive(metadata)
    // ExtrapolationLimitExceeded is a ProviderError in the reference
    // (lib.rs:2839) — it rides the same error channel the guesser errors do
    extrapolate(metadata, iterationLimit).foreach(errors += _)
    fixMetadata(metadata)

    (metadata.sortBy(_.field).toList, errors.result(), droppedBad)
  }

  /** Raw extraction only — the scan-mode surface (raw_triples). */
  def extractRaw(
      files: scala.collection.Map[String, String],
      subjectBasename: String,
      envRepositoryUrl: Option[String] = None
  ): List[Datum] =
    guessers(files, files.keySet, subjectBasename, envRepositoryUrl, None)
      .flatMap(g => g().getOrElse(Nil))

  /** Per-subject assembly from PRE-EXTRACTED datums (the Spark two-phase
    * path): `pre` maps (relpath, guesserId) → datums produced in the narrow
    * per-row stage; `deferredFiles` carries raw content only for debian
    * artifacts. Semantically identical to `summarize` (tested on every
    * fixture); this path drops the errors too.
    */
  def assemble(
      deferredFiles: Map[String, String],
      relpathUniverse: scala.collection.Set[String],
      pre: Map[(String, String), List[Datum]],
      subjectBasename: String,
      envRepositoryUrl: Option[String] = None
  ): List[Datum] = {
    val lookup = (relpath: String, id: String) => pre.getOrElse((relpath, id), Nil)
    run(guessers(deferredFiles, relpathUniverse, subjectBasename,
      envRepositoryUrl, Some(lookup)), DefaultIterationLimit)._1
  }

  /** The offline head of `extend_upstream_metadata`
    * (/root/reference/src/lib.rs:3521-3554), which runs UNCONDITIONALLY in
    * the lifecycle (only the subsequent SourceForge fetch is net-gated): the
    * first URL field, in the fixed order Homepage, Bug-Database, Bug-Submit,
    * Repository, Repository-Browse, Download, whose value names a
    * SourceForge project derives `Archive: SourceForge` and
    * `SourceForge-Project` at min(Likely, field certainty), origin
    * "derived from <field>"; then the loop breaks. The reference PUSHES a
    * duplicate datum (`UpstreamMetadata::insert` is a Vec push, lib.rs:1211)
    * bypassing the lattice; its observables then split — the YAML serializer
    * builds a Mapping where the LAST (derived) datum wins (lib.rs:1518-1532)
    * while `get()` reads the first — and no downstream consumer reads
    * Archive/SourceForge-Project via get(). This engine's one-datum-per-field
    * model therefore keeps the YAML-observable: replace.
    */
  def extendSfArchive(md: ArrayBuffer[Datum]): Unit = {
    val fields = List("Homepage", "Bug-Database", "Bug-Submit",
      "Repository", "Repository-Browse", "Download")
    fields.iterator
      .flatMap(f => get(md, f))
      .flatMap(v => v.str.flatMap(Forges.extractSfProjectName)
        .map(p => (v, p)))
      .nextOption()
      .foreach { case (v, project) =>
        val certainty = Some(capped(v.certainty, Likely))
        val origin = Some(s"derived from ${v.field}")
        def insert(d: Datum): Unit = md.indexWhere(_.field == d.field) match {
          case -1 => md += d
          case i  => md(i) = d
        }
        insert(Datum("Archive", UStr("SourceForge"), certainty, origin))
        insert(Datum("SourceForge-Project", UStr(project), certainty, origin))
      }
  }

  // ---------- extrapolation fixpoint (src/extrapolate.rs) ----------

  private final case class Rule(
      fromFields: List[String],
      toFields: List[String],
      cb: ArrayBuffer[Datum] => List[Datum]
  )

  private def get(md: ArrayBuffer[Datum], field: String): Option[Datum] =
    md.find(_.field == field)

  /** Rust `min(cert, Some(cap)).unwrap_or(cap)`: None caps to `cap`. */
  private def capped(c: Option[Int], cap: Int): Int =
    c.map(v => math.min(v, cap)).getOrElse(cap)

  private def urlOf(dt: Datum): Option[UrlLite] =
    if (!Fields.urlTyped.contains(dt.field)) None
    else dt.str.flatMap(UrlLite.parse)

  private val rules: List[Rule] = List(
    Rule(List("Homepage"), List("Repository"), { md =>
      val hp = get(md, "Homepage").get
      urlOf(hp).flatMap(Vcs.guessRepoFromUrl) match {
        case Some(repo) =>
          List(Datum("Repository", UStr(repo),
            Some(capped(hp.certainty, Likely)), hp.origin))
        case None => Nil
      }
    }),
    Rule(List("Repository-Browse"), List("Homepage"), { md =>
      val br = get(md, "Repository-Browse").get
      urlOf(br) match {
        case Some(u) =>
          Forges.findForge(u) match {
            case Some(f) if f.repositoryBrowseCanBeHomepage =>
              List(Datum("Homepage", UStr(br.str.get),
                Some(capped(br.certainty, Possible)), br.origin))
            case _ => Nil
          }
        case None => Nil
      }
    }),
    Rule(List("Bugs-Database"), List("Bug-Database"), { md =>
      val old = get(md, "Bugs-Database").get
      List(Datum("Bug-Database", UStr(old.str.get), old.certainty, old.origin))
    }),
    Rule(List("Bug-Database"), List("Repository"), { md =>
      val old = get(md, "Bug-Database").get
      urlOf(old).flatMap(Vcs.guessRepoFromUrl) match {
        case Some(repo) =>
          List(Datum("Repository", UStr(repo),
            Some(capped(old.certainty, Likely)), old.origin))
        case None => Nil
      }
    }),
    Rule(List("Repository"), List("Repository-Browse"), { md =>
      val old = get(md, "Repository").get
      urlOf(old).flatMap(u =>
        Vcs.browseUrlFromRepoUrl(Vcs.VcsLocation(u, None, None))) match {
        case Some(b) =>
          List(Datum("Repository-Browse", UStr(b.toString), old.certainty, old.origin))
        case None => Nil
      }
    }),
    Rule(List("Repository-Browse"), List("Repository"), { md =>
      val old = get(md, "Repository-Browse").get
      urlOf(old).flatMap(Vcs.guessRepoFromUrl) match {
        case Some(repo) =>
          List(Datum("Repository", UStr(repo), old.certainty, old.origin))
        case None => Nil
      }
    }),
    Rule(List("Repository"), List("Bug-Database"), { md =>
      val old = get(md, "Repository").get
      urlOf(old).flatMap(Forges.guessBugDatabaseUrlFromRepoUrl) match {
        case Some(b) =>
          List(Datum("Bug-Database", UStr(b.toString),
            Some(capped(old.certainty, Likely)), old.origin))
        case None => Nil
      }
    }),
    Rule(List("Bug-Database"), List("Bug-Submit"), { md =>
      val old = get(md, "Bug-Database").get
      urlOf(old).flatMap(Forges.bugSubmitUrlFromBugDatabaseUrl) match {
        case Some(b) =>
          List(Datum("Bug-Submit", UStr(b.toString), old.certainty, old.origin))
        case None => Nil
      }
    }),
    Rule(List("Bug-Submit"), List("Bug-Database"), { md =>
      val old = get(md, "Bug-Submit").get
      urlOf(old).flatMap(Forges.bugDatabaseUrlFromBugSubmitUrl) match {
        case Some(b) =>
          List(Datum("Bug-Database", UStr(b.toString), old.certainty, old.origin))
        case None => Nil
      }
    }),
    Rule(List("Download"), List("Repository"), { md =>
      val old = get(md, "Download").get
      urlOf(old).flatMap(Vcs.guessRepoFromUrl) match {
        case Some(repo) =>
          List(Datum("Repository", UStr(repo),
            Some(capped(old.certainty, Likely)), old.origin))
        case None => Nil
      }
    }),
    Rule(List("Repository"), List("Name"), { md =>
      val old = get(md, "Repository").get
      urlOf(old).flatMap(Vcs.guessRepoFromUrl) match {
        case Some(repo) =>
          UrlLite.parse(repo).flatMap(_.pathSegments.flatMap(_.lastOption)) match {
            case Some(last) =>
              val name = last.stripSuffix(".git")
              if (name.nonEmpty)
                List(Datum("Name", UStr(name),
                  Some(capped(old.certainty, Likely)), old.origin))
              else Nil
            case None => Nil
          }
        case None => Nil
      }
    }),
    Rule(List("Repository", "Security-MD"), List("Security-Contact"), { md =>
      val repo = get(md, "Repository").get
      val sec = get(md, "Security-MD").get
      urlOf(repo).flatMap(u =>
        Vcs.browseUrlFromRepoUrl(Vcs.VcsLocation(u, None, sec.str))) match {
        case Some(b) =>
          val c = math.min(Certainty.rank(repo.certainty), Certainty.rank(sec.certainty))
          List(Datum("Security-Contact", UStr(b.toString),
            if (c < 0) None else Some(c), repo.origin))
        case None => Nil
      }
    }),
    Rule(List("Maintainer"), List("Contact"), { md =>
      val m = get(md, "Maintainer").get
      m.value match {
        case UPerson(p) => List(Datum("Contact", UStr(p.show), m.certainty, m.origin))
        case _          => Nil
      }
    })
    // rule 14 (Homepage → homepage scrape) is network-only: inert offline
  )

  /** Source fields of the single-source extrapolation rules — the start set
    * of the probe-candidate closure (every url the fixpoint can derive
    * chains from one of these).
    */
  private[graft] lazy val singletonRuleSourceFields: Set[String] =
    rules.collect { case r if r.fromFields.sizeIs == 1 => r.fromFields.head }.toSet

  /** The (field, value) pairs ONE datum alone derives through the
    * single-source rules. REUSES the rule callbacks, so the probe-candidate
    * closure can never drift from `extrapolate` — a new url-producing rule
    * is picked up automatically (as long as it stays single-source, which
    * every url-producing rule is; the one two-source rule targets the
    * non-probed Security-Contact).
    */
  private[graft] def singletonUrlDerivations(
      field: String, value: String): List[(String, String)] =
    rules.flatMap { r =>
      if (r.fromFields != List(field)) Nil
      else {
        val buf = ArrayBuffer(Datum(field, UStr(value), Some(Likely), None))
        r.cb(buf).collect { case d if d.str.isDefined => (d.field, d.str.get) }
      }
    }

  /** The reference's DEFAULT_ITERATION_LIMIT (src/extrapolate.rs:5). */
  val DefaultIterationLimit: Int = 10

  /** extrapolate_fields (src/extrapolate.rs:511-618). Mirrors the
    * reference's `iteration_limit: Option<usize>` parameter and its
    * `Err(ProviderError::ExtrapolationLimitExceeded)` outcome: a fixpoint
    * that fails to converge within the limit returns the error as data
    * (Some(message)), leaving `md` at the truncated state exactly like the
    * reference's mutate-then-Err. Callers route it onto the provider-error
    * channel (`summarizeWithStats`) or propagate like the reference's `?`
    * at lib.rs:3695 (`KgEngine.extendTail`).
    */
  def extrapolate(
      md: ArrayBuffer[Datum],
      iterationLimit: Int = DefaultIterationLimit): Option[String] = {
    var changed = true
    var iterations = 0
    while (changed) {
      changed = false
      iterations += 1
      if (iterations > iterationLimit)
        return Some(s"ExtrapolationLimitExceeded($iterationLimit)")
      for (rule <- rules) {
        val fromValues = rule.fromFields.map(f => get(md, f))
        if (fromValues.forall(_.isDefined)) {
          val fromCertainty = fromValues.map(v => Certainty.rank(v.get.certainty)).min
          val oldToValues = rule.toFields.flatMap(f => get(md, f).map(f -> _)).toMap
          val allCovered = rule.toFields.forall(f =>
            oldToValues.get(f).exists(v => Certainty.rank(v.certainty) >= fromCertainty))
          if (!allCovered) {
            val extra = rule.cb(md)
            val changes = Merge.updateFromGuesses(md, extra)
            if (changes.nonEmpty) changed = true
          }
        }
      }
    }
    None
  }

  /** fix_upstream_metadata (src/lib.rs:3790-3805) */
  def fixMetadata(md: ArrayBuffer[Datum]): Unit = {
    val repoIdx = md.indexWhere(_.field == "Repository")
    if (repoIdx >= 0) {
      md(repoIdx).str.foreach { r =>
        md(repoIdx) = md(repoIdx).copy(value = UStr(Vcs.sanitizeUrl(r)))
      }
    }
    val sumIdx = md.indexWhere(_.field == "Summary")
    if (sumIdx >= 0) {
      md(sumIdx).str.foreach { s0 =>
        val s1 = s0.indexOf(". ") match {
          case -1 => s0
          case i  => s0.substring(0, i)
        }
        val s2 = s1.reverse.dropWhile(_.isWhitespace).dropWhile(_ == '.').reverse
        md(sumIdx) = md(sumIdx).copy(value = UStr(s2))
      }
    }
  }
}
