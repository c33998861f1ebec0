package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanizes the source-hygiene greps that were once re-run by hand:
  * src/main carries no Scala UDFs (codegen-hostile — the W3 contract),
  * no `???` / TODO / FIXME padding, and every driver-side `.collect()`
  * is one of the AUDITED bounded-metadata reads — an unlisted collect
  * is how a distributed operator quietly becomes a driver loop, so
  * adding one requires stating its bound here. The declared-surface
  * audit keeps the engine packages free of public definitions that
  * nothing but their own tests calls: every one has a caller in
  * src/main or perfbench, or an allowlist entry stating why not.
  */
class SourceHygieneSpec extends AnyFunSuite {

  // Locate the repository from the forked test JVM's working
  // directory (sbt forks tests in the project base, but don't depend
  // on it — walk up until src/main/scala/graft is visible).
  private lazy val repo: java.nio.file.Path = {
    var d = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
    while (d != null &&
        !java.nio.file.Files.isDirectory(d.resolve("src/main/scala/graft")))
      d = d.getParent
    assert(d != null, s"could not locate src/main/scala/graft from ${sys.props("user.dir")}")
    d
  }

  private lazy val root: java.nio.file.Path = repo.resolve("src/main/scala/graft")

  private def scalaFiles(dir: java.nio.file.Path): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => dir.relativize(p).toString ->
        new String(java.nio.file.Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
      .toSeq
    finally walk.close()
  }

  private lazy val sources: Seq[(String, String)] = scalaFiles(root)

  test("src/main carries no udf(), ???, TODO, or FIXME") {
    val hits = for {
      (f, text) <- sources
      (line, i) <- text.linesIterator.zipWithIndex
      if line.contains("udf(") || line.contains("???") ||
        line.contains("TODO") || line.contains("FIXME")
    } yield s"$f:${i + 1}: ${line.trim.take(100)}"
    assert(sources.nonEmpty, "no sources found — the walk is broken, not the code clean")
    assert(hits.isEmpty,
      "src/main hygiene violations (replace UDFs with native expressions; " +
        "no stubs/markers in shipped code):\n" + hits.mkString("\n"))
  }

  test(".collect() sites in src/main are exactly the audited bounded-metadata reads") {
    // file -> (site count, the stated bound that makes each driver-safe)
    val audited = Map(
      "streaming/EventStreams.scala" -> (1,
        "the CDC fold's touched-bucket list (<= nBuckets rows)"),
      "operators/Similarity.scala" -> (1,
        "the ANN training sample: at most Similarity.sampleRows (65,536) rows of " +
          "(id, vector, norm, draw), collected once per corpus"),
      "Explain.scala" -> (2,
        "exec-mode audit collects: execute-to-read-the-final-AQE-plan, an audit " +
          "tool run at small SF by its own contract — never a query path"))
    val counts = sources
      .map { case (f, text) => f -> "\\.collect\\(\\)".r.findAllIn(text).size }
      .filter(_._2 > 0).toMap
    assert(counts == audited.map { case (f, (n, _)) => f -> n },
      s"collect() site drift — audited ${audited.map { case (f, (n, _)) => f -> n }}, " +
        s"found $counts. A data-path collect is a scale-killer; if the new site is a " +
        "bounded metadata read, add it here WITH its bound.")
  }

  test("only the CLI mains read the environment or system properties") {
    // engine behavior is set by arguments and Spark conf, never by a
    // hidden env knob; Verify and Explain read SPARK_GRAFT_CPUS, and
    // Verify its query filter
    val mains = Set("Verify.scala", "Explain.scala")
    val hits = for {
      (f, text) <- sources if !mains(f)
      (line, i) <- text.linesIterator.zipWithIndex
      if line.contains("sys.env") || line.contains("System.getenv") ||
        line.contains("sys.props")
    } yield s"$f:${i + 1}: ${line.trim.take(100)}"
    assert(sources.exists { case (f, _) => mains(f) },
      "CLI mains not found — the walk is broken, not the code clean")
    assert(hits.isEmpty,
      "environment/property reads outside the CLI mains (pass the value as an " +
        "argument instead):\n" + hits.mkString("\n"))
  }

  /** `text` with every comment blanked to spaces; newlines survive, so
    * offsets and line numbers do. String literals stay, interpolation
    * splices included — unless `blankLiterals`, which blanks their
    * text too (but not the code of a `${…}` splice), leaving only the
    * brace structure of the code.
    */
  private def mask(text: String, blankLiterals: Boolean): String = {
    val out = text.toCharArray
    val n = out.length
    def blank(from: Int, to: Int): Unit =
      for (k <- from until math.min(to, n) if out(k) != '\n') out(k) = ' '
    def at(k: Int, s: String): Boolean = text.startsWith(s, k)
    // a string literal, or the code of a `${…}` splice inside one
    final case class Str(triple: Boolean, interpolated: Boolean)
    var inString: List[Str] = Nil   // innermost first
    var spliceDepth: List[Int] = Nil // brace depth per open splice
    var depth = 0
    var i = 0
    while (i < n) {
      val inCode = inString.isEmpty || spliceDepth.size == inString.size
      if (inCode) {
        if (at(i, "//")) {
          val e = text.indexOf('\n', i) match { case -1 => n; case e => e }
          blank(i, e); i = e
        } else if (at(i, "/*")) {
          var nest = 0; var j = i
          do {
            if (at(j, "/*")) { nest += 1; j += 2 }
            else if (at(j, "*/")) { nest -= 1; j += 2 }
            else j += 1
          } while (j < n && nest > 0)
          blank(i, j); i = j
        } else if (text(i) == '"') {
          val interp = i > 0 && (text(i - 1).isLetterOrDigit || text(i - 1) == '_')
          val triple = at(i, "\"\"\"")
          inString = Str(triple, interp) :: inString
          i += (if (triple) 3 else 1)
        } else if (text(i) == '\'' && i + 2 < n &&
            (text(i + 2) == '\'' || (text(i + 1) == '\\' && text.indexOf('\'', i + 2) > 0))) {
          val e = text.indexOf('\'', i + 2) + 1
          if (blankLiterals) blank(i + 1, e - 1)
          i = e
        } else {
          if (text(i) == '{') depth += 1
          else if (text(i) == '}') {
            if (spliceDepth.nonEmpty && spliceDepth.head == depth) {
              // closes a `${…}` splice: back into its string literal
              spliceDepth = spliceDepth.tail
              if (blankLiterals) out(i) = ' '
            } else depth -= 1
          }
          i += 1
        }
      } else {
        val s = inString.head
        if (s.triple && at(i, "\"\"\"") && !at(i + 3, "\"")) { inString = inString.tail; i += 3 }
        else if (!s.triple && text(i) == '"') { inString = inString.tail; i += 1 }
        else if (!s.triple && text(i) == '\\') { if (blankLiterals) blank(i, i + 2); i += 2 }
        else if (s.interpolated && at(i, "$$")) { if (blankLiterals) blank(i, i + 2); i += 2 }
        else if (s.interpolated && at(i, "${")) {
          if (blankLiterals) blank(i, i + 2)
          spliceDepth = depth :: spliceDepth
          i += 2
        } else { if (blankLiterals) blank(i, i + 1); i += 1 }
      }
    }
    new String(out)
  }

  test("every public definition in the engine packages has a caller outside its own definition") {
    // A definition only its own tests call is surface nobody declared:
    // it costs every later refactor a port and says nothing about the
    // warehouse. Listed here is each unreferenced definition that
    // stays, WITH the reason; anything else is deleted, or gets a
    // caller in a query, the ETL or perfbench.
    val allowlist = Map(
      "EventStreams.memoSizes" ->
        "test probe: StreamingSpec checks the watermark memo is released")
    val packages = Set("operators", "sources", "streaming", "functions", "etl")
    val perfbench = repo.resolve("perfbench/src")
    assert(java.nio.file.Files.isDirectory(perfbench), s"perfbench sources not found at $perfbench")
    // callers are matched by name in code: comments never count,
    // string literals do (a name can be looked up by reflection)
    val occurrences: Map[String, Seq[(String, Int)]] = (for {
      (f, text) <- sources ++ scalaFiles(perfbench).map { case (f, t) => s"perfbench/$f" -> t }
      m <- raw"[A-Za-z0-9_]+".r.findAllMatchIn(mask(text, blankLiterals = false))
    } yield (m.matched, (f, m.start))).groupMap(_._1)(_._2)
    val Member = raw"\b(def|class|object|trait|val|var|type)\s+([A-Za-z_][A-Za-z0-9_]*)".r
    // (file, owner.name, start, end) of every public or package-private
    // def/class/object: a definition's extent runs to the next member
    // of its template (or the template's closing brace)
    val defs = for {
      (f, text) <- sources if packages(f.takeWhile(_ != '/'))
    } yield {
      val shape = mask(text, blankLiterals = true)
      val tokens = Member.findAllMatchIn(shape).toIndexedSeq
      // template braces (class/object/trait bodies) carry their owner's
      // name; block braces carry None, and members under them are locals
      var stack: List[Option[String]] = Nil
      var pending: Option[String] = None
      var t = 0
      val events = Seq.newBuilder[(Int, Int, Option[(String, String)])]
      for (i <- shape.indices) {
        while (t < tokens.size && tokens(t).start == i) {
          val m = tokens(t); t += 1
          if (stack.isEmpty || stack.head.isDefined) {
            val lineStart = shape.lastIndexOf('\n', i) + 1
            val mods = shape.substring(lineStart, i)
            val open = !mods.contains("override") && !mods.contains("protected") &&
              raw"\bprivate\b(?!\[)".r.findFirstIn(mods).isEmpty &&
              !mods.contains("private[this]")
            val owner = stack.headOption.flatten.getOrElse("")
            events += ((i, stack.size,
              if (open && Set("def", "class", "object")(m.group(1))) Some((owner, m.group(2)))
              else None))
          }
          pending = if (Set("class", "object", "trait")(m.group(1))) Some(m.group(2)) else None
        }
        if (shape(i) == '{') { stack = pending :: stack; pending = None }
        else if (shape(i) == '}' && stack.nonEmpty) {
          events += ((i, stack.size, None)); stack = stack.tail
        }
      }
      val ev = events.result()
      ev.zipWithIndex.collect { case ((start, d, Some((owner, name))), k) =>
        val end = ev.drop(k + 1).find(_._2 <= d).map(_._1).getOrElse(shape.length)
        (f, if (owner.isEmpty) name else s"$owner.$name", start, end)
      }
    }
    val unreferenced = defs.flatten.filterNot { case (f, qualified, start, end) =>
      occurrences.getOrElse(qualified.split('.').last, Nil)
        .exists { case (g, at) => g != f || at < start || at >= end }
    }.map(_._2).toSet
    assert(defs.flatten.size > 100, s"only ${defs.flatten.size} definitions found — the scan is broken")
    assert(unreferenced == allowlist.keySet,
      s"unreferenced public definitions ${(unreferenced -- allowlist.keySet).toSeq.sorted.mkString(", ")}" +
        s"; allowlisted but referenced now ${(allowlist.keySet -- unreferenced).toSeq.sorted.mkString(", ")}" +
        ". Delete an uncalled definition (with its tests), or allowlist it WITH its reason.")
  }
}
