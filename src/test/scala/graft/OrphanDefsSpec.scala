package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Guards `src/main` against code that only its own specs reach: every
  * `def`/`val`/`object`/`class` name defined there must appear again
  * somewhere in `src/main` (comments stripped), unless it is pinned
  * below with its reason. A name scan, not a call graph: a name that
  * appears twice anywhere counts as used. Overrides, implicits and the
  * objects that define `main` are reached without their name and are
  * skipped. */
class OrphanDefsSpec extends AnyFunSuite {

  private val pinned = Map(
    // reference implementations that specs compare the engine against
    "knnDescentRounds" -> "reference: KnnScaleSpec's stored refined graph",
    "semDedup" -> "reference: KnnScaleSpec's scaled SemDeDup decision",
    "simhashAgg" -> "reference: NearDupSpec's scan-local simhash",
    "minhashSignature" -> "reference: NearDupSpec's minhash expressions",
    "shingles3" -> "reference: NearDupSpec's shingle sets",
    "bigrams" -> "reference: NgramOpsSpec's bigram counts",
    "perplexityBands" -> "reference: NgramOpsSpec's perplexity bands",
    "columnMax" -> "reference: ParquetStatsSpec's footer max",
    // dbt-layer operations a deployment calls, not a query
    "retry" -> "dbt-layer operation: Pipeline.retry",
    "backfill" -> "dbt-layer operation: Pipeline.backfill",
    "vacuum" -> "dbt-layer operation: ModelStore.vacuum",
    "comment" -> "dbt-layer operation: ModelStore.comment",
    "registerViews" -> "dbt-layer operation: Tables.registerViews",
    "failOnViolations" -> "dbt-layer operation: Quality.failOnViolations",
    // test-only surface whose guarantees need re-homing before deletion
    "ZOrder" -> "pending split: functions.ZOrder",
    "cluster" -> "pending split: functions.ZOrder")

  private val definition = ("""(?<![\w.])((?:[\w\[\]]+[ \t]+)*)""" +
    """(def|val|object|class)\s+([A-Za-z_]\w*)""").r
  private val identifier = """[A-Za-z_]\w*""".r
  private val definesMain = """\bdef\s+main\s*\(""".r

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** `text` with its comments and the plain text of its string and
    * character literals blanked (line breaks kept), so a name that only
    * a message or a comment mentions is not a use. An interpolated
    * string keeps its splices: the identifier of `$x`, and the code of
    * `${…}`, which is scanned as code and may hold nested strings.
    * Block comments nest, as in Scala. */
  private def stripComments(text: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = text.startsWith(s, i)
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    // code up to the end, or up to the `}` that closes a `${` splice
    def code(inSplice: Boolean): Unit = {
      var depth = 0
      while (i < text.length && !(inSplice && depth == 0 && at("}"))) {
        if (at("//")) {
          while (i < text.length && text(i) != '\n') i += 1
        } else if (at("/*")) {
          var nest = 0
          while ({
            if (at("/*")) { nest += 1; i += 2 }
            else if (at("*/")) { nest -= 1; i += 2 }
            else { if (text(i) == '\n') out += '\n'; i += 1 }
            nest > 0 && i < text.length
          }) ()
          out += ' '
        } else if (at("\"")) literal()
        else if (at("'\\")) {
          i = text.indexOf('\'', i + 3) + 1 // '\n', '\''
          out += ' '
        } else if (at("'") && i + 2 < text.length && text(i + 2) == '\'') {
          i += 3 // 'x'
          out += ' '
        } else {
          if (at("{")) depth += 1 else if (at("}")) depth -= 1
          out += text(i)
          i += 1
        }
      }
    }
    def literal(): Unit = {
      val spliced = i > 0 && isIdent(text(i - 1))
      val triple = at("\"\"\"")
      i += (if (triple) 3 else 1)
      out += ' '
      def closes =
        if (triple) at("\"\"\"") && !text.startsWith("\"\"\"\"", i)
        else at("\"")
      while (!closes) {
        if (spliced && at("$$")) i += 2
        else if (spliced && at("${")) {
          i += 2
          out += ' '
          code(inSplice = true)
          i += 1
          out += ' '
        } else if (spliced && at("$")) {
          i += 1
          out += ' '
          while (i < text.length && isIdent(text(i))) {
            out += text(i)
            i += 1
          }
          out += ' '
        } else {
          if (text(i) == '\n') out += '\n'
          i += (if (!triple && at("\\")) 2 else 1)
        }
      }
      i += (if (triple) 3 else 1)
      out += ' '
    }
    code(inSplice = false)
    out.toString
  }

  /** `file:line kind name` of every definition whose name appears
    * exactly once in the stripped `(file, text)` sources. */
  private def orphans(files: Seq[(String, String)]): Map[String, String] = {
    val texts = files.map { case (f, t) => f -> stripComments(t) }
    val uses = texts.flatMap(t => identifier.findAllIn(t._2))
      .groupBy(identity).map { case (n, ns) => n -> ns.size }
    texts.flatMap { case (f, text) =>
      val hasMain = definesMain.findFirstIn(text).isDefined
      definition.findAllMatchIn(text).collect {
        case m if uses(m.group(3)) == 1 &&
            !m.group(1).split("\\s+").exists(Set("override", "implicit")) &&
            !(m.group(2) == "object" && hasMain) =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          m.group(3) -> s"$f:$line ${m.group(2)} ${m.group(3)}"
      }
    }.toMap
  }

  test("every src/main definition is used in src/main or pinned with " +
      "its reason") {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repository root: $root")
    val found = orphans(sources(root).map(f =>
      f.getPath -> java.nio.file.Files.readString(f.toPath)))
    val unpinned = found.keySet -- pinned.keySet
    assert(unpinned.isEmpty, "defined in src/main and used nowhere " +
      "else in it:\n" + unpinned.toSeq.sorted.map(found).mkString("\n"))
    val stale = pinned.keySet -- found.keySet
    assert(stale.isEmpty,
      s"pinned but no longer orphaned, unpin: ${stale.toSeq.sorted}")
  }

  test("a name only a string literal mentions is an orphan; an " +
      "interpolated splice is a use") {
    val src = """object A {
      |  def lonely(n: Int): Int = {
      |    require(n > 0, "lonely: n must be positive, got " + n)
      |    n
      |  }
      |  private def helper(a: String, b: String) = a + b
      |  private val m = 2
      |  val sql = s"${helper("a", "b")} $m"
      |  val quote = '"'
      |}""".stripMargin
    assert(orphans(Seq("A.scala" -> src)).keySet ==
      Set("A", "lonely", "sql", "quote"))
  }
}
