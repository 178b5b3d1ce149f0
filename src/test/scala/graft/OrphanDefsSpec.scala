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
    "compact" -> "pending split: ModelStore.compact",
    "containmentPairs" -> "pending split: NearDup.containmentPairs",
    "rebalance" -> "pending split: Curation.rebalance",
    "canonicalSimJoin" -> "pending split: NearDup.canonicalSimJoin")

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

  /** `text` with its comments blanked (line breaks kept) and its
    * string and character literals intact, so a comment marker inside
    * a string stays code. Block comments nest, as in Scala. */
  private def stripComments(text: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = text.startsWith(s, i)
    while (i < text.length) {
      if (at("//")) {
        while (i < text.length && text(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while ({
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (text(i) == '\n') out += '\n'; i += 1 }
          depth > 0 && i < text.length
        }) ()
        out += ' '
      } else {
        val end =
          if (at("\"\"\"")) {
            // a run of more than three quotes closes at its last three
            var j = text.indexOf("\"\"\"", i + 3)
            while (text.startsWith("\"\"\"\"", j)) j += 1
            j + 3
          } else if (at("\"")) {
            var j = i + 1
            while (text(j) != '"') j += (if (text(j) == '\\') 2 else 1)
            j + 1
          } else if (at("'\\")) text.indexOf('\'', i + 3) + 1 // '\n', '\''
          else if (at("'") && text(i + 2) == '\'') i + 3 // 'x'
          else i + 1
        out ++= text.substring(i, end)
        i = end
      }
    }
    out.toString
  }

  /** `file:line kind name` of every definition whose name appears
    * exactly once in the stripped sources under `root`. */
  private def orphans(root: File): Map[String, String] = {
    val texts = sources(root).map(f =>
      f -> stripComments(java.nio.file.Files.readString(f.toPath)))
    val uses = texts.flatMap(t => identifier.findAllIn(t._2))
      .groupBy(identity).map { case (n, ns) => n -> ns.size }
    texts.flatMap { case (f, text) =>
      val hasMain = definesMain.findFirstIn(text).isDefined
      definition.findAllMatchIn(text).collect {
        case m if uses(m.group(3)) == 1 &&
            !m.group(1).split("\\s+").exists(Set("override", "implicit")) &&
            !(m.group(2) == "object" && hasMain) =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          m.group(3) -> s"${f.getPath}:$line ${m.group(2)} ${m.group(3)}"
      }
    }.toMap
  }

  test("every src/main definition is used in src/main or pinned with " +
      "its reason") {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repository root: $root")
    val found = orphans(root)
    val unpinned = found.keySet -- pinned.keySet
    assert(unpinned.isEmpty, "defined in src/main and used nowhere " +
      "else in it:\n" + unpinned.toSeq.sorted.map(found).mkString("\n"))
    val stale = pinned.keySet -- found.keySet
    assert(stale.isEmpty,
      s"pinned but no longer orphaned, unpin: ${stale.toSeq.sorted}")
  }
}
