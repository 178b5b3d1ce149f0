package graft

import java.io.File

import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Guards the engine's configuration surface: every environment
  * variable the build or `src/main` reads, and every JVM system
  * property `src/main` reads, is listed here, so a new knob has to
  * show up in review as an edit to this spec. */
class EnvKnobsSpec extends AnyFunSuite {
  private val mainAllowed = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_PASSES", "GRAFT_ARTIFACT_ROOT")
  private val buildAllowed = Set("SPARK_DRIVER_MEM")
  // the durable artifact root (ArtifactStoreSpec exercises it)
  private val propsAllowed = Set("graft.artifact.root")

  // an env read whose name is a string literal (a concatenation such
  // as "A_" + x is not: it counts as a non-literal read)
  private val named =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"\s*[,)]""".r
  // any env access at all
  private val anyRead = """sys\.env\b|System\.getenv\b""".r

  // a system-property read whose name is a string literal
  private val namedProp =
    """(?:sys\.props(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getProperty)\(\s*"([A-Za-z0-9_.]+)"\s*[,)]""".r
  // any system-property access at all
  private val anyProp =
    """sys\.props\b|System\.getPropert(?:y|ies)\b""".r

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** The names a file reads through `named`; fails if it reads through
    * `any` in a form the scan cannot name (a computed key hides the
    * knob). */
  private def readNames(f: File, named: Regex, any: Regex)
      : Set[String] = {
    val text = java.nio.file.Files.readString(f.toPath)
    val names = named.findAllMatchIn(text).map(_.group(1)).toSeq
    val reads = any.findAllIn(text).size
    assert(reads === names.size,
      s"${f.getPath} reads a setting with a non-literal name")
    names.toSet
  }

  private def mainSources: Seq[File] = {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repository root: $root")
    sources(root)
  }

  test("src/main reads only the allowed environment variables") {
    val found = mainSources.flatMap(readNames(_, named, anyRead)).toSet
    assert(found === mainAllowed)
  }

  test("src/main reads only the allowed system properties") {
    val found = mainSources.flatMap(readNames(_, namedProp, anyProp))
      .toSet
    assert(found === propsAllowed)
  }

  test("build.sbt reads only the allowed environment variables") {
    val build = new File("build.sbt")
    assert(build.isFile, s"run from the repository root: $build")
    assert(readNames(build, named, anyRead) === buildAllowed)
  }
}
