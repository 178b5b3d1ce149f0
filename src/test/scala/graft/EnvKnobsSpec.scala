package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Guards the engine's environment surface: every environment variable
  * the build or `src/main` reads is listed here, so a new knob has to
  * show up in review as an edit to this spec. */
class EnvKnobsSpec extends AnyFunSuite {
  private val mainAllowed = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_PASSES", "GRAFT_ARTIFACT_ROOT")
  private val buildAllowed = Set("SPARK_DRIVER_MEM")

  // an env read whose name is a string literal
  private val named =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
  // any env access at all
  private val anyRead = """sys\.env\b|System\.getenv\b""".r

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** The names a file reads; fails if it reads the environment in any
    * form the scan cannot name (a computed key hides the knob). */
  private def envNames(f: File): Set[String] = {
    val text = java.nio.file.Files.readString(f.toPath)
    val names = named.findAllMatchIn(text).map(_.group(1)).toSeq
    val reads = anyRead.findAllIn(text).size
    assert(reads === names.size,
      s"${f.getPath} reads the environment with a non-literal name")
    names.toSet
  }

  test("src/main reads only the allowed environment variables") {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repository root: $root")
    val found = sources(root).flatMap(envNames).toSet
    assert(found === mainAllowed)
  }

  test("build.sbt reads only the allowed environment variables") {
    val build = new File("build.sbt")
    assert(build.isFile, s"run from the repository root: $build")
    assert(envNames(build) === buildAllowed)
  }
}
