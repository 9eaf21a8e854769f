package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One parquet read path in the engine: every `spark.read...parquet(`
  * in `src/main/scala` goes through `Tables.read`, which takes the
  * schema from a footer instead of starting an inference job. The only
  * other read is q_schema_evolution's `mergeSchema` read, which needs
  * every footer by design.
  */
class ReadPathGuardSpec extends AnyFunSuite {
  private val parquetRead =
    """\.read((\s*\.(option|options|schema)\([^)]*\))*)\s*\.(parquet\(|format\("parquet"\))""".r

  test("src/main reads parquet only through Tables.read") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { (f: Path) =>
        val src = new String(Files.readAllBytes(f), "UTF-8")
        parquetRead.findAllMatchIn(src).collect {
          case m if !allowed(f, m.group(1)) =>
            s"$f:${src.take(m.start).count(_ == '\n') + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"parquet read outside Tables.read: ${offenders.mkString(", ")}")
  }

  private def allowed(f: Path, options: String): Boolean =
    f.endsWith(Paths.get("graft/Tables.scala")) ||
      (f.endsWith(Paths.get("graft/board/Lifecycle.scala")) &&
         options.contains("\"mergeSchema\", \"true\""))
}
