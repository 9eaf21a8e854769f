package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No engine code that only specs reach. Every top-level `object`,
  * `class` and `trait` in `src/main/scala`, and every `def` declared
  * directly in a top-level object that is neither `private` nor
  * `override`, must be named in `src/main/scala` outside a declaration
  * of that name and outside comments, or in `graftbench/src`. The
  * engine's traffic (board cases, fuzz families, tools, stores and the
  * graftbench workloads) all starts there, so a name only a spec
  * mentions is code that traffic never runs. An object with a `main` is
  * a tool, reached from the command line.
  *
  * The scan is textual: a name shared with an unrelated member counts as
  * reached. Source files are laid out with top-level declarations at
  * column 0 and their members at two spaces.
  */
class SurfaceGuardSpec extends AnyFunSuite {

  /** Reached only from specs, and kept. */
  private val allowed = Map(
    "cosineHof" ->
      "higher-order-function twin that pins the native cosine kernel",
    "lshBucketHof" ->
      "higher-order-function twin that pins the native LSH bucket kernel",
    "pqDistortion" ->
      "the objective PqSpec and IvfPqSpec check PQ training lowers",
    "logLoss" ->
      "the objective QualityClassifierSpec checks classifier training lowers",
    "entry" ->
      "SparkEntry's smoke query: the driver contract, called from outside")

  /** Reached only from specs, and not yet deleted: each goes with its
    * spec cases in a later change (ROADMAP "Delete what nothing calls").
    * The list only shrinks: an entry the scan no longer flags fails.
    */
  private val scheduled = Map(
    "dedupStream" ->
      "StreamRestartSpec, StreamRestartFuzzSpec, SkewStreamSpec",
    "contaminationStream" -> "CurationOpsSpec",
    "blocklistScreened" -> "CurationRulesSpec",
    "curateStream" -> "CorpusPipelineSpec",
    "probeWith" -> "MinhashIndexSpec",
    "dedupKeyedFirstRow" -> "TextDedupSpec",
    "containmentPairsFromSets" -> "NgramPropertySpec, EdgeCaseSpec",
    "saveIndexPq" -> "IvfPqSpec, ParquetReadSpec",
    "loadIndexPq" -> "IvfPqSpec",
    "indexIsResidual" -> "IvfPqSpec, ParquetReadSpec")

  private val topLevel =
    """^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*(object|class|trait)\s+(\w+)""".r
  private val member =
    """^  ((?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|override|final|implicit|@\w+)\s+)*)def\s+(\w+)""".r

  /** The source with its comments blanked; newlines and string literals
    * stay, so line numbers hold and a comment marker in a string is text.
    */
  private def code(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def copyTo(end: Int): Unit = {
      val e = math.min(end, src.length); out ++= src.substring(i, e); i = e
    }
    while (i < src.length) {
      if (at("\"\"\"")) {
        val e = src.indexOf("\"\"\"", i + 3)
        copyTo(if (e < 0) src.length else e + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        copyTo(j + 1)
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        copyTo(i + 3) // a char literal such as '"'
      } else if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1; i += 2 // block comments nest, as scalac reads them
        while (i < src.length && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private def sources(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map(f => f -> code(new String(Files.readAllBytes(f), "UTF-8")))
  }

  /** (file:line, name) of every declaration the guard covers. */
  private def covered(files: Seq[(Path, String)]): Seq[(String, String)] = {
    // (file:line, name, the top-level object a member is declared in)
    val decls = files.flatMap { case (f, src) =>
      var owner: Option[String] = None
      src.split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, i) =>
        val at = s"$f:${i + 1}"
        topLevel.findPrefixMatchOf(line) match {
          case Some(m) =>
            owner = Some(m.group(2)).filter(_ => m.group(1) == "object")
            Seq((at, m.group(2), None))
          case None => member.findPrefixMatchOf(line) match {
            case Some(m) if owner.isDefined &&
                              !m.group(1).contains("private") &&
                              !m.group(1).contains("override") =>
              Seq((at, m.group(2), owner))
            case _ => Nil
          }
        }
      }
    }
    val tools = decls.collect { case (_, "main", Some(o)) => o }.toSet
    decls.collect {
      case (at, name, None) if !tools(name) => at -> name
      case (at, name, Some(_)) if name != "main" => at -> name
    }
  }

  /** The covered names nothing outside a spec mentions. */
  private def unreached(): Map[String, String] = {
    val main = sources("src/main/scala")
    val mainText = main.map(_._2).mkString("\n")
    val benchText = sources("graftbench/src").map(_._2).mkString("\n")
    def count(re: String, text: String) = re.r.findAllMatchIn(text).size
    covered(main).collect {
      case (at, name) if {
        val q = java.util.regex.Pattern.quote(name)
        val uses = count(s"\\b$q\\b", mainText) -
          count(s"\\b(?:def|object|class|trait)\\s+$q\\b", mainText)
        uses == 0 && count(s"\\b$q\\b", benchText) == 0
      } => name -> at
    }.toMap
  }

  test("src/main declares nothing that only specs reach") {
    val found = unreached()
    val offenders = (found -- allowed.keys -- scheduled.keys).toSeq.sorted
    assert(offenders.isEmpty,
      "reached only from specs: " +
        offenders.map { case (n, at) => s"$n ($at)" }.mkString(", "))
    val stale = (allowed.keySet ++ scheduled.keySet -- found.keySet).toSeq
    assert(stale.isEmpty,
      s"listed but reached or gone, drop from the list: ${stale.sorted}")
  }
}
