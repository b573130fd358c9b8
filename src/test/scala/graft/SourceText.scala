package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** src/main's Scala sources read as code, for the source guards. */
object SourceText {

  /** `src` with comments and string literals blanked, line breaks kept
    * (so line numbers still match the file); interpolated `$x` and
    * `${...}` are kept, since the oracle CTE helpers are referenced only
    * from inside SQL strings. */
  def strip(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def identChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      if (at("//")) while (i < n && src(i) != '\n') i += 1
      else if (at("/*")) {
        var depth = 1; i += 2
        while (i < n && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (src(i) == '"') {
        val interp = i > 0 && identChar(src(i - 1))
        val q = if (at("\"\"\"")) "\"\"\"" else "\""
        i += q.length
        out ++= "\"\""
        while (i < n && !at(q)) {
          if (interp && at("$$")) i += 2
          else if (interp && at("${")) {
            var depth = 1; var j = i + 2
            while (j < n && depth > 0) {
              if (src(j) == '{') depth += 1 else if (src(j) == '}') depth -= 1
              j += 1
            }
            out ++= " " + src.substring(i + 2, j - 1) + " "; i = j
          } else if (interp && src(i) == '$' && i + 1 < n &&
              (src(i + 1).isLetter || src(i + 1) == '_')) {
            var j = i + 1
            while (j < n && identChar(src(j))) j += 1
            out ++= " " + src.substring(i + 1, j) + " "; i = j
          } else if (src(i) == '\\' && q == "\"") i += 2
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
        i += q.length
        if (q.length == 3) while (i < n && src(i) == '"') i += 1
      } else if (src(i) == '\'' && i + 2 < n && src(i + 1) != '\\' &&
          src(i + 2) == '\'') i += 3
      else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' &&
          src(i + 3) == '\'') i += 4
      else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** Every src/main Scala file with its raw text and its [[strip]]ped code. */
  lazy val mainSources: List[(Path, String, String)] =
    scala.util.Using.resource(Files.walk(Paths.get("src/main/scala"))) { w =>
      w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    }.map { f => val raw = Files.readString(f); (f, raw, strip(raw)) }

  /** Every src/main Scala file with its stripped code. */
  def mainCode: List[(Path, String)] = mainSources.map(t => t._1 -> t._3)
}
