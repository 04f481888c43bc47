package graft

/** Source-text scans for the tests that pin where a call may appear. */
object SourceCode {

  /** `src` without its comments; string literals kept, so a call
    * inside a comment does not count and one after a "//" URL does. */
  def withoutComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < src.length)
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        var stop = if (end < 0) src.length else end + 3
        while (stop < src.length && src(stop) == '"') stop += 1
        out ++= src.substring(i, stop); i = stop
      } else if (at("'\"'")) {
        out ++= "'\"'"; i += 3
      } else if (src(i) == '"') {
        val start = i
        i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\') i += 1
          i += 1
        }
        i = math.min(i + 1, src.length)
        out ++= src.substring(start, i)
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** The file at `path` (relative to the project root), comments removed. */
  def of(path: String): String = withoutComments(
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
}
