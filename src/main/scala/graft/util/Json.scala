package graft.util

/** The one JSON string codec behind every hand-rendered JSON file and line
  * graft writes: log events, Bench's result line, `oracle_sql.json`,
  * versioned-table manifests and stats sidecars, materialized-view state,
  * generation pointers, sink manifests, `_graft_metrics.json` and bookmark
  * state — and the readers for the state files graft parses back:
  * [[read]] for manifests, rebase markers, materialized-view state,
  * generation pointers and CDC offsets, [[rawObjects]] for stats
  * sidecars. */
object Json {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

  private val mapper = new ObjectMapper()

  /** `text` as a JSON tree (Jackson's). An empty text is a missing node,
    * whose fields are all absent; malformed JSON throws an IOException. */
  def read(text: String): JsonNode = mapper.readTree(text)

  /** The string field `key` of the object `n`, if present. */
  def string(n: JsonNode, key: String): Option[String] =
    Option(n.get(key)).filter(_.isTextual).map(_.textValue)

  /** The integer field `key` of the object `n`, if present. */
  def long(n: JsonNode, key: String): Option[Long] =
    Option(n.get(key)).filter(_.isIntegralNumber).map(_.longValue)

  /** The flat JSON objects `text` holds one after another (JSON Lines),
    * each as its members in order, every value as the exact text of its
    * token: a number as written (`1000` stays `1000`, `-0.0` keeps its
    * sign, a 25-digit decimal keeps every digit), a string quoted and
    * escaped as written, `null` as itself. Malformed JSON, or a value
    * that is an object or an array, throws an IOException. */
  private[graft] def rawObjects(text: String): Seq[Seq[(String, String)]] = {
    import com.fasterxml.jackson.core.JsonToken._
    val p = mapper.getFactory.createParser(text)
    def fail(what: String) = throw new java.io.IOException(
      s"$what at offset ${p.currentTokenLocation.getCharOffset}: ${text.take(200)}")
    try Iterator.continually(p.nextToken()).takeWhile(_ != null).map { t =>
      if (t != START_OBJECT) fail("not a JSON object")
      Iterator.continually(p.nextToken()).takeWhile(_ != END_OBJECT).map { _ =>
        val key = p.currentName
        p.nextToken() match {
          case VALUE_STRING =>
            // the token's own text, from its opening quote to its closing one
            val start = p.currentTokenLocation.getCharOffset.toInt
            p.getText: Unit // decodes the string: a malformed escape throws here
            var end = start + 1
            while (text.charAt(end) != '"') end += (if (text.charAt(end) == '\\') 2 else 1)
            key -> text.substring(start, end + 1)
          case START_OBJECT | START_ARRAY => fail(s"nested value for '$key'")
          case _ => key -> p.getText
        }
      }.toVector
    }.toVector
    finally p.close()
  }

  /** `s` as a quoted JSON string: `\"`, `\\`, `\n`, `\r`, `\t`, and every
    * other control character as `\u00XX`. The line and paragraph
    * separators are escaped too: bookmark state is read back by a YAML
    * parser, which rejects raw C0/C1 controls and folds raw line breaks. */
  def str(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if Character.isISOControl(c) || c == '\u2028' || c == '\u2029' =>
        sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** The string a quoted JSON token encodes. Accepts every JSON escape,
    * so files written with `\u000a` for a newline read back unchanged. */
  def unstr(tok: String): String = {
    require(tok.length >= 2 && tok.head == '"' && tok.last == '"',
      s"not a JSON string token: $tok")
    val sb = new java.lang.StringBuilder(tok.length)
    var i = 1
    while (i < tok.length - 1) {
      val c = tok.charAt(i)
      if (c != '\\') { sb.append(c); i += 1 }
      else {
        require(i + 1 < tok.length - 1, s"dangling escape in JSON string: $tok")
        tok.charAt(i + 1) match {
          case 'u' =>
            require(i + 6 <= tok.length - 1, s"short \\u escape in JSON string: $tok")
            sb.append(Integer.parseInt(tok.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case e =>
            sb.append(e match {
              case '"' => '"'; case '\\' => '\\'; case '/' => '/'
              case 'b' => '\b'; case 'f' => '\f'; case 'n' => '\n'
              case 'r' => '\r'; case 't' => '\t'
              case other => throw new IllegalArgumentException(
                s"bad escape \\$other in JSON string: $tok")
            })
            i += 2
        }
      }
    }
    sb.toString
  }
}
