package graft.util

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  private val samples = Seq("", "plain", "quote\"q", "back\\slash\\", "new\nline",
    "tab\tcr\r", "ctl\u0001\u001f", "del\u007f nel\u0085 ls\u2028 ps\u2029",
    "h\u00e9llo w\u00f6rld \u4e16\u754c \ud83d\ude00", "\\u000a is text")

  test("unstr inverts str") {
    samples.foreach(s => assert(Json.unstr(Json.str(s)) == s, s))
  }

  test("str: short escapes for quote, backslash, \\n \\r \\t; other controls as \\u00XX") {
    assert(Json.str("a\"b\\c\nd\re\tf\u0001g\u007f") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u007f\"")
    assert(Json.str("h\u00e9llo") == "\"h\u00e9llo\"") // non-ASCII text stays raw
  }

  test("unstr reads every JSON escape, including the \\u000a form older manifests hold") {
    assert(Json.unstr("\"a\\u000ab\"") == "a\nb")
    assert(Json.unstr("\"\\/\\b\\f\\u00e9\\\"\"") == "/\b\f\u00e9\"")
    Seq("a", "\"a", "\"a\\q\"", "\"a\\\"", "\"\\u00\"").foreach { bad =>
      intercept[IllegalArgumentException](Json.unstr(bad))
    }
  }

  test("str output reads back unchanged through the YAML parser bookmark state uses") {
    val yaml = new org.yaml.snakeyaml.Yaml()
    samples.foreach { s =>
      val m = yaml.load[java.util.Map[String, Any]](s"{${Json.str(s)}: 1}")
      assert(m.keySet().iterator().next() == s, s)
    }
  }
}
