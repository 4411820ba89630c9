package graft

import graft.functions.AgentText
import graft.functions.AgentText._
import org.scalatest.funsuite.AnyFunSuite

/** Python-parity tests for the semi-structured text suite
  * (reference utils.py:134-244, task.py:263-285,350-370; SURVEY.md §8).
  */
class AgentTextSpec extends AnyFunSuite {

  // ---------------------------------------------------------------- F4/Q6
  test("splitContentAndJson extracts fenced JSON and removes the span") {
    val text = "before\n```json\n{\"a\": 1, \"b\": \"x\"}\n```\nafter"
    val (content, data) = splitContentAndJson(text)
    assert(content == "before\nafter")
    val obj = data.get
    assert(obj.fields("a") == JNum(1.0) && obj.fields("b") == JStr("x"))
  }

  test("splitContentAndJson strips newlines INSIDE the fence before parsing (Q6)") {
    // a string value spanning lines loses its newlines — reference behavior
    val text = "```\n{\"k\": \"a\nb\"}\n```"
    val (_, data) = splitContentAndJson(text)
    assert(data.get.fields("k") == JStr("ab"))
  }

  test("splitContentAndJson accepts json5 leniency: single quotes, trailing commas, bare keys") {
    val text = "```json\n{k: 'v', n: 2,}\n```"
    val (_, data) = splitContentAndJson(text)
    assert(data.get.fields("k") == JStr("v") && data.get.fields("n") == JNum(2.0))
  }

  test("splitContentAndJson falls back to parsing the whole text") {
    val (_, data) = splitContentAndJson("""{"only": "json"}""")
    assert(data.get.fields("only") == JStr("json"))
    assert(splitContentAndJson("no json here")._2.isEmpty)
  }

  test("splitContentAndJson trims to first brace and drops language tags") {
    val text = "```python\n{\"x\": 1}\n```"
    assert(splitContentAndJson(text)._2.get.fields("x") == JNum(1.0))
    val noisy = "```\ngarbage {\"y\": 2}\n```"
    assert(splitContentAndJson(noisy)._2.get.fields("y") == JNum(2.0))
  }

  test("golden G2: fenced json5 with single quotes, trailing commas, stripped newlines") {
    val text = "before\n```\n{'a': 1, \"b\": [1,2,],}\n```\nafter"
    val (content, data) = splitContentAndJson(text)
    assert(content == "before\nafter")
    val o = data.get
    assert(o.fields("a") == JNum(1.0))
    assert(o.fields("b") == JArr(Vector(JNum(1.0), JNum(2.0))))
  }

  test("golden G3: missing end marker returns first 20 lines; <100 chars dropped downstream") {
    val lines = (1 to 25).map(i => s"line$i")
    val text = lines.mkString("\n")
    val got = extractBetweenMarkers(text, "line2", "NO_SUCH_MARKER")
    val gotLines = got.split("\n")
    assert(gotLines.length == 20)
    assert(gotLines.head.startsWith("line2") && gotLines.last == "line21")
  }

  // ---------------------------------------------------------------- F6/Q11
  test("extractBetweenMarkers includes both markers") {
    val t = "aa START body END zz"
    assert(extractBetweenMarkers(t, "START", "END") == "START body END")
  }

  test("extractBetweenMarkers falls back to 20 lines when end marker missing") {
    val t = "pre\nSTART\n" + (1 to 30).map(i => s"line$i").mkString("\n")
    val got = extractBetweenMarkers(t, "START", "MISSING")
    assert(got.split("\n").length == 20)
    assert(got.startsWith("START"))
    // short text → everything from start marker
    val short = "x START a\nb"
    assert(extractBetweenMarkers(short, "START", "NOPE") == "START a\nb")
  }

  test("extractBetweenMarkers empty cases") {
    assert(extractBetweenMarkers("abc", "", "END") == "")
    assert(extractBetweenMarkers("abc", "Q", "END") == "")
  }

  // ---------------------------------------------------------------- F7/Q3
  test("coercion: '5.0' IS int-convertible (Python semantics, not Spark cast)") {
    assert(isIntConvertible("5.0"))
    assert(isIntConvertible("5"))
    assert(!isIntConvertible("5.5"))
    assert(!isIntConvertible("abc"))
    assert(coerceArg("5.0", "number").contains(5L))
    assert(coerceArg("5.5", "number").contains(5.5))
    assert(coerceArg("x", "number").isEmpty)
  }

  test("convertToBoolean: word forms for strings; 1/0 only for numeric values") {
    assert(convertToBoolean("TRUE").contains(true))
    assert(convertToBoolean("y").contains(true))
    assert(convertToBoolean("no").contains(false))
    // numeric STRINGS raise in the reference (only typed ints/floats convert)
    assert(convertToBoolean("1.0").isEmpty)
    assert(convertToBoolean("0").isEmpty)
    assert(convertToBoolean(1.0).contains(true))
    assert(convertToBoolean(0.0).contains(false))
    assert(convertToBoolean(2.0).isEmpty)
    assert(convertToBoolean("maybe").isEmpty)
  }

  // ---------------------------------------------------------------- F9
  test("titleFromTarget: first sentence, verb dropped, Title Case, 60 clamp") {
    assert(titleFromTarget("create a meal plan. with details") == "A Meal Plan")
    assert(titleFromTarget("Write the report") == "The Report")
    assert(titleFromTarget("") == "")
    val long = "x" * 100
    assert(titleFromTarget(long).length <= 60)
  }

  // ---------------------------------------------------------------- F10
  test("safeFilename sanitizes and maps content type to extension") {
    assert(safeFilename("My Plan: v2!", "plan") == "My_Plan_v2.md")
    assert(safeFilename("a b", "unknown") == "a_b.txt")
    assert(safeFilename("x" * 50, "note").startsWith("x" * 30 + "."))
  }

  // ---------------------------------------------------------------- F11
  test("robustUrlJoin preserves base path segments (Python urlunparse parity)") {
    assert(robustUrlJoin("http://h/api/v1", "tools") == "http://h/api/v1/tools")
    assert(robustUrlJoin("http://h/api/v1/", "/tools") == "http://h/api/v1/tools")
    assert(robustUrlJoin("http://h", "x/y") == "http://h/x/y")
    assert(robustUrlJoin("http://h/", "x") == "http://h/x")
  }

  // ---------------------------------------------------------------- T3
  test("summarize caps at 200 with ellipsis") {
    assert(AgentText.summarize("abc") == "abc")
    val long = "y" * 250
    assert(AgentText.summarize(long) == "y" * 200 + "...")
  }

  // ---------------------------------------------------------------- JSON out
  test("escapeJson escapes every control character, so the output parses back") {
    (0 until 0x20).map(_.toChar).foreach { c =>
      val s = "a" + c + "b\"\\"
      val esc = escapeJson(s)
      assert(!esc.exists(_ < ' '), f"raw control char 0x${c.toInt}%02x left in $esc")
      assert(parseJson5ish("\"" + esc + "\"") == Some(JStr(s)), f"0x${c.toInt}%02x")
    }
    assert(escapeJson("\u001b[31m") == "\\u001b[31m")
    assert(escapeJson("a\tb\n") == "a\\tb\\n")
  }
}
