package graft.functions

import scala.collection.immutable.ListMap

/** Scala ports of the reference's semi-structured text operators with
  * exact Python-parity semantics (SURVEY.md §2.7 F4–F10, §8 Q3/Q6/Q11).
  * Pure functions — usable driver-side or inside UDFs/`mapPartitions`.
  */
object AgentText {

  // ------------------------------------------------------------------ F4
  /** Lenient JSON value model for [[parseJson5ish]]. */
  sealed trait JVal
  final case class JObj(fields: ListMap[String, JVal]) extends JVal
  final case class JArr(items: Vector[JVal]) extends JVal
  final case class JStr(s: String) extends JVal
  final case class JNum(d: Double) extends JVal
  final case class JBool(b: Boolean) extends JVal
  case object JNull extends JVal

  /** json5-ish parser covering the leniencies the reference depends on
    * (`utils.py:152` uses json5.loads): single-quoted strings, unquoted
    * identifier keys, trailing commas, plus standard JSON. */
  def parseJson5ish(text: String): Option[JVal] = {
    val p = new Json5Parser(text)
    try {
      val v = p.parseValue()
      p.skipWs()
      if (p.atEnd) Some(v) else None
    } catch { case _: Exception => None }
  }

  private final class Json5Parser(s: String) {
    private var i = 0
    def atEnd: Boolean = i >= s.length
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def fail() = throw new IllegalArgumentException(s"bad json at $i")
    private def peek: Char = { if (atEnd) fail(); s.charAt(i) }
    private def eat(c: Char): Unit = { if (atEnd || s.charAt(i) != c) fail(); i += 1 }

    def parseValue(): JVal = {
      skipWs()
      peek match {
        case '{' => parseObj()
        case '[' => parseArr()
        case '"' | '\'' => JStr(parseString())
        case c if c == 't' && s.startsWith("true", i) => i += 4; JBool(true)
        case c if c == 'f' && s.startsWith("false", i) => i += 5; JBool(false)
        case c if c == 'n' && s.startsWith("null", i) => i += 4; JNull
        case c if c == '-' || c == '+' || c.isDigit || c == '.' => parseNum()
        case _ => fail()
      }
    }

    private def parseObj(): JObj = {
      eat('{'); skipWs()
      var fields = ListMap.empty[String, JVal]
      if (!atEnd && peek == '}') { i += 1; return JObj(fields) }
      var done = false
      while (!done) {
        skipWs()
        val k = peek match {
          case '"' | '\'' => parseString()
          case c if c.isLetter || c == '_' || c == '$' => parseIdent()
          case _ => fail()
        }
        skipWs(); eat(':')
        val v = parseValue()
        fields = fields.updated(k, v)
        skipWs()
        peek match {
          case ',' =>
            i += 1; skipWs()
            if (!atEnd && peek == '}') { i += 1; done = true } // trailing comma
          case '}' => i += 1; done = true
          case _ => fail()
        }
      }
      JObj(fields)
    }

    private def parseArr(): JArr = {
      eat('['); skipWs()
      var items = Vector.empty[JVal]
      if (!atEnd && peek == ']') { i += 1; return JArr(items) }
      var done = false
      while (!done) {
        items :+= parseValue()
        skipWs()
        peek match {
          case ',' =>
            i += 1; skipWs()
            if (!atEnd && peek == ']') { i += 1; done = true } // trailing comma
          case ']' => i += 1; done = true
          case _ => fail()
        }
      }
      JArr(items)
    }

    private def parseIdent(): String = {
      val start = i
      while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' || s.charAt(i) == '$')) i += 1
      s.substring(start, i)
    }

    private def parseString(): String = {
      val quote = peek; eat(quote)
      val sb = new StringBuilder
      while (!atEnd && peek != quote) {
        val c = peek
        if (c == '\\') {
          i += 1
          val e = peek
          i += 1
          sb += (e match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case 'b' => '\b'; case 'f' => '\f'
            case 'u' =>
              val hex = s.substring(i, i + 4); i += 4
              Integer.parseInt(hex, 16).toChar
            case other => other
          })
        } else { sb += c; i += 1 }
      }
      eat(quote)
      sb.toString
    }

    private def parseNum(): JNum = {
      val start = i
      if (peek == '-' || peek == '+') i += 1
      while (i < s.length && (s.charAt(i).isDigit || "eE+-.".contains(s.charAt(i)))) i += 1
      JNum(s.substring(start, i).toDouble)
    }
  }

  /** `split_content_and_json` (utils.py:138-163, quirk Q6): scan all
    * triple-backtick fence positions; for each adjacent pair, strip ALL
    * newlines inside the fence, trim to the first `{`/`[`, drop a
    * leading language tag, parse leniently; on the first successful
    * non-empty dict, remove the span from the content. Fallback: parse
    * the entire text. Returns (remaining content, parsed dict or None).
    */
  def splitContentAndJson(text: String): (String, Option[JObj]) = {
    val (content, data) = splitContentAndJsonVal(text)
    (content, data.collect { case o: JObj if o.fields.nonEmpty => o })
  }

  /** "len(data)" as the reference's Python computes it; the reference
    * raises TypeError on unsized values (numbers, booleans, null) at
    * its `len(data) < 1` check — those count as empty here. */
  private def jsonLen(v: JVal): Int = v match {
    case JObj(f) => f.size
    case JArr(items) => items.size
    case JStr(s) => s.length
    case _ => 0
  }

  /** Full reference semantics, including fenced top-level arrays: the
    * loop keeps ANY successfully parsed value (updating content to the
    * fence-stripped text), resets both on a parse failure, and breaks
    * early only on a non-empty object. A fenced non-empty array that
    * survives to the end of the scan is therefore returned with its
    * span removed — matching utils.py split_content_and_json exactly.
    * The returned Option is Some(v) iff the reference's final
    * `len(data)` would be ≥ 1. */
  def splitContentAndJsonVal(text: String): (String, Option[JVal]) = {
    val fencePos = "```".r.findAllMatchIn(text).map(_.start).toVector
    val langTags = Seq("html", "css", "python", "javascript", "json", "xml")
    var content = text
    var data: Option[JVal] = None
    var idx = 0
    var broke = false
    while (idx < fencePos.length - 1 && !broke) {
      val dataStart = fencePos(idx)
      val dataEnd = fencePos(idx + 1)
      var jsonText = text.substring(dataStart + 3, dataEnd)
        .replace("\n", "").replace("\r", "").trim
      val objStart = jsonText.indexOf('{')
      val listStart = jsonText.indexOf('[')
      val start =
        if (listStart >= 0 && (objStart < 0 || listStart < objStart)) listStart
        else objStart
      if (start >= 0) jsonText = jsonText.substring(start)
      langTags.find(jsonText.startsWith).foreach { tag =>
        jsonText = jsonText.substring(tag.length).trim
      }
      parseJson5ish(jsonText) match {
        case Some(v) =>
          data = Some(v)
          content = text.substring(0, dataStart).trim + "\n" +
            text.substring(math.min(text.length, dataEnd + 3)).trim
        case None =>
          content = text
          data = None
      }
      data match {
        case Some(o: JObj) if o.fields.nonEmpty => broke = true
        case _ => ()
      }
      idx += 1
    }
    if (!data.exists(jsonLen(_) >= 1)) {
      // Whole-text fallback updates data only — content keeps whatever
      // state the loop left (the reference does the same).
      data = parseJson5ish(text)
    }
    (content, data.filter(jsonLen(_) >= 1))
  }

  /** Canonical JSON rendering of a parsed value (strict-JSON output,
    * whole numbers without a fraction). */
  def renderJson(v: JVal): String = v match {
    case JObj(f) => f.map { case (k, x) => "\"" + escapeJson(k) + "\": " + renderJson(x) }
      .mkString("{", ", ", "}")
    case JArr(items) => items.map(renderJson).mkString("[", ", ", "]")
    case JStr(s) => "\"" + escapeJson(s) + "\""
    case JNum(d) => if (d == math.floor(d) && !d.isInfinite) d.toLong.toString else d.toString
    case JBool(b) => b.toString
    case JNull => "null"
  }

  /** The body of a JSON string literal for `s` (RFC 8259 §7): quote and
    * backslash escaped, newline, CR and tab in short form, and every
    * other control character below 0x20 as a four-hex-digit unicode
    * escape (lower-case hex). */
  def escapeJson(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.toString
  }

  // ------------------------------------------------------------------ F6
  /** `_extract_content_between_markers` (task.py:263-285, quirk Q11):
    * returns the span INCLUDING both markers; when the end marker is
    * missing, the first 20 LINES from the start marker (or everything
    * if fewer). Empty markers → "". */
  def extractBetweenMarkers(text: String, startMarker: String, endMarker: String): String = {
    if (startMarker.isEmpty || endMarker.isEmpty) return ""
    val startIdx = text.indexOf(startMarker)
    if (startIdx < 0) return ""
    val endIdx = text.indexOf(endMarker, startIdx + startMarker.length)
    if (endIdx < 0) {
      val lines = text.substring(startIdx).split("\n", -1)
      if (lines.length > 20) lines.take(20).mkString("\n")
      else text.substring(startIdx)
    } else text.substring(startIdx, endIdx + endMarker.length)
  }

  // ------------------------------------------------------------------ F7
  /** Python-`float()` parse: trims, case-insensitive nan/inf/infinity
    * with sign, digits/exponent only otherwise (Java's toDouble would
    * also accept "1d"/"0x1p3", which Python rejects). */
  private def pyFloat(value: String): Option[Double] = {
    val t = value.trim
    val body = (if (t.startsWith("+") || t.startsWith("-")) t.tail else t).toLowerCase
    val sign = if (t.startsWith("-")) -1.0 else 1.0
    body match {
      case "nan" => Some(Double.NaN)
      case "inf" | "infinity" => Some(sign * Double.PositiveInfinity)
      case b if b.nonEmpty && b.forall(c => c.isDigit || c == '.' || c == 'e' || c == '+' || c == '-') =>
        try Some(t.toDouble) catch { case _: NumberFormatException => None }
      case _ => None
    }
  }

  /** `is_int_convertible` (utils.py:165-172): float-parse then
    * integrality check — accepts "5.0" (quirk Q3; Spark cast would null). */
  def isIntConvertible(value: String): Boolean =
    pyFloat(value).exists(f => f == math.floor(f) && !f.isInfinite)

  def isFloatConvertible(value: String): Boolean = pyFloat(value).isDefined

  /** `convert_to_boolean` (utils.py:206-244) for STRING inputs: only
    * the word forms convert; numeric strings raise in the reference
    * (the 1/0/1.0 branches fire only for actual int/float values). */
  def convertToBoolean(value: String): Option[Boolean] =
    value.toLowerCase match {
      case "true" | "t" | "yes" | "y" => Some(true)
      case "false" | "f" | "no" | "n" => Some(false)
      case _ => None
    }

  /** `convert_to_boolean` for already-typed numeric values
    * (utils.py:229-240): 1/0 and whole 1.0/0.0 convert. */
  def convertToBoolean(value: Double): Option[Boolean] =
    if (value == 1.0) Some(true) else if (value == 0.0) Some(false) else None

  /** Declared-type coercion (memory.py:218-239): "number" → Long if
    * int-convertible else Double; "boolean"/"string" as the reference.
    * Returns None when the value is invalid for the declared type. */
  def coerceArg(value: String, declaredType: String): Option[Any] =
    declaredType match {
      case "number" =>
        if (isIntConvertible(value)) Some(value.toDouble.toLong)
        else if (isFloatConvertible(value)) Some(value.toDouble)
        else None
      // Reference uses bool(value) — truthiness of a non-empty string —
      // so any string is "valid"; we keep the stricter intended parse
      // visible via convertToBoolean but mirror bool(value) here.
      case "boolean" => Some(value.nonEmpty)
      case _ => Some(value)
    }

  // ------------------------------------------------------------------ F9
  /** `update_title_from_target` (task.py:350-370): first sentence or
    * first 50 chars; drop a leading creation verb; Title-case; clamp 60. */
  def titleFromTarget(target: String): String = {
    val clean = target.trim
    if (clean.isEmpty) return ""
    var title =
      if (clean.contains('.')) clean.split('.').headOption.getOrElse("").trim
      else clean.take(50).trim
    val prefixes = Set("create", "build", "develop", "make", "generate", "write")
    val words = title.toLowerCase.split("\\s+")
    if (words.nonEmpty && prefixes.contains(words.head))
      title = title.split("\\s+").drop(1).mkString(" ")
    if (title.isEmpty) ""
    else pyTitleCase(title.take(60).trim)
  }

  /** Python `str.title()`: any non-letter (digits, punctuation) is a
    * word boundary — the letter after it uppercases, all other letters
    * lowercase. */
  def pyTitleCase(s: String): String = {
    val sb = new StringBuilder(s.length)
    var prevLetter = false
    s.foreach { ch =>
      if (ch.isLetter) {
        sb += (if (prevLetter) ch.toLower else ch.toUpper)
        prevLetter = true
      } else { sb += ch; prevLetter = false }
    }
    sb.toString
  }

  // ------------------------------------------------------------------ F10
  /** Content-type → extension map (task.py:138-156). */
  val extensionMap: Map[String, String] = Map(
    "plan" -> "md", "guide" -> "md", "tutorial" -> "md", "recipe" -> "md",
    "article" -> "md", "report" -> "md", "manual" -> "md",
    "novel" -> "txt", "note" -> "txt", "journal" -> "txt", "poem" -> "txt",
    "story" -> "txt", "dialogue" -> "txt")

  def fileExtension(contentType: String): String =
    extensionMap.getOrElse(contentType.toLowerCase, "txt")

  /** Filename sanitization (task.py:235-239): strip non-word (keeping
    * space/dash), collapse dash/space runs to `_`, clamp 30 + extension. */
  def safeFilename(title: String, contentType: String): String = {
    val safe = title.replaceAll("[^\\w\\s-]", "").trim.replaceAll("[-\\s]+", "_")
    s"${safe.take(30)}.${fileExtension(contentType)}"
  }

  // ------------------------------------------------------------------ F11
  /** `robust_urljoin` (utils.py:17-38): join base and path preserving
    * the base's path segments (no urljoin truncation). */
  def robustUrlJoin(base: String, path: String): String = {
    val u = new java.net.URI(base)
    val basePath = Option(u.getPath).getOrElse("")
    val combined =
      if (basePath.isEmpty || basePath == "/") path
      else basePath.replaceAll("/+$", "") + "/" + path.replaceAll("^/+", "")
    // urlunparse inserts the '/' after the authority; java.net.URI
    // requires it explicitly
    val absolute =
      if (u.getAuthority != null && !combined.startsWith("/")) "/" + combined
      else combined
    new java.net.URI(u.getScheme, u.getAuthority, absolute, u.getQuery, u.getFragment)
      .toString
  }

  // ------------------------------------------------------------------ T3
  /** `truncate_string` (utils.py:246-247). */
  def truncate(s: String, num: Int): String = s.take(num)

  /** Response-summary truncation with ellipsis (task.py:505-509). */
  def summarize(s: String, cap: Int = 200): String =
    if (s.length > cap) s.take(cap) + "..." else s
}
