package graft.logs

import java.util.regex.Pattern

/** Hand-rolled tokenizer for the S3 access-log grammar over a line's UTF-8
  * bytes, with a regex fallback — the tokenizer under the parse kernel
  * ([[graft.functions.ParseAccessLog]] and the `accesslog` file format)
  * and the `parse_log_line` SQL function.
  *
  * The 18-group pattern ([[LogLineParser.Pattern]]) is structurally simple:
  * space-separated tokens of three shapes (`\S+` runs, one `\[[^\]]*\]`
  * bracket field, three `("[^"]*"|-)` quoted-or-dash fields, one final
  * single-char field). For a line in this common shape the generic regex
  * engine's work — decoding the bytes to a `String`, alternation dispatch,
  * per-group position bookkeeping, backtracking machinery — is pure
  * overhead; a direct left-to-right walk over the bytes yields the same
  * capture groups as byte ranges.
  *
  * EXACTNESS ARGUMENT (why walk success implies regex equality): the regex
  * runs on the line decoded as UTF-8. The walk accepts only well-formed
  * UTF-8 (any malformed sequence, which decoding would turn into U+FFFD,
  * bails), so its bytes and the decoded string are the same code points,
  * and Java's `\s` is six ASCII characters, so every non-ASCII code point
  * is `\S`. A `find()` match must start with `\S`, so the earliest
  * candidate start is the first non-space character — where the walk
  * starts. From there the regex engine's first-attempted path IS the walk:
  * `\S+` is maximal (no in-token backtrack can succeed: every shorter
  * prefix is followed by a non-space, and the pattern requires a literal
  * space), `[^\]]*` / `[^"]*` cannot cross their closing delimiter, the two
  * branches of the quoted-or-dash alternation are mutually exclusive on
  * their first character, and `(\S)` takes one whole code point. A fully
  * successful walk is therefore exactly the leftmost greedy match the
  * engine would return. On ANY deviation — double separators, tabs,
  * unterminated quotes, too few fields, matches that could only start
  * mid-line, malformed UTF-8 — the walk returns false and the caller runs
  * the real regex, preserving `Matcher.find` semantics bit-for-bit
  * (property-checked in LogLineTokenizerSpec).
  */
object LogLineTokenizer {

  private val CompiledPattern: Pattern = Pattern.compile(LogLineParser.Pattern)

  val NumGroups = 18

  /** Field shapes, pattern order: s = `\S+` token, b = bracket field,
    * q = quoted-or-dash, 1 = single non-space char.
    */
  private val Kinds: Array[Char] =
    "ssbsssssqssssssqq1".toCharArray

  /** Java regex `\s` (no UNICODE_CHARACTER_CLASS): space and 0x09..0x0D. */
  @inline def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** The 18 capture groups of the leftmost match, or null if the line has
    * no match anywhere (the corrupt-record path).
    */
  def regexGroups(line: String): Array[String] = {
    val m = CompiledPattern.matcher(line)
    if (!m.find()) return null
    val out = new Array[String](NumGroups)
    var i = 0
    while (i < NumGroups) { out(i) = m.group(i + 1); i += 1 }
    out
  }

  @inline private def isCont(b: Byte): Boolean = (b & 0xC0) == 0x80

  /** Length of the well-formed multi-byte UTF-8 sequence starting at
    * `buf(i)` (a byte >= 0x80), or 0 when it is malformed: a stray
    * continuation byte, an overlong form, a surrogate, a value above
    * U+10FFFF, or a sequence cut short by `n` — exactly what Java's decoder
    * replaces with U+FFFD.
    */
  private def seqLen(buf: Array[Byte], i: Int, n: Int): Int = {
    val b0 = buf(i) & 0xFF
    if (b0 < 0xC2 || b0 > 0xF4) 0
    else if (b0 < 0xE0) { if (i + 1 < n && isCont(buf(i + 1))) 2 else 0 }
    else {
      val len = if (b0 < 0xF0) 3 else 4
      if (i + len > n) return 0
      val b1 = buf(i + 1) & 0xFF
      val lo = if (b0 == 0xE0) 0xA0 else if (b0 == 0xF0) 0x90 else 0x80
      val hi = if (b0 == 0xED) 0x9F else if (b0 == 0xF4) 0x8F else 0xBF
      if (b1 < lo || b1 > hi || !isCont(buf(i + 2))) 0
      else if (len == 4 && !isCont(buf(i + 3))) 0
      else len
    }
  }

  /** Walk `buf(0 until n)`; on success fill `bounds` with each group's
    * `[start, end)` byte range (`bounds(2f)`, `bounds(2f + 1)` for group `f`)
    * and return true. False on any shape deviation or malformed UTF-8 — the
    * caller then runs [[regexGroups]] on the decoded line.
    */
  def walk(buf: Array[Byte], n: Int, bounds: Array[Int]): Boolean = {
    var i = 0
    while (i < n && isSpace(buf(i))) i += 1
    // advance past one code point that is not `delim` (or `\s` when
    // `delim` is 0): -1 when the byte at `i` ends the run, -2 when it
    // starts a malformed sequence
    @inline def step(i: Int, delim: Byte): Int = {
      val b = buf(i)
      if (b >= 0) { if (if (delim == 0) isSpace(b) else b == delim) -1 else i + 1 }
      else { val l = seqLen(buf, i, n); if (l == 0) -2 else i + l }
    }
    var f = 0
    while (f < NumGroups) {
      if (i >= n) return false
      val start = i
      (Kinds(f): @annotation.switch) match {
        case 's' =>
          var j = step(i, 0)
          while (j >= 0) { i = j; j = if (i < n) step(i, 0) else -1 }
          if (j == -2 || i == start) return false
        case 'b' | 'q' =>
          val bracket = Kinds(f) == 'b'
          if (buf(i) == (if (bracket) '[' else '"')) {
            val close: Byte = if (bracket) ']' else '"'
            i += 1
            var j = if (i < n) step(i, close) else -1
            while (j >= 0) { i = j; j = if (i < n) step(i, close) else -1 }
            if (j == -2 || i >= n) return false
            i += 1
          } else if (!bracket && buf(i) == '-') i += 1
          else return false
        case '1' =>
          i = step(i, 0)
          if (i < 0) return false
      }
      bounds(2 * f) = start
      bounds(2 * f + 1) = i
      // exactly one literal-space separator between fields (none required
      // after the last: the pattern is unanchored at both ends)
      if (f < NumGroups - 1) {
        if (i >= n || buf(i) != ' ') return false
        i += 1
      }
      f += 1
    }
    true
  }
}
