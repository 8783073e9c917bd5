package graft.logs

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The byte walk must agree with the regex on EVERY input: identical
  * groups when it claims a match, and a bail (false) whenever the line is
  * anything but the common shape — in which case the regex fallback
  * defines the answer. Checked on adversarial fixtures and seeded fuzz.
  */
class LogLineTokenizerSpec extends AnyFunSuite {

  import LogLineFuzz.canonical

  private def viaRegex(s: String) = Option(LogLineTokenizer.regexGroups(s)).map(_.toSeq)

  /** The walk's groups decoded back to strings, None when it bails. */
  private def viaWalk(bytes: Array[Byte]): Option[Seq[String]] = {
    val bounds = new Array[Int](2 * LogLineTokenizer.NumGroups)
    if (!LogLineTokenizer.walk(bytes, bytes.length, bounds)) None
    else Some((0 until LogLineTokenizer.NumGroups).map(f =>
      new String(bytes, bounds(2 * f), bounds(2 * f + 1) - bounds(2 * f), UTF_8)))
  }

  /** Walk, else regex — what the kernel does. */
  private def viaApi(s: String) = viaWalk(s.getBytes(UTF_8)).orElse(viaRegex(s))

  private val adversarial = Seq(
    canonical,
    "   " + canonical,                         // leading spaces
    canonical + "   trailing junk",            // trailing content after version
    canonical.replace(" 200 ", "  200 "),      // double separator
    canonical.replace(" 200 ", " 200\t"),      // tab separator
    canonical.replace("\"GET /k HTTP/1.1\"", "\"unterminated"),
    canonical.replace("\"GET /k HTTP/1.1\"", "-"),   // dash request
    canonical.replace("\"GET /k HTTP/1.1\"", "-x"),  // dash-prefixed token
    canonical.replace("[06/Feb/2019:00:00:38 +0000]", "[no close"),
    canonical.replace("[06/Feb/2019:00:00:38 +0000]", "[]"),
    canonical.replace(" V", " VERSIONLONG"),   // multi-char tail token
    canonical.dropRight(2),                    // version char missing
    "garbage\twith\ttabs " + canonical,        // valid match starts mid-line
    "a b c d",                                 // too few fields
    "", " ", "-", "\"\"",
    canonical.replace("\"agent x/1.0\"", "\"\""),   // empty quotes
    canonical.replace("RID7", "R\"I[D]7"),     // quotes/brackets inside \S+ token
    canonical + " " + canonical,               // two lines' worth of tokens
    canonical.replace(" V", " \uD83D\uDE00"),  // supplementary version char
    canonical.replace(" V", " \uD83D\uDE00x"), // ... followed by more text
    canonical.replace(" V", " \u00E9"),        // 2-byte version char
    canonical.replace("k/p", "k/\u00FCber/\u6587\uD83D\uDE00"), // non-ASCII key
    canonical.replace("agent x", "\u00A0agent\u2028x"), // non-ASCII spaces are \S
    canonical.replace(" 200 ", " 200\u0085 ")  // NEL is \S to Java regex
  )

  test("fast walk + fallback equals pure regex on adversarial shapes") {
    adversarial.foreach { line =>
      assert(viaApi(line) == viaRegex(line), s"line: <$line>")
    }
  }

  test("fast walk succeeds on the canonical shape (no fallback day-to-day)") {
    assert(viaWalk(canonical.getBytes(UTF_8)) == viaRegex(canonical))
    val emoji = canonical.replace(" V", " \uD83D\uDE00")
    assert(viaWalk(emoji.getBytes(UTF_8)).map(_.last) == Some("\uD83D\uDE00"),
      "the single-char version field takes the whole code point")
  }

  test("malformed UTF-8 bails to the regex over the decoded line") {
    val ascii = canonical.getBytes(UTF_8)
    val at = canonical.indexOf("k/p") + 1
    Seq(Array(0x80), Array(0xC0, 0x80), Array(0xED, 0xA0, 0x80), Array(0xF4, 0x90, 0x80, 0x80),
        Array(0xE2, 0x82)).foreach { bad =>
      val bytes = ascii.take(at) ++ bad.map(_.toByte) ++ ascii.drop(at)
      assert(viaWalk(bytes).isEmpty, bad.mkString(","))
    }
    // a lone lead byte as the version char
    assert(viaWalk(ascii.dropRight(1) :+ 0xF0.toByte).isEmpty)
  }

  test("fuzz: 20k seeded random mutations never diverge from the regex") {
    LogLineFuzz.mutations(20000, 7).foreach { line =>
      assert(viaApi(line) == viaRegex(line), s"line: <$line>")
    }
  }
}
