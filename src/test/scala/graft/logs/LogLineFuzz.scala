package graft.logs

/** Seeded mutations of one canonical log line: deletions, replacements
  * and insertions drawn from the characters the grammar turns on
  * (separators, quotes, brackets, dashes). Shared by the tokenizer spec
  * (walk vs regex) and the kernel spec (kernel vs the declarative parse).
  */
object LogLineFuzz {

  val canonical =
    """own bkt [06/Feb/2019:00:00:38 +0000] 1.2.3.4 arn:req RID7 REST.GET.OBJECT k/p "GET /k HTTP/1.1" 200 - 512 1024 12 3 "-" "agent x/1.0" V"""

  def mutations(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val chars = Array(' ', '\t', '"', '[', ']', '-', 'x', '\u000B')
    def mutate(s: String): String = {
      if (s.isEmpty) return canonical
      val i = rnd.nextInt(s.length)
      rnd.nextInt(3) match {
        case 0 => s.substring(0, i) + s.substring(i + 1)              // delete
        case 1 => s.updated(i, chars(rnd.nextInt(chars.length)))      // replace
        case 2 => s.substring(0, i) + chars(rnd.nextInt(chars.length)) + s.substring(i)
      }
    }
    (1 to n).map { _ =>
      var line = canonical
      (0 until 1 + rnd.nextInt(4)).foreach(_ => line = mutate(line))
      line
    }
  }
}
