package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IPv4 network analytics: dotted-quad parsing and the LONGEST-PREFIX-
  * MATCH join that enriches a log's `remote_ip` column (the reference
  * schema's field 4, `scripts/oss_s3_server_side_logging_compacter
  * .py:22,106` — every S3 access-log row carries one) with CIDR-table
  * attributes: ASN / geo / office-egress / blocklist ranges.
  *
  * LPM is not an equi-join — a /16 and a /24 can both cover an address
  * and the MOST SPECIFIC must win — and the naive form (`ip BETWEEN
  * net_lo AND net_hi` theta-join, then pick) plans as a range join
  * that degenerates toward probe×nets at 100 TB. Spark-first shape
  * instead: every prefix length is a LITERAL, so each probe row
  * explodes to at most `maxLen − minLen + 1` `(len, ip >> (32−len))`
  * keys map-side, the network table (keyed the same way) broadcasts,
  * and the join is a plain hash equi-join; the most-specific pick is a
  * per-probe struct-min AGGREGATE (partial map-side, ≤ length-domain
  * candidate rows per probe collapse before the exchange). Probe
  * amplification is a CONSTANT factor — bounded by the length domain,
  * not by table sizes — and the corpus never shuffles when the network
  * table broadcasts.
  *
  * All arithmetic is integer (shifts by literal counts), so a DuckDB
  * oracle replays the match bit-for-bit.
  */
object Net {

  /** Dotted-quad IPv4 string → BIGINT in [0, 2^32), NULL when the
    * string is not a valid address (wrong shape, octet > 255, leading
    * signs). Pure codegen expressions — no UDF, ANSI-safe on EVERY
    * eval path: the validity condition contains no cast at all (octet
    * range is checked by zero-padded string comparison, the
    * `Privacy.anonymizeIpv4` idiom — vectorized boolean AND need not
    * short-circuit per row under ANSI, so a cast anywhere in the
    * condition could throw on rows the regex rejects), and the casts
    * in the value branch are reachable only for rows the regex
    * already proved are four 1–3 digit tokens.
    */
  def ipv4ToLong(ip: Column): Column = {
    val parts = split(ip, "\\.")
    val valid = ip.rlike("^[0-9]{1,3}(\\.[0-9]{1,3}){3}$") &&
      !exists(parts, p => lpad(p, 3, "0") > lit("255"))
    val oct = (i: Int) => element_at(parts, i + 1).cast("long")
    when(ip.isNotNull && valid,
      oct(0) * 16777216L + oct(1) * 65536L + oct(2) * 256L + oct(3))
  }

  /** BIGINT in [0, 2^32) → dotted-quad string (the inverse of
    * [[ipv4ToLong]] on valid addresses). NULL outside the range.
    */
  def longToIpv4(n: Column): Column =
    when(n.isNotNull && n >= 0L && n < 4294967296L,
      concat_ws(".",
        (n / 16777216L).cast("long").cast("string"),
        pmod((n / 65536L).cast("long"), lit(256L)).cast("string"),
        pmod((n / 256L).cast("long"), lit(256L)).cast("string"),
        pmod(n, lit(256L)).cast("string")))

  /** RFC-4291 IPv6 text → `struct(hi BIGINT, lo BIGINT)`: the address's
    * two 64-bit halves as signed longs CARRYING THE UNSIGNED BIT
    * PATTERNS (two's complement — group values assemble with bitwise
    * shift/OR, never multiplication, so ANSI overflow is unreachable).
    * NULL when malformed. Accepts the full 8-group form and at most one
    * `::` compression (which must stand for ≥ 1 zero group); embedded
    * dotted-IPv4 tails and zone indexes are out of scope by contract.
    *
    * ANSI-safe on every eval path, the [[ipv4ToLong]] discipline: the
    * validity condition is built from rlike/size/length only (no casts,
    * no element_at), and `conv` runs only on 1–4-hex-digit tokens the
    * condition already admitted.
    */
  def ipv6ToLongs(ip: Column): Column = {
    val sides = split(ip, "::", -1) // "::" is not regex-special here
    val nSides = size(sides)
    def groupsOf(side: Column): Column =
      when(length(side) === 0, array().cast("array<string>"))
        .otherwise(split(side, ":", -1))
    val gl = groupsOf(element_at(sides, 1))
    // groups must be 1-4 hex chars; empty tokens mean stray ':' edges
    def groupsOk(gs: Column): Column =
      !exists(gs, g => length(g) === 0 || length(g) > 4)
    val shaped = ip.rlike("^[0-9a-fA-F:]{2,45}$") && !ip.contains(":::")
    val validFull = nSides === 1 && size(gl) === 8 && groupsOk(gl)
    val grC = groupsOf(element_at(sides, 2))
    val validComp = nSides === 2 && size(gl) + size(grC) <= 7 &&
      groupsOk(gl) && groupsOk(grC)
    val valid = ip.isNotNull && shaped && (validFull || validComp)
    // 8-group long array: left groups ++ zero fill ++ right groups
    val zeros = array_repeat(lit("0"),
      when(nSides === 1, lit(0))
        .otherwise(lit(8) - size(gl) - size(grC)).cast("int"))
    val g8 = concat(gl, zeros,
      when(nSides === 2, grC).otherwise(array().cast("array<string>")))
    def g(i: Int): Column = conv(element_at(g8, i + 1), 16, 10).cast("long")
    def half(a: Int): Column =
      shiftleft(g(a), 48).bitwiseOR(shiftleft(g(a + 1), 32))
        .bitwiseOR(shiftleft(g(a + 2), 16)).bitwiseOR(g(a + 3))
    when(valid, struct(half(0).as("hi"), half(4).as("lo")))
  }

  /** IPv6 half-pair → canonical full-form text (eight 4-hex-digit
    * groups, lowercase, no compression) — the inverse of
    * [[ipv6ToLongs]] up to canonicalization. NULL on NULL input.
    */
  def longsToIpv6(hi: Column, lo: Column): Column = {
    def grp(h: Column, shift: Int): Column =
      lpad(lower(conv(
        pmod(shiftrightunsigned(h, shift), lit(65536L)).cast("string"),
        10, 16)), 4, "0")
    when(hi.isNotNull && lo.isNotNull,
      concat_ws(":",
        grp(hi, 48), grp(hi, 32), grp(hi, 16), grp(hi, 0),
        grp(lo, 48), grp(lo, 32), grp(lo, 16), grp(lo, 0)))
  }

  /** 128-bit longest-prefix-match join — [[longestPrefixJoin]]
    * generalized to IPv6: addresses are `(hi, lo)` half-pairs
    * (unsigned bit patterns in signed longs, [[ipv6ToLongs]] output),
    * `nets` carries integer columns `lenCol` ∈ [minLen, maxLen] ⊆
    * [0, 128] and the prefix halves `(prefixHiCol, prefixLoCol)` =
    * the address's top `len` bits right-aligned:
    * len ≤ 64 → `(hi >>> (64−len), 0)`; len > 64 → `(hi, lo >>>
    * (128−len))` (len 0 → `(0, 0)`). Same plan shape as v4: constant
    * ≤ lens.size map-side probe explode (every shift count is a
    * LITERAL), broadcast hash equi-join on `(len, prefix_hi,
    * prefix_lo)`, per-probe struct-min aggregate (map-side partial),
    * left join back on the unique `idCol`. Ties at equal length break
    * by the ascending sort of the remaining `nets` columns.
    *
    * `lens` is the PRESENT length set, not a range: v6 tables
    * typically carry a handful of prefix lengths out of 129 possible,
    * and probe amplification is `lens.size` — pass the table's actual
    * lengths (a 6-length table explodes 6×, not 129×; at 100 TB that
    * factor is the map-side cost). A net row whose length is OUTSIDE
    * `lens` raises at first action (see [[guardedLen]]) — it could
    * never match an un-exploded key, and silent no-match was the r15
    * ADVICE hazard.
    */
  /** Fail-loud present-length guard (r15 ADVICE): a caller declaring a
    * `lens` set that misses a length actually present in `nets` would
    * silently drop those net rows — they fall out of the equi-join and
    * surface as "no match". The guard rides the (broadcast-side) net
    * projection, so mis-specification raises on the first action
    * instead of corrupting results; it costs one set-membership test
    * per net row, nothing per probe.
    */
  private def guardedLen(len: Column, declared: Seq[Int],
                         fn: String): Column =
    when(len.isin(declared.map(_.toLong): _*), len)
      .otherwise(raise_error(concat(
        lit(s"$fn: net row at prefix length "), len.cast("string"),
        lit(s" outside the declared present-length set " +
          s"${declared.mkString("{", ",", "}")} — its rows could never " +
          "match; pass the table's actual lengths"))))

  def longestPrefixJoin6(probes: DataFrame, idCol: String,
                         hiCol: String, loCol: String,
                         nets: DataFrame, lenCol: String,
                         prefixHiCol: String, prefixLoCol: String,
                         lens: Seq[Int] = 0 to 128): DataFrame = {
    require(lens.nonEmpty && lens.forall(l => 0 <= l && l <= 128),
      s"lens must be a nonempty subset of [0, 128], got $lens")
    require(lens.distinct.size == lens.size, s"duplicate lengths in $lens")
    val netCols = nets.columns
      .filter(c => c != lenCol && c != prefixHiCol && c != prefixLoCol)
    def prefixAt(l: Int, hi: Column, lo: Column): (Column, Column) =
      if (l == 0) (lit(0L), lit(0L))
      else if (l <= 64) (shiftrightunsigned(hi, 64 - l), lit(0L))
      else (hi, shiftrightunsigned(lo, 128 - l))
    val keys = lens.sorted.map { l =>
      val (ph, pl) = prefixAt(l, col(hiCol).cast("long"), col(loCol).cast("long"))
      struct(lit(l.toLong).as("__len"),
        ph.cast("long").as("__ph"), pl.cast("long").as("__pl"))
    }
    val cand = probes
      .filter(col(hiCol).isNotNull && col(loCol).isNotNull)
      .select(col(idCol).as("__pid"), explode(array(keys: _*)).as("__k"))
      .select(col("__pid"), col("__k.__len").as("__len"),
        col("__k.__ph").as("__ph"), col("__k.__pl").as("__pl"))
    val netsK = nets.select(
      (guardedLen(col(lenCol).cast("long"), lens.sorted,
        "longestPrefixJoin6").as("__len") +:
        col(prefixHiCol).cast("long").as("__ph") +:
        col(prefixLoCol).cast("long").as("__pl") +:
        netCols.map(col)): _*)
    val matched = cand
      .join(broadcast(netsK), Seq("__len", "__ph", "__pl"))
      .groupBy(col("__pid"))
      // most-specific pick as a STRUCT-MIN aggregate, not a row_number
      // window: min(struct(-len, netCols…)) selects exactly the row the
      // (len DESC, netCols ASC) sort put first (struct comparison is
      // field-lexicographic with the window's null-first asc order),
      // but aggregates partially map-side — per-probe candidate groups
      // collapse to one row before the exchange, where the window had
      // to shuffle AND sort every matched candidate row (guide §2.3).
      .agg(min(struct(((-col("__len")).as("__nl") +:
        netCols.map(c => col(c).as(c))): _*)).as("__b"))
      .select((col("__pid") +: (-col("__b.__nl")).as("matched_len") +:
        netCols.map(c => col(s"__b.$c").as(c))): _*)
    probes.join(matched, probes(idCol) === matched("__pid"), "left")
      .drop("__pid")
  }

  /** Longest-prefix-match join: for each row of `probes` (with a
    * UNIQUE `idCol` and a numeric IPv4 `ipCol` as produced by
    * [[ipv4ToLong]]), attach the columns of the most specific matching
    * row of `nets` — a CIDR table with integer columns `lenCol`
    * (prefix length) and `prefixCol` (= network_address >> (32 − len);
    * a `len = 0` default route has `prefix = 0`). Unmatched / NULL-ip
    * probes keep their row with the net columns NULL (left-join
    * semantics).
    *
    * Only nets with a length in [minLen, maxLen] can match; rows outside
    * that band are excluded, which lets a caller cap match specificity
    * (`maxLen = 24` ignores /28s). `lens`, when given, declares the
    * lengths present inside the band: a net row at an in-band length
    * missing from `lens` raises at first action (see [[guardedLen]]).
    *
    * Ties at the same length (duplicate `(len, prefix)` rows in
    * `nets`) break deterministically by the ascending sort of the
    * remaining `nets` columns, so the result is a pure function of the
    * inputs. Plan shape: probe explode (constant ≤ |lens| map-side
    * amplification) → broadcast hash join on `(len, prefix)` →
    * per-probe struct-min aggregate (partial map-side) → left join
    * back on `idCol`.
    */
  def longestPrefixJoin(probes: DataFrame, idCol: String, ipCol: String,
                        nets: DataFrame, lenCol: String, prefixCol: String,
                        minLen: Int = 0, maxLen: Int = 32,
                        lens: Seq[Int] = Seq.empty): DataFrame = {
    require(0 <= minLen && minLen <= maxLen && maxLen <= 32,
      s"need 0 <= minLen <= maxLen <= 32, got [$minLen, $maxLen]")
    // `lens` = the PRESENT length set (the longestPrefixJoin6 stance):
    // CIDR tables typically carry a handful of prefix lengths, and probe
    // amplification is |lens| — net rows at absent lengths can never
    // match an un-exploded key, so restricting the explode to the
    // lengths actually present changes nothing but the map-side volume
    // (17× → 5× in the q243 shape). Empty = every length in range.
    require(lens.forall(l => minLen <= l && l <= maxLen),
      s"lens must lie within [$minLen, $maxLen], got $lens")
    val lenSet = if (lens.isEmpty) (minLen to maxLen).toSeq
      else lens.distinct.sorted
    val netCols = nets.columns.filter(c => c != lenCol && c != prefixCol)
    // probe keys: one (len, prefix-of-ip-at-len) struct per literal
    // length — shift counts are literals, so the whole explode codegens
    val keys = lenSet.map { l =>
      struct(lit(l.toLong).as("__len"),
        shiftright(col(ipCol).cast("long"), 32 - l).cast("long")
          .as("__prefix"))
    }
    val cand = probes
      .filter(col(ipCol).isNotNull)
      .select(col(idCol).as("__pid"), explode(array(keys: _*)).as("__k"))
      .select(col("__pid"), col("__k.__len").as("__len"),
        col("__k.__prefix").as("__prefix"))
    // out-of-band nets are excluded, as the minLen/maxLen contract says;
    // only an in-band length missing from a declared `lens` raises
    val inBand = if (lens.isEmpty) nets
      else nets.filter(col(lenCol).cast("long").between(minLen, maxLen))
    val netsK = inBand.select(
      ((if (lens.isEmpty) col(lenCol).cast("long")
        else guardedLen(col(lenCol).cast("long"), lenSet,
          "longestPrefixJoin")).as("__len") +:
        col(prefixCol).cast("long").as("__prefix") +:
        netCols.map(col)): _*)
    val matched = cand
      .join(broadcast(netsK), Seq("__len", "__prefix"))
      .groupBy(col("__pid"))
      // struct-min argmax instead of a row_number window — see
      // [[longestPrefixJoin6]]: identical pick (field-lexicographic
      // struct order = the (len DESC, netCols ASC) sort), but the
      // partial aggregate collapses each probe's candidates map-side,
      // so the exchange carries one row per probe and nothing sorts.
      .agg(min(struct(((-col("__len")).as("__nl") +:
        netCols.map(c => col(c).as(c))): _*)).as("__b"))
      .select((col("__pid") +: (-col("__b.__nl")).as("matched_len") +:
        netCols.map(c => col(s"__b.$c").as(c))): _*)
    probes.join(matched, probes(idCol) === matched("__pid"), "left")
      .drop("__pid")
  }
}
