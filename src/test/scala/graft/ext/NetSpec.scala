package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class NetSpec extends SparkTestBase {
  import spark.implicits._

  test("ipv4ToLong parses valid addresses and rejects malformed ones") {
    val rows = Seq(
      "0.0.0.0" -> Some(0L),
      "255.255.255.255" -> Some(4294967295L),
      "192.168.1.10" -> Some(192L * 16777216 + 168 * 65536 + 256 + 10),
      "10.0.0.1" -> Some(10L * 16777216 + 1),
      "256.0.0.1" -> None, // octet out of range
      "1.2.3" -> None, // too few octets
      "1.2.3.4.5" -> None, // too many
      "a.b.c.d" -> None, // not digits
      "1.2.3.+4" -> None, // sign
      "" -> None)
    val df = rows.map(_._1).toDF("ip")
      .select(col("ip"), Net.ipv4ToLong(col("ip")).as("n"))
    val got = df.collect().map(r =>
      r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    rows.foreach { case (ip, want) =>
      assert(got(ip) == want, s"ipv4ToLong($ip)") }
    // null in, null out
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("ip")
      .select(Net.ipv4ToLong(col("ip"))).head()
    assert(n.isNullAt(0))
  }

  test("ipv4ToLong is NULL-total over malformed parquet-scanned input") {
    // Gate-scale inputs arrive through the vectorized parquet reader,
    // where boolean AND need not short-circuit per row under ANSI
    // (the anonymizeIpv4 hazard): no cast / element_at may be
    // reachable for non-shaped rows. Round-trip through parquet so
    // this spec exercises that path, with tokens that would throw if
    // a cast or out-of-bounds element_at ever ran on them.
    val dir = java.nio.file.Files.createTempDirectory("netspec").toString
    val rows = Seq("1.2.3", "a.b.c.d", "1..2.3", "1.2.3.4.5", "",
      "999.999.999.999", "10.0.0.7", null.asInstanceOf[String])
    rows.toDF("ip").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .select(col("ip"), Net.ipv4ToLong(col("ip")).as("n"))
      .collect()
      .map(r => Option(r.getString(0)) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(Some("10.0.0.7")).contains(10L * 16777216 + 7))
    (rows.filter(_ != "10.0.0.7").map(Option(_)) :+ None).foreach { ip =>
      assert(got(ip).isEmpty, s"expected NULL for $ip") }
  }

  test("longToIpv4 round-trips ipv4ToLong on valid addresses") {
    val ips = Seq("0.0.0.0", "255.255.255.255", "10.20.30.40", "1.0.0.255")
    val back = ips.toDF("ip")
      .select(Net.longToIpv4(Net.ipv4ToLong(col("ip"))).as("rt"), col("ip"))
      .collect()
    back.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("longestPrefixJoin picks the most specific covering network") {
    // nets: a /8 (10/8), a /16 inside it (10.1/16), a /24 inside that
    // (10.1.2/24), a default route /0, and an unrelated /12
    def net(cidr: String, len: Int, tag: String) = {
      val base = Seq(cidr).toDF("ip")
        .select(Net.ipv4ToLong(col("ip"))).head().getLong(0)
      (len, base >> (32 - len), tag)
    }
    val nets = Seq(
      net("10.0.0.0", 8, "ten8"),
      net("10.1.0.0", 16, "ten1-16"),
      net("10.1.2.0", 24, "ten12-24"),
      (0, 0L, "default"),
      net("172.16.0.0", 12, "rfc1918-172"))
      .toDF("len", "prefix", "tag")
    val probes = Seq(
      (1L, "10.1.2.3"), // inside all three nested nets -> /24
      (2L, "10.1.9.9"), // inside /8 and /16 -> /16
      (3L, "10.9.9.9"), // inside /8 only -> /8
      (4L, "172.17.0.1"), // inside the /12
      (5L, "8.8.8.8"), // only the default route
      (6L, "not-an-ip")) // NULL ip -> row kept, nets NULL
      .toDF("id", "ip")
      .withColumn("ipn", Net.ipv4ToLong(col("ip")))
    val got = Net.longestPrefixJoin(probes, "id", "ipn",
        nets, "len", "prefix")
      .select(col("id"), col("matched_len"), col("tag"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getString(2)))))
      .toMap
    assert(got(1L).contains((24L, "ten12-24")))
    assert(got(2L).contains((16L, "ten1-16")))
    assert(got(3L).contains((8L, "ten8")))
    assert(got(4L).contains((12L, "rfc1918-172")))
    assert(got(5L).contains((0L, "default")))
    assert(got(6L).isEmpty, "invalid ip keeps its row with NULL nets")
    assert(got.size == 6)
  }

  test("duplicate (len, prefix) rows tie-break deterministically") {
    val nets = Seq((8, 10L, "zzz"), (8, 10L, "aaa")).toDF("len", "prefix", "tag")
    val probes = Seq((1L, 10L * 16777216 + 5)).toDF("id", "ipn")
    val tag = Net.longestPrefixJoin(probes, "id", "ipn", nets, "len", "prefix")
      .select("tag").head().getString(0)
    assert(tag == "aaa", "ascending tie-break on the remaining net columns")
  }

  test("ipv6ToLongs parses full and ::-compressed forms; rejects junk") {
    def want(hi: Long, lo: Long) = Some((hi, lo))
    val rows = Seq(
      "::" -> want(0L, 0L),
      "::1" -> want(0L, 1L),
      "fe80::1" -> want(0xfe80L << 48, 1L),
      "FE80::1" -> want(0xfe80L << 48, 1L), // case-insensitive hex
      "2001:db8:0:0:1:0:0:1" ->
        want((0x2001L << 48) | (0xdb8L << 32), (1L << 48) | 1L),
      "2001:db8::1:0:0:1" ->
        want((0x2001L << 48) | (0xdb8L << 32), (1L << 48) | 1L),
      "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff" -> want(-1L, -1L),
      "1:2:3" -> None, // too few groups, no compression
      "::1::2" -> None, // two compressions
      "1:::2" -> None, // triple colon
      "12345::" -> None, // group too long
      "g::1" -> None, // non-hex
      "1:2:3:4:5:6:7:8:9" -> None, // too many groups
      ":" -> None,
      "1.2.3.4" -> None, // embedded-IPv4 out of scope
      "1:2:3:4:5:6:7:8:" -> None, // trailing colon
      "" -> None)
    val got = rows.map(_._1).toDF("ip")
      .select(col("ip"), Net.ipv6ToLongs(col("ip")).as("a"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else {
        val s = r.getStruct(1); Some((s.getLong(0), s.getLong(1))) }))
      .toMap
    rows.foreach { case (ip, w) => assert(got(ip) == w, s"ipv6($ip)") }
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("ip")
      .select(Net.ipv6ToLongs(col("ip"))).head()
    assert(n.isNullAt(0), "null in, null out")
  }

  test("longsToIpv6 canonical form round-trips through ipv6ToLongs") {
    val ips = Seq("2001:db8::1:0:0:1", "::1", "fe80::",
      "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff")
    val back = ips.toDF("ip")
      .select(Net.ipv6ToLongs(col("ip")).as("a"), col("ip"))
      .select(Net.longsToIpv6(col("a.hi"), col("a.lo")).as("canon"),
        col("ip"))
      .select(Net.ipv6ToLongs(col("canon")).as("b"),
        Net.ipv6ToLongs(col("ip")).as("a"))
      .collect()
    back.foreach { r =>
      assert(!r.isNullAt(0) && r.getStruct(0) == r.getStruct(1),
        "canonical text must decode to the same halves")
    }
  }

  test("longestPrefixJoin6 picks most specific across the 64-bit seam") {
    val hiX = (0x2001L << 48) | (0xdb8L << 32) | 0x7L
    val loX = (0xabcdL << 48) | 0x42L
    val nets = Seq(
      (16L, hiX >>> 48, 0L, "a16"), // covers anything with top-16 2001
      (64L, hiX, 0L, "b64"), // covers X's full hi half
      (96L, hiX, loX >>> 32, "c96"), // most specific cover of X
      (0L, 0L, 0L, "default"))
      .toDF("len", "phi", "plo", "tag")
    val probes = Seq(
      (1L, hiX, loX), // all four cover -> /96
      (2L, hiX, ~loX), // hi matches, lo differs -> /64
      (3L, (hiX >>> 48) << 48 | 0x9999L, 5L), // only top-16 -> /16
      (4L, 0x1234L << 48, 0L)) // only the default route
      .toDF("id", "hi", "lo")
    val got = Net.longestPrefixJoin6(probes, "id", "hi", "lo",
        nets, "len", "phi", "plo", lens = Seq(0, 16, 64, 96))
      .select(col("id"), col("matched_len"), col("tag"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(got(1L) == ((96L, "c96")))
    assert(got(2L) == ((64L, "b64")))
    assert(got(3L) == ((16L, "a16")))
    assert(got(4L) == ((0L, "default")))
    // r15 ADVICE: a net whose length is outside `lens` could never
    // match (it falls out of the equi-join), so it now FAILS LOUDLY at
    // first action instead of silently vanishing from the table
    val extra = nets.union(Seq((128L, hiX, loX, "exact"))
      .toDF("len", "phi", "plo", "tag"))
    val e = intercept[Exception] {
      Net.longestPrefixJoin6(probes.filter(col("id") === 1L),
          "id", "hi", "lo", extra, "len", "phi", "plo",
          lens = Seq(0, 16, 64, 96))
        .select("tag").head()
    }
    assert(e.getMessage.contains("outside the declared present-length set"),
      s"len-128 net must raise, got: ${e.getMessage}")
  }

  test("minLen/maxLen bound the explode and exclude out-of-band nets") {
    // a /28 net exists but the join only considers lengths 8..24
    val nets = Seq((28, (10L * 16777216 + 16) >> 4, "too-specific"),
      (8, 10L, "ten8")).toDF("len", "prefix", "tag")
    val probes = Seq((1L, 10L * 16777216 + 17)).toDF("id", "ipn")
    val tag = Net.longestPrefixJoin(probes, "id", "ipn", nets, "len", "prefix",
      minLen = 8, maxLen = 24).select("tag").head().getString(0)
    assert(tag == "ten8")
    // declaring the in-band lengths keeps the out-of-band /28 excluded
    val declared = Net.longestPrefixJoin(probes, "id", "ipn", nets, "len", "prefix",
      minLen = 8, maxLen = 24, lens = Seq(8)).select("tag").head().getString(0)
    assert(declared == "ten8")
    // an in-band length missing from `lens` still raises
    val e = intercept[Exception] {
      Net.longestPrefixJoin(probes, "id", "ipn", nets, "len", "prefix",
        minLen = 8, maxLen = 28, lens = Seq(8)).collect()
    }
    assert(e.getMessage.contains("outside the declared present-length set"),
      s"in-band /28 missing from lens must raise, got: ${e.getMessage}")
  }
}
