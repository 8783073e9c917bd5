package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.DaysApart
import graft.ext.{Dedup, Retrieval, Similarity, TextStats}
import graft.logs.LogLineParser

/** Shared gate plumbing, verbatim from the pre-split SparkEntry.scala:
  * table loading, cached per-(session, dir) fixtures, the synthetic
  * log-line generator, and every cross-family oracle-SQL builder.
  * `private[graft]` — the public surface stays `SparkEntry`.
  */
private[graft] object Support {

  // ------------------------------------------------------------------ util

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The directory the gates of one run put their stores and scratch
    * tables under, created on first use; None outside a run.
    */
  private var scratch: Option[java.nio.file.Path] = None

  def scratchRoot: Option[java.nio.file.Path] = synchronized(scratch)

  /** A fresh directory under the run's scratch root. A gate's result
    * reads it lazily, so it must outlive the gate call: [[withScratch]]
    * deletes the root once the caller has consumed every result.
    */
  def scratchDir(prefix: String): String = synchronized {
    val root = scratch.getOrElse {
      val r = java.nio.file.Files.createTempDirectory("graft-run")
      scratch = Some(r)
      r
    }
    java.nio.file.Files.createTempDirectory(root, prefix).toString
  }

  /** Run `body` (gates and the writes of their results), then delete
    * every directory the gates created under the scratch root.
    */
  def withScratch[T](body: => T): T =
    try body
    finally synchronized {
      scratch.foreach(root => org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
      scratch = None
    }

  /** The id column of `docs` as a Dataset[Long], fanned out to the
    * session parallelism when the scan arrives narrower than HALF of it
    * (one small parquet file = ONE scan partition), for per-id asset
    * synthesis + decode maps. Apply ONLY where the per-row work was
    * MEASURED to amortize the exchange: the r16 floor sweep showed the
    * JPEG encode+decode gates halving (q107 0.74→0.52 s, q136
    * 0.97→0.48 s) while every light BMP/WAV/QOI synth gate REGRESSED
    * 20–150% — at gate scale their per-row work is microseconds and the
    * exchange plus 32-task stage scheduling is pure cost, so those
    * gates stay on their scan partitioning. Hash-partitioned by id, so
    * the fan-out is deterministic under task retry; an already-wide
    * scan keeps its source partitioning (the StreamingMinhashLsh
    * narrow-batch rule).
    */
  def fannedDocIds(docs: DataFrame, idCol: String = "doc_id")
      : org.apache.spark.sql.Dataset[Long] = {
    val ids = docs.select(col(idCol))
    val par = ids.sparkSession.sparkContext.defaultParallelism
    val wide =
      if (graft.streaming.StreamingMinhashLsh.shouldFanOut(
          ids.rdd.getNumPartitions, par)) ids.repartition(par, col(idCol))
      else ids
    wide.as[Long](org.apache.spark.sql.Encoders.scalaLong)
  }

  /** q70 and q88 are two POLICY layers (survivor choice; leakage-safe
    * split) over the SAME synthesized near-dup corpus — and in a real
    * curation pipeline pairs+labels are computed once and fanned out to
    * every consumer, not recomputed per policy. The gates share that one
    * stage: pairs and component labels are built once per (session, sf
    * dir) and memoized as localCheckpointed frames (tiny — only
    * documents that HAVE a near-dup appear), so the second consumer pays
    * one small join, not a second AllPairs + CC fixpoint (~37 s of the
    * r4 bench was this exact duplication). `PlanCapture.cut` keeps the
    * pre-checkpoint pair-stage plan visible to PlanGuardSpec.
    */
  val nearDupGraphCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, DataFrame, DataFrame)]

  def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select("doc_id", "text")
    val near = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" zzz end")).as("text"))
    docs.union(near)
  }

  /** (pairs, labels) of the shared near-dup graph — memoized per
    * (session, dir); entries die with their session's block manager.
    * The cached session rides along and is compared by REFERENCE (an
    * identity-hash key alone could collide with a stopped session's
    * entry and hand out dead checkpointed frames — compute() re-checks
    * and replaces atomically).
    */
  def nearDupGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // sweep entries owned by stopped sessions: without this, a dead
    // session (and its two checkpointed frames) is pinned for the JVM
    // lifetime unless a later session collides on the same identity hash
    nearDupGraphCache.entrySet()
      .removeIf(e => e.getValue._1.sparkContext.isStopped)
    val entry = nearDupGraphCache.compute(
      System.identityHashCode(s) + "@" + dir, (_, cached) =>
        if (cached != null && (cached._1 eq s)) cached
        else {
          val pairs = plans.PlanCapture.cut(
            Dedup.ngramJaccardPairs(nearDupCorpus(s, dir), "doc_id", "text",
              n = 3, threshold = 0.8).select("id_a", "id_b"))
          val labels = Dedup.connectedComponents(pairs)
          (s, pairs, labels)
        })
    (entry._2, entry._3)
  }

  /** q112 and q119 share ONE BPE learn: greedy merge learning is
    * sequential, so the 10-rule list q119 tokenizes with IS the first 10
    * rows of q112's 25-rule vocabulary on the same corpus and
    * minPairCount (BpeSpec pins the prefix property). Learned rules are
    * a driver-side Seq with no session-bound resources, so the memo keys
    * on the data dir alone and never needs eviction. This ASSUMES the dir
    * is immutable for the JVM's lifetime (true of the driver's testdata
    * contract, TESTDATA.md): regenerating a documents table in place
    * would serve a stale vocabulary while the oracle recomputes fresh.
    */
  val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[ext.Bpe.Merge]]

  def bpeMerges25(s: SparkSession, dir: String): Seq[ext.Bpe.Merge] =
    bpeMergeCache.computeIfAbsent(dir, _ =>
      ext.Bpe.learn(tbl(s, dir, "documents"), "text",
        numMerges = 25, minPairCount = 2L))

  /** q186/q187 share one unigram-LM vocabulary per data dir — the
    * q112/q119 shared-learn lesson applied from day one. Same
    * immutable-dir assumption as [[bpeMergeCache]].
    */
  val unigramVocabCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[ext.UnigramLm.Piece]]

  def unigramVocab200(s: SparkSession, dir: String): Seq[ext.UnigramLm.Piece] =
    unigramVocabCache.computeIfAbsent(dir, _ =>
      ext.UnigramLm.learn(tbl(s, dir, "documents"), "text",
        vocabSize = 200, maxPieceLen = 4, minCount = 2L))

  /** DuckDB expression mirroring `TextStats.qualityScore(text)`. */
  def qualityScoreSql(t: String): String = {
    val stop = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""CAST((CASE WHEN length($t) BETWEEN 20 AND 100000 THEN 3 ELSE 0 END)
       |    + (CASE WHEN CAST(len(regexp_extract_all($t, '[.,!?;:''"()\\[\\]{}_-]')) AS DOUBLE) / greatest(length($t), 1) < 0.3 THEN 2 ELSE 0 END)
       |    + (CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(lower($t)), '\\s+'),
       |          x -> list_contains($stop, x))) AS DOUBLE)
       |          / greatest(len(regexp_split_to_array(trim(lower($t)), '\\s+')), 1) > 0.05 THEN 3 ELSE 0 END)
       |    + (CASE WHEN CAST(list_sum(list_transform(regexp_split_to_array(trim($t), '\\s+'), x -> length(x))) AS DOUBLE)
       |          / greatest(len(regexp_split_to_array(trim($t), '\\s+')), 1) BETWEEN 2.0 AND 12.0 THEN 2 ELSE 0 END) AS DOUBLE) / 10""".stripMargin
  }

  /** DuckDB prelude normalizing events.ts (TIMESTAMP_NS → micros), matching
    * `Tables.load`.
    */
  val EventsCte =
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"

  /** q198 closed-form CDC fixture blocks: ASCII strings searched offline
    * (seeded SplitMix64 gear table, min 64 / avg 256 / max 1024) so the
    * FIRST qualifying gear-hash cut falls exactly at the block end — a
    * payload of n repeats chunks into n copies of the block plus the
    * sub-minSize tail, with constant sha-256 digests the oracle states
    * literally. Lengths 179 / 177 / 17 bytes (pure ASCII, so char length
    * == byte length through `encode(..., 'UTF-8')`).
    */
  val CdcBlockEven =
    "m8w3d6nos5nv2eqmkf28xm4upz1ne13tnhvrzyo1ez0a3n8gwbxxaq jc1lrejzx 4k56tl7afec w82h3ilm92ifjtvyed99w3dmrufrjq3n1h7upgrlaaz3 cvpr4m98uvbiswxzzdo7enjhjvhxb2mx69ni389uttqp1n3tcpdv22dr9"
  val CdcBlockOdd =
    "y40mmzd122c7ump57mzu4i13c7pq245rclgcyqalnmhwiom1ptwmtsv3pwdmyz7 ww0kp9wwhmuaf6y ugskq5ti9l93i2dalw23ib5gm kadf5yaxm7fn03c8q15po4leo34of9nbc0du66yz 5xtjpmg98925y89hqpt59hrox03jd9"
  val CdcTail = "cpmf q 7zk04fq78c"
  val CdcDigestEven =
    "31ea1d12aca63fcc8e7edd4fb57d051755b6139b21ea747b08cf424e074ab5f0"
  val CdcDigestOdd =
    "8945e6d0e85e8472ccf2bc92c8458ca7d83e6a2b7fc6d880562cd4c061082c42"
  val CdcDigestTail =
    "27d1a6bee4768f109abf48dbfb5d5a73ae4df37c3ee8b847a95597aee503d908"

  // -------------------------------------------------- synthetic log corpus

  /** Deterministic AWS-S3-access-log lines derived from `events` — the
    * bridge between the driver's testdata and the reference's data model.
    * Every field round-trips through `LogLineParser` (SURVEY.md §1.3);
    * event_id % 101 == 0 rows are corrupt (PERMISSIVE error_line path);
    * event_id % 13 == 0 rows carry the '-' sentinel in bytes_sent.
    */
  def syntheticLogLines(events: DataFrame): DataFrame = {
    val id = col("event_id"); val uid = col("user_id")
    val status = when(col("event_type") === "error", lit(404)).otherwise(lit(200))
    val bytes = round(col("value") * 100).cast("long")
    val clean = concat(
      lit("own"), pmod(uid, lit(5L)),
      lit(" logbucket ["),
      date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss"), lit(" +0000] 10.0.0."),
      pmod(uid, lit(250L)),
      lit(" arn:aws:sts::123456789012:assumed-role/svc"), pmod(uid, lit(7L)),
      lit("/i-"), id,
      lit(" REQ"), id, lit(" "),
      when(col("value") > 50, lit("REST.GET.OBJECT")).otherwise(lit("REST.PUT.OBJECT")),
      lit(" logs/app"), pmod(uid, lit(3L)), lit("/2023/"),
      lpad((pmod(id, lit(12L)) + 1).cast("string"), 2, "0"), lit("/"),
      lpad((pmod(id, lit(28L)) + 1).cast("string"), 2, "0"),
      lit("/obj"), id,
      lit(" \"GET /obj HTTP/1.1\" "), status, lit(" "),
      when(status === 404, lit("NoSuchKey")).otherwise(lit("-")), lit(" "),
      when(pmod(id, lit(13L)) === 0, lit("-")).otherwise(bytes.cast("string")), lit(" "),
      (bytes * 2).cast("string"), lit(" "),
      pmod(id, lit(1000L)), lit(" - \"-\" \"agent/"),
      pmod(uid, lit(4L)), lit(".0\" "),
      when(pmod(id, lit(10L)) === 0, lit("-"))
        .otherwise(lit("ABCDEFGHI").substr(pmod(id, lit(10L)).cast("int"), lit(1))))
    val line = when(pmod(id, lit(101L)) === 0,
      concat(lit("CORRUPT LINE "), id)).otherwise(clean)
    // events.parquet is one small file → one input split; real ingest reads
    // many log objects in parallel, so spread the synthesis/parse the same
    // way (row→partition placement does not affect any per-row value).
    val parallelism = events.sparkSession.sparkContext.defaultParallelism
    events.repartition(parallelism).select(line.as("value"))
  }

  /** DuckDB oracle: the expected PARSED table, built directly (parse ∘
    * format = identity on clean rows; corrupt rows = 18 nulls + raw line).
    */
  val ParsedOracle: String =
    s"""WITH e AS ($EventsCte),
       |clean AS (SELECT * FROM e WHERE event_id % 101 <> 0)
       |SELECT
       |  'own' || (user_id % 5) AS bucket_owner,
       |  'logbucket' AS s3_bucket,
       |  CAST(date_trunc('second', ts) AS TIMESTAMP) AS request_time,
       |  '10.0.0.' || (user_id % 250) AS remote_ip,
       |  'arn:aws:sts::123456789012:assumed-role/svc' || (user_id % 7) || '/i-' || event_id AS requester,
       |  'REQ' || event_id AS request_id,
       |  CASE WHEN value > 50 THEN 'REST.GET.OBJECT' ELSE 'REST.PUT.OBJECT' END AS operation,
       |  'logs/app' || (user_id % 3) || '/2023/' || lpad(CAST(1 + event_id % 12 AS VARCHAR), 2, '0')
       |    || '/' || lpad(CAST(1 + event_id % 28 AS VARCHAR), 2, '0') || '/obj' || event_id AS key,
       |  '"GET /obj HTTP/1.1"' AS request,
       |  CAST(CASE WHEN event_type = 'error' THEN 404 ELSE 200 END AS INT) AS http_status,
       |  CASE WHEN event_type = 'error' THEN 'NoSuchKey' ELSE NULL END AS error_code,
       |  CASE WHEN event_id % 13 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) END AS bytes_sent,
       |  CAST(round(value * 100) AS BIGINT) * 2 AS object_size,
       |  event_id % 1000 AS total_time,
       |  CAST(NULL AS BIGINT) AS turn_around_time,
       |  CAST(NULL AS VARCHAR) AS referrer,
       |  '"agent/' || (user_id % 4) || '.0"' AS user_agent,
       |  CASE WHEN event_id % 10 = 0 THEN NULL
       |       ELSE substr('ABCDEFGHI', CAST(event_id % 10 AS INT), 1) END AS version_id,
       |  CAST(NULL AS VARCHAR) AS error_line
       |FROM clean
       |UNION ALL
       |SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       |       NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       |       'CORRUPT LINE ' || event_id
       |FROM e WHERE event_id % 101 = 0""".stripMargin


  // ------------------------------------------------------------ oracle SQL

  /** Marker-word language-ID as first-wins argmax CASE (mirrors
    * `TextStats.langId`'s strictly-greater fold).
    */
  val LangIdOracle: String = {
    val scores = TextStats.LangMarkers.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, x -> list_contains($arr, x))) AS s_$lang"
    }.mkString(",\n       |    ")
    val langs = TextStats.LangMarkers.map(_._1)
    val all = langs.map("s_" + _).mkString(", ")
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map("s_" + _)
      val restMax = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
      s"WHEN s_$l >= $restMax THEN '$l'"
    }.mkString(" ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, lang,
       |    $scores
       |  FROM toks)
       |SELECT doc_id, lang,
       |  CASE WHEN greatest($all) = 0 THEN 'und'
       |       $cases
       |       ELSE '${langs.last}' END AS lang_pred
       |FROM scored""".stripMargin
  }

  /** Word-3-gram shingle CTE over a doc set named `all_docs(doc_id, text)` —
    * mirrors `Dedup.shingles(text, 3)`.
    */
  val ShingleCte: String =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(len(t) - 2, 1)),
      |      i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
      |  FROM (SELECT doc_id,
      |          string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
      |        FROM all_docs))""".stripMargin

  /** Oracle for the IVF cross-table join (q102): centroids are the 16
    * RIGHT-side rows of smallest md5(id) rank (the engine's
    * id-distribution-free donor sample), right rows take their
    * single best cell and left rows their 3 best (cosine DESC,
    * centroid_id tie-break — the kernel's lowest-index rule), candidates
    * meet on the cell, exact cosine ranks within query. The cosine
    * applies the engine's zero-vector convention (denom > 0 ? dot/denom
    * : 0.0 — `NearestCentroids` and `Similarity.cosineCol` both use it)
    * rather than raw division, so the equivalence is unconditional: a
    * raw-division oracle would yield NaN for an all-zero embedding
    * (which DuckDB sorts FIRST under DESC) and diverge if one ever
    * entered the corpus.
    */
  val IvfSemanticJoinOracle: String = {
    def cosine(a: String, b: String): String = {
      val denom =
        s"""(sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      s"""CASE WHEN $denom > 0 THEN list_sum(list_transform(list_zip($a, $b),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |    / $denom ELSE 0.0 END""".stripMargin
    }
    s"""WITH rt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 2),
       |lt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 2),
       |centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM rt
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
       |  ORDER BY vec_id),
       |corpus_assign AS (
       |  SELECT vec_id AS neighbor_id, cell FROM (
       |    SELECT e.vec_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM rt e CROSS JOIN centroids c)
       |  WHERE crank <= 1),
       |query_assign AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM lt e CROSS JOIN centroids c)
       |  WHERE crank <= 3),
       |cand AS (
       |  SELECT DISTINCT q.query_id, ca.neighbor_id
       |  FROM query_assign q JOIN corpus_assign ca ON ca.cell = q.cell),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${cosine("q.embedding", "c.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Oracle for the PQ-coded IVF join (q106): the q102 cell machinery
    * (md5-rank centroid donors, best cell per right row, 3 probes
    * per query) composed with the q80 PQ machinery (codebook = the 8
    * right rows of smallest md5(id) rank, codeword j = id-sorted rank —
    * nearest codeword per 8-dim subspace by
    * dot − |c|²/2, per-query LUTs), ADC-scored candidate pool of
    * k·rerankFactor = 20 per query, exact cosine re-rank. Same ADC
    * double-sum-order soundness note as [[PqAnnOracle]]; exact cosine
    * uses the engine's zero-vector rule.
    */
  val IvfPqSemanticJoinOracle: String = {
    def dotSql(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))""".stripMargin
    def cosine(a: String, b: String): String = {
      val denom =
        s"""(sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      s"""CASE WHEN $denom > 0 THEN ${dotSql(a, b)}
         |    / $denom ELSE 0.0 END""".stripMargin
    }
    s"""WITH rt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 2),
       |lt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 2),
       |centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM rt
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
       |  ORDER BY vec_id),
       |corpus_assign AS (
       |  SELECT vec_id AS neighbor_id, cell FROM (
       |    SELECT e.vec_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM rt e CROSS JOIN centroids c)
       |  WHERE crank <= 1),
       |query_assign AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM lt e CROSS JOIN centroids c)
       |  WHERE crank <= 3),
       |cw AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
       |    embedding AS wvec
       |  FROM (SELECT vec_id, embedding FROM rt
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
       |cws AS (
       |  SELECT j, m, list_slice(wvec, m * 8 + 1, m * 8 + 8) AS c
       |  FROM cw CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m)),
       |en AS (
       |  SELECT vec_id,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |enc AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT e.vec_id, c.m, c.j,
       |      row_number() OVER (PARTITION BY e.vec_id, c.m ORDER BY
       |        (${dotSql("list_slice(e.embedding, c.m * 8 + 1, c.m * 8 + 8)", "c.c")}
       |         - 0.5 * list_sum(list_transform(c.c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) DESC,
       |        c.j) AS rk
       |    FROM rt e CROSS JOIN cws c)
       |  WHERE rk = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.m, c.j,
       |    ${dotSql("list_slice(q.embedding, c.m * 8 + 1, c.m * 8 + 8)", "c.c")} AS v
       |  FROM lt q CROSS JOIN cws c),
       |cand AS (
       |  SELECT DISTINCT q.query_id, ca.neighbor_id
       |  FROM query_assign q JOIN corpus_assign ca ON ca.cell = q.cell),
       |approx AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    CASE WHEN qn.nrm * cn.nrm > 0
       |         THEN sum(l.v) / (qn.nrm * cn.nrm) ELSE 0.0 END AS approx_cos
       |  FROM cand
       |  JOIN enc ON enc.vec_id = cand.neighbor_id
       |  JOIN lut l ON l.query_id = cand.query_id AND l.m = enc.m AND l.j = enc.code
       |  JOIN en qn ON qn.vec_id = cand.query_id
       |  JOIN en cn ON cn.vec_id = cand.neighbor_id
       |  GROUP BY cand.query_id, cand.neighbor_id, qn.nrm, cn.nrm),
       |pool AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY approx_cos DESC, neighbor_id) AS crank
       |    FROM approx) WHERE crank <= 20),
       |scored AS (
       |  SELECT pool.query_id, pool.neighbor_id,
       |    ${cosine("q.embedding", "c.embedding")} AS cosine
       |  FROM pool
       |  JOIN embeddings q ON q.vec_id = pool.query_id
       |  JOIN embeddings c ON c.vec_id = pool.neighbor_id)
       |SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Generated oracle for the cross-table semantic join: same inlined
    * 10-bit hyperplane constants as [[LshAnnOracle]], but the query side
    * is every fifth embedding and the corpus side is the rest — the
    * both-sides-large regime lshTopKJoin exists for.
    */
  val SemanticJoinOracle: String = {
    val planes = ext.Similarity.hyperplanes(dim = 64, bits = 10, seed = 42L)
    val values = planes.zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}])" }
      .mkString(",\n  ")
    // zero-vector convention matches the engine (denom > 0 ? dot/denom :
    // 0.0) — same rationale as IvfSemanticJoinOracle's cosine
    val cosine = {
      val denom =
        """(sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      s"""CASE WHEN $denom > 0 THEN list_sum(list_transform(list_zip(q.embedding, c.embedding),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |    / $denom ELSE 0.0 END""".stripMargin
    }
    s"""WITH planes AS (SELECT * FROM (VALUES
       |  $values) AS t(pidx, pvec)),
       |cd AS (
       |  SELECT e.vec_id, p.pidx,
       |    list_sum(list_transform(list_zip(e.embedding, p.pvec),
       |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS d
       |  FROM embeddings e CROSS JOIN planes p),
       |cb AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << pidx) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM cd GROUP BY 1),
       |qb AS (SELECT vec_id AS query_id, bucket AS qbucket FROM cb WHERE vec_id % 5 = 1),
       |rb AS (SELECT vec_id AS neighbor_id, bucket FROM cb WHERE vec_id % 5 <> 1),
       |probes AS (
       |  SELECT query_id, qbucket AS bucket FROM qb
       |  UNION
       |  SELECT query_id, xor(qbucket, CAST(1 AS BIGINT) << i) AS bucket
       |  FROM qb, (SELECT unnest(generate_series(0, 9)) AS i)),
       |cand AS (
       |  SELECT DISTINCT p.query_id, rb.neighbor_id
       |  FROM probes p JOIN rb ON rb.bucket = p.bucket),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    $cosine AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Generated oracle for the LSH ANN path: the 10×64 hyperplane constants
    * are inlined (full round-trip double precision), so DuckDB replicates
    * bucket assignment, multi-probe, and ranking exactly. Sound because the
    * minimum |dot(vec, plane)| across the corpus is ~8e-5 — sign decisions
    * and rank order sit far above any accumulation-order float noise.
    */
  val LshAnnOracle: String = {
    val planes = ext.Similarity.hyperplanes(dim = 64, bits = 10, seed = 42L)
    val values = planes.zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}])" }
      .mkString(",\n  ")
    val cosine =
      """list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH planes AS (SELECT * FROM (VALUES
       |  $values) AS t(pidx, pvec)),
       |cd AS (
       |  SELECT e.vec_id, p.pidx,
       |    list_sum(list_transform(list_zip(e.embedding, p.pvec),
       |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS d
       |  FROM embeddings e CROSS JOIN planes p),
       |cb AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << pidx) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM cd GROUP BY 1),
       |qb AS (SELECT vec_id AS query_id, bucket AS qbucket FROM cb WHERE vec_id < 8),
       |probes AS (
       |  SELECT query_id, qbucket AS bucket FROM qb
       |  UNION
       |  SELECT query_id, xor(qbucket, CAST(1 AS BIGINT) << i) AS bucket
       |  FROM qb, (SELECT unnest(generate_series(0, 9)) AS i)),
       |cand AS (
       |  SELECT DISTINCT p.query_id, cb.vec_id AS neighbor_id
       |  FROM probes p JOIN cb ON cb.bucket = p.bucket),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    $cosine AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= 10""".stripMargin
  }

  /** Generated oracle for the IVF ANN path: centroid sampling, Voronoi
    * assignment (rank-1 cosine for corpus, rank ≤ nprobe for queries), and
    * candidate ranking replicated in SQL. Parameters mirror q28:
    * numCells=16, nprobe=4; centroids = 16 smallest md5(id) ranks.
    */
  val IvfAnnOracle: String = {
    def cosine(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
       |  ORDER BY vec_id),
       |corpus_assign AS (
       |  SELECT vec_id AS neighbor_id, cell FROM (
       |    SELECT e.vec_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM embeddings e CROSS JOIN centroids c)
       |  WHERE crank <= 1),
       |query_assign AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM embeddings e CROSS JOIN centroids c
       |    WHERE e.vec_id < 8)
       |  WHERE crank <= 4),
       |cand AS (
       |  SELECT DISTINCT q.query_id, ca.neighbor_id
       |  FROM query_assign q JOIN corpus_assign ca ON ca.cell = q.cell),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${cosine("q.embedding", "c.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= 10""".stripMargin
  }

  /** Incremental-IVF replay (q268): the [[IvfAnnOracle]] chain with one
    * deliberate difference — centroids are sampled from the INITIAL
    * corpus only (`vec_id % 3 <> 0`) while assignment and search run
    * over the full table (initial ∪ appended batch), replaying the
    * frozen-quantizer append semantics exactly (a rebuild would
    * re-sample from the union).
    */
  val IvfIncrementalOracle: String = {
    def cosine(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id % 3 <> 0
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
       |  ORDER BY vec_id),
       |corpus_assign AS (
       |  SELECT vec_id AS neighbor_id, cell FROM (
       |    SELECT e.vec_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM embeddings e CROSS JOIN centroids c)
       |  WHERE crank <= 1),
       |query_assign AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM embeddings e CROSS JOIN centroids c
       |    WHERE e.vec_id < 8)
       |  WHERE crank <= 4),
       |cand AS (
       |  SELECT DISTINCT q.query_id, ca.neighbor_id
       |  FROM query_assign q JOIN corpus_assign ca ON ca.cell = q.cell),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${cosine("q.embedding", "c.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
       |  (neighbor_id % 3 = 0) AS from_append
       |FROM scored
       |QUALIFY rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Streaming-IVF replay (q269): the [[IvfIncrementalOracle]] chain
    * replayed from every per-batch prefix — centroids from batch 0
    * (`vec_id % 3 = 0`), the corpus after batch b = ids with
    * `vec_id % 3 <= b` — so the gate checks each accumulation state.
    */
  val StreamIvfOracle: String = {
    def cosine(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    def state(b: Int): String =
      s"""ca$b AS (
         |  SELECT vec_id AS neighbor_id, cell FROM (
         |    SELECT e.vec_id, c.centroid_id AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
         |    FROM embeddings e CROSS JOIN centroids c
         |    WHERE e.vec_id % 3 <= $b)
         |  WHERE crank <= 1),
         |sc$b AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    ${cosine("q.embedding", "c.embedding")} AS cosine
         |  FROM (SELECT DISTINCT q.query_id, ca.neighbor_id
         |        FROM query_assign q JOIN ca$b ca ON ca.cell = q.cell) cand
         |  JOIN embeddings q ON q.vec_id = cand.query_id
         |  JOIN embeddings c ON c.vec_id = cand.neighbor_id),
         |p$b AS (
         |  SELECT CAST($b AS BIGINT) AS batch_id, query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |  FROM sc$b QUALIFY rank <= 10)""".stripMargin
    s"""WITH centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id % 3 = 0
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
       |  ORDER BY vec_id),
       |query_assign AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM embeddings e CROSS JOIN centroids c
       |    WHERE e.vec_id < 8)
       |  WHERE crank <= 4),
       |${state(0)},
       |${state(1)},
       |${state(2)}
       |SELECT * FROM (
       |  SELECT * FROM p0 UNION ALL SELECT * FROM p1
       |  UNION ALL SELECT * FROM p2)
       |ORDER BY batch_id, query_id, rank""".stripMargin
  }

  /** ANN-recall replay (q263): the [[IvfAnnOracle]] chain at nprobe=2
    * as the retrieved list, the q15 brute-force chain as the judgment
    * set, then the [[RankEvalOracle]] integer metric math plus the
    * macro recall — an exact BIGINT sum of the 1e6-scaled per-query
    * recalls over one final double division.
    */
  val AnnRecallOracle: String = {
    val disc = ext.Retrieval.discountsE9(10).mkString("[", ", ", "]")
    val idcg = ext.Retrieval.idcgPrefixE9(10).mkString("[", ", ", "]")
    def cosine(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH qset AS (
       |  SELECT vec_id AS query_id, embedding AS qv
       |  FROM embeddings WHERE vec_id < 8),
       |exact_scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    ${cosine("q.qv", "e.embedding")} AS cosine
       |  FROM qset q CROSS JOIN embeddings e),
       |judge AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rnk
       |    FROM exact_scored) WHERE rnk <= 10),
       |centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
       |  ORDER BY vec_id),
       |corpus_assign AS (
       |  SELECT vec_id AS neighbor_id, cell FROM (
       |    SELECT e.vec_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM embeddings e CROSS JOIN centroids c)
       |  WHERE crank <= 1),
       |query_assign AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.centroid_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
       |    FROM embeddings e CROSS JOIN centroids c
       |    WHERE e.vec_id < 8)
       |  WHERE crank <= 2),
       |cand AS (
       |  SELECT DISTINCT q.query_id, ca.neighbor_id
       |  FROM query_assign q JOIN corpus_assign ca ON ca.cell = q.cell),
       |retrieved AS (
       |  SELECT query_id, neighbor_id, rnk FROM (
       |    SELECT cand.query_id, cand.neighbor_id,
       |      row_number() OVER (PARTITION BY cand.query_id ORDER BY
       |        ${cosine("q.embedding", "c.embedding")} DESC,
       |        cand.neighbor_id) AS rnk
       |    FROM cand
       |    JOIN embeddings q ON q.vec_id = cand.query_id
       |    JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |  WHERE rnk <= 10),
       |relc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant
       |  FROM judge GROUP BY 1),
       |h AS (
       |  SELECT r.query_id,
       |    CAST(count(*) AS BIGINT) AS n_retrieved,
       |    CAST(coalesce(sum(CASE WHEN j.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits,
       |    CAST(coalesce(sum(CASE WHEN j.neighbor_id IS NOT NULL THEN ($disc)[r.rnk] END), 0) AS BIGINT) AS dcg_e9
       |  FROM retrieved r LEFT JOIN judge j
       |    ON r.query_id = j.query_id AND r.neighbor_id = j.neighbor_id
       |  GROUP BY 1),
       |per AS (
       |  SELECT coalesce(h.query_id, relc.query_id) AS query,
       |    CAST(coalesce(h.n_retrieved, 0) AS BIGINT) AS n_retrieved,
       |    CAST(coalesce(relc.n_relevant, 0) AS BIGINT) AS n_relevant,
       |    CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |    CAST(coalesce(h.dcg_e9, 0) AS BIGINT) AS dcg_e9
       |  FROM h FULL OUTER JOIN relc ON h.query_id = relc.query_id),
       |per2 AS (
       |  SELECT query, n_retrieved, n_relevant, hits,
       |    CASE WHEN n_relevant >= 1
       |      THEN CAST((hits * 1000000) // n_relevant AS BIGINT) END AS recall_e6,
       |    CASE WHEN n_relevant >= 1
       |      THEN CAST((dcg_e9 * 1000000) // ($idcg)[CAST(least(n_relevant, 10) AS INT)] AS BIGINT) END AS ndcg_e6
       |  FROM per),
       |macro AS (
       |  SELECT CAST(sum(recall_e6) AS DOUBLE) /
       |    CAST(count(*) * 1000000 AS DOUBLE) AS macro_recall
       |  FROM per2)
       |SELECT p.query, p.n_retrieved, p.n_relevant, p.hits, p.recall_e6,
       |  p.ndcg_e6, m.macro_recall
       |FROM per2 p CROSS JOIN macro m
       |ORDER BY 1""".stripMargin
  }

  /** IVF-rebuild replay (q272): the [[AnnRecallOracle]] recall chain
    * run TWICE — once for the drifted index (centroids from the initial
    * corpus only, the [[IvfIncrementalOracle]] sampling) and once for
    * the rebuilt index (centroids re-sampled from the full table:
    * rebuild ≡ bulk build on the union, because assignment is a pure
    * per-row function of the frozen quantizer) — plus the hottest-cell
    * imbalance over the drifted index (max cell count × numCells /
    * total, the rebuild-trigger arithmetic) and the macro-recall
    * non-regression boolean, all exact-integer ratios with one final
    * double division each.
    */
  val IvfRebuildOracle: String = {
    def cosine(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    def index(tag: String, centsFilter: String): String =
      s"""cents_$tag AS (
         |  SELECT vec_id AS centroid_id, embedding AS cvec
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        $centsFilter
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
         |  ORDER BY vec_id),
         |ca_$tag AS (
         |  SELECT vec_id AS neighbor_id, cell FROM (
         |    SELECT e.vec_id, c.centroid_id AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
         |    FROM embeddings e CROSS JOIN cents_$tag c)
         |  WHERE crank <= 1),
         |qa_$tag AS (
         |  SELECT query_id, cell FROM (
         |    SELECT e.vec_id AS query_id, c.centroid_id AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosine("e.embedding", "c.cvec")} DESC, c.centroid_id) AS crank
         |    FROM embeddings e CROSS JOIN cents_$tag c
         |    WHERE e.vec_id < 8)
         |  WHERE crank <= 2),
         |ret_$tag AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT cand.query_id, cand.neighbor_id,
         |      row_number() OVER (PARTITION BY cand.query_id ORDER BY
         |        ${cosine("q.embedding", "c.embedding")} DESC,
         |        cand.neighbor_id) AS rnk
         |    FROM (SELECT DISTINCT q.query_id, ca.neighbor_id
         |          FROM qa_$tag q JOIN ca_$tag ca ON ca.cell = q.cell) cand
         |    JOIN embeddings q ON q.vec_id = cand.query_id
         |    JOIN embeddings c ON c.vec_id = cand.neighbor_id)
         |  WHERE rnk <= 10),
         |h_$tag AS (
         |  SELECT r.query_id,
         |    CAST(coalesce(sum(CASE WHEN j.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits
         |  FROM ret_$tag r LEFT JOIN judge j
         |    ON r.query_id = j.query_id AND r.neighbor_id = j.neighbor_id
         |  GROUP BY 1)""".stripMargin
    s"""WITH qset AS (
       |  SELECT vec_id AS query_id, embedding AS qv
       |  FROM embeddings WHERE vec_id < 8),
       |exact_scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    ${cosine("q.qv", "e.embedding")} AS cosine
       |  FROM qset q CROSS JOIN embeddings e),
       |judge AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rnk
       |    FROM exact_scored) WHERE rnk <= 10),
       |relc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant
       |  FROM judge GROUP BY 1),
       |${index("old", "WHERE vec_id % 3 <> 0")},
       |${index("new", "")},
       |imb AS (
       |  SELECT (CAST(max(n) AS DOUBLE) * 16) / CAST(sum(n) AS DOUBLE)
       |    AS imbalance_before
       |  FROM (SELECT cell, count(*) AS n FROM ca_old GROUP BY 1)),
       |per AS (
       |  SELECT relc.query_id AS query,
       |    CAST(coalesce(ho.hits, 0) * 1000000 // relc.n_relevant AS BIGINT)
       |      AS recall_old_e6,
       |    CAST(coalesce(hn.hits, 0) * 1000000 // relc.n_relevant AS BIGINT)
       |      AS recall_new_e6
       |  FROM relc
       |  LEFT JOIN h_old ho ON ho.query_id = relc.query_id
       |  LEFT JOIN h_new hn ON hn.query_id = relc.query_id),
       |macro AS (
       |  SELECT
       |    CAST(sum(recall_old_e6) AS DOUBLE) /
       |      CAST(count(*) * 1000000 AS DOUBLE) AS macro_recall_old,
       |    CAST(sum(recall_new_e6) AS DOUBLE) /
       |      CAST(count(*) * 1000000 AS DOUBLE) AS macro_recall_new
       |  FROM per)
       |SELECT p.query, p.recall_old_e6, p.recall_new_e6,
       |  m.macro_recall_old, m.macro_recall_new, i.imbalance_before,
       |  (m.macro_recall_new >= m.macro_recall_old) AS recall_non_regressed
       |FROM per p CROSS JOIN macro m CROSS JOIN imb i
       |ORDER BY 1""".stripMargin
  }

  /** Generated oracle for the PQ ANN path: the md5-rank-sampled codebook is
    * derived from the embeddings table itself (same ids as the engine
    * side), then encoding (nearest codeword per subspace by
    * `dot − |c|²/2`, ties to the lowest code), per-query ADC lookup
    * tables, the approx-cosine candidate pool, and the exact re-rank are
    * replicated in SQL. Parameters mirror q80: 8 subspaces × 8 dims,
    * 16 codewords (smallest md5(id) ranks, j = id-sorted rank), pool =
    * k·rerankFactor = 40. Soundness
    * note: the ADC sum adds 8 doubles in GROUP-BY order on the DuckDB
    * side vs subspace order on the engine side — ulp drift there can
    * only reorder near-ties at the POOL boundary, and the final ranking
    * is the exact cosine computed identically on both sides.
    */
  val PqAnnOracle: String = {
    def dotSql(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))""".stripMargin
    def cosine(a: String, b: String): String =
      s"""${dotSql(a, b)}
         |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH cw AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
       |cws AS (
       |  SELECT j, m, list_slice(cvec, m * 8 + 1, m * 8 + 8) AS c
       |  FROM cw CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m)),
       |en AS (
       |  SELECT vec_id,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |enc AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT e.vec_id, c.m, c.j,
       |      row_number() OVER (PARTITION BY e.vec_id, c.m ORDER BY
       |        (${dotSql("list_slice(e.embedding, c.m * 8 + 1, c.m * 8 + 8)", "c.c")}
       |         - 0.5 * list_sum(list_transform(c.c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) DESC,
       |        c.j) AS rk
       |    FROM embeddings e CROSS JOIN cws c)
       |  WHERE rk = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.m, c.j,
       |    ${dotSql("list_slice(q.embedding, c.m * 8 + 1, c.m * 8 + 8)", "c.c")} AS v
       |  FROM embeddings q CROSS JOIN cws c WHERE q.vec_id < 8),
       |approx AS (
       |  SELECT l.query_id, enc.vec_id AS neighbor_id,
       |    sum(l.v) / (qn.nrm * cn.nrm) AS approx_cos
       |  FROM enc JOIN lut l ON l.m = enc.m AND l.j = enc.code
       |  JOIN en qn ON qn.vec_id = l.query_id
       |  JOIN en cn ON cn.vec_id = enc.vec_id
       |  GROUP BY l.query_id, enc.vec_id, qn.nrm, cn.nrm),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY approx_cos DESC, neighbor_id) AS crank
       |    FROM approx) WHERE crank <= 40),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${cosine("q.embedding", "c.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= 10""".stripMargin
  }

  /** Generated oracle for the random-projection path: the 16×64 seeded
    * Gaussian matrix is inlined at full round-trip double precision and
    * each output component is the same index-order float→double dot both
    * engines compute — bit-equal, no rank/sign indirection needed.
    */
  val RandomProjectionOracle: String = {
    val planes = ext.Similarity.projectionMatrix(inDim = 64, outDim = 16, seed = 42L)
    // %.17e: 17 significant digits round-trip any double, and the
    // exponent makes DuckDB parse each literal as DOUBLE — a bare decimal
    // literal list types as DECIMAL[], truncating the constants and
    // shifting components by an ulp (raw values here, unlike the
    // sign/rank-gated ANN oracles, must be BIT-equal)
    val values = planes.zipWithIndex
      .map { case (p, r) =>
        val row = p.map(v => String.format(java.util.Locale.ROOT, "%.17e", Double.box(v)))
        s"($r, [${row.mkString(", ")}])"
      }
      .mkString(",\n  ")
    s"""WITH planes AS (SELECT * FROM (VALUES
       |  $values) AS t(dim, pvec))
       |SELECT e.vec_id, CAST(p.dim AS INT) AS dim,
       |  list_sum(list_transform(list_zip(e.embedding, p.pvec),
       |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS value
       |FROM embeddings e CROSS JOIN planes p
       |ORDER BY 1, 2""".stripMargin
  }

  /** Generated oracle for char-trigram language ID: the per-language
    * trigram profiles are inlined; scoring/argmax mirror
    * `TextStats.langIdCharNgram` (first-wins ties).
    */
  val LangIdNgramOracle: String = {
    val scores = TextStats.LangTrigramProfiles.map { case (lang, grams) =>
      val arr = grams.map(g => "'" + g.replace("'", "''") + "'").mkString("[", ", ", "]")
      s"len(list_filter(tg, x -> list_contains($arr, x))) AS s_$lang"
    }.mkString(",\n       |    ")
    val langs = TextStats.LangTrigramProfiles.map(_._1)
    val all = langs.map("s_" + _).mkString(", ")
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map("s_" + _)
      val restMax = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
      s"WHEN s_$l >= $restMax THEN '$l'"
    }.mkString(" ")
    s"""WITH padded AS (
       |  SELECT doc_id,
       |    ' ' || trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) || ' ' AS p
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, greatest(length(p) - 2, 1)),
       |      i -> substr(p, CAST(i AS INT), 3)) AS tg
       |  FROM padded),
       |scored AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM grams)
       |SELECT doc_id,
       |  CASE WHEN greatest($all) = 0 THEN 'und'
       |       $cases
       |       ELSE '${langs.last}' END AS lang_pred
       |FROM scored""".stripMargin
  }


  /** Paired-bootstrap replay (q257): the [[BootstrapOracle]] draw
    * machinery per (variant, replicate), per-replicate mean
    * differences joined ON the replicate id (the pairing), rank-pick
    * CI, and the significance predicate — all from the same inlined
    * thresholds.
    */
  val BootstrapAbOracle: String = {
    val b = 64
    val list = ext.Bootstrap.PoissonThresholds.mkString("[", ", ", "]")
    s"""WITH ev AS (
       |  SELECT event_type AS g, event_id AS id,
       |    CAST(floor(value * 100) AS BIGINT) AS v
       |  FROM events
       |  WHERE event_id IS NOT NULL AND value IS NOT NULL
       |    AND event_type IN ('click', 'purchase')),
       |draws AS (
       |  SELECT e.g, b.b, e.v,
       |    md5('boot-v1|' || CAST(b.b AS VARCHAR) || '|'
       |      || CAST(e.id AS VARCHAR)) AS hx
       |  FROM ev e CROSS JOIN (SELECT unnest(range($b)) AS b) b),
       |mult AS (
       |  SELECT g, b, v, CAST(len(list_filter($list,
       |    t -> t <= ${hexFold("1", 12)})) AS BIGINT) AS m
       |  FROM draws),
       |reps AS (
       |  SELECT g, b, CAST(sum(m) AS BIGINT) AS n_eff,
       |    CAST(sum(m * v) AS BIGINT) AS total
       |  FROM mult GROUP BY 1, 2),
       |means AS (
       |  SELECT g, b, CAST(total AS DOUBLE) / CAST(n_eff AS DOUBLE)
       |    AS mean
       |  FROM reps WHERE n_eff > 0),
       |diffs AS (
       |  SELECT a.b, p.mean - a.mean AS mean
       |  FROM (SELECT b, mean FROM means WHERE g = 'click') a
       |  JOIN (SELECT b, mean FROM means WHERE g = 'purchase') p
       |    USING (b)),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM diffs),
       |ranked AS (
       |  SELECT mean, row_number() OVER (ORDER BY mean, b) AS rk
       |  FROM diffs),
       |ci AS (
       |  SELECT
       |    max(CASE WHEN rk = greatest(1, CAST(ceil(0.025 * nb) AS BIGINT))
       |      THEN mean END) AS lo,
       |    max(CASE WHEN rk = greatest(1, CAST(ceil(0.5 * nb) AS BIGINT))
       |      THEN mean END) AS mid,
       |    max(CASE WHEN rk = greatest(1, CAST(ceil(0.975 * nb) AS BIGINT))
       |      THEN mean END) AS hi
       |  FROM ranked CROSS JOIN nb),
       |pt AS (
       |  SELECT
       |    CAST(sum(CASE WHEN g = 'click' THEN v END) AS DOUBLE)
       |      / CAST(sum(CASE WHEN g = 'click' THEN 1 END) AS DOUBLE)
       |      AS mean_click,
       |    CAST(sum(CASE WHEN g = 'purchase' THEN v END) AS DOUBLE)
       |      / CAST(sum(CASE WHEN g = 'purchase' THEN 1 END) AS DOUBLE)
       |      AS mean_purchase
       |  FROM ev)
       |SELECT lo, mid, hi, (lo > 0.0 OR hi < 0.0) AS significant,
       |  mean_click, mean_purchase
       |FROM ci CROSS JOIN pt""".stripMargin
  }

  /** Ring replay (q255): both rings' sorted (point, shard) tables —
    * built by the SAME Scala constructor the operator inlines — become
    * SQL list literals; the owner walk is the identical
    * filter-count-and-wrap, the baseline the identical md5-mod.
    */
  val RingOracle: String = {
    def lists(n: Int): (String, String) = {
      val (p, sh) = ext.Ring.ringPoints(n, 64, "ring-v1")
      (p.mkString("[", ", ", "]"), sh.mkString("[", ", ", "]"))
    }
    val (p8, s8) = lists(8)
    val (p9, s9) = lists(9)
    def owner(points: String, shards: String, out: String): String =
      s"""$shards[CASE
         |  WHEN len(list_filter($points, p -> p < h))
         |    = len($points) THEN 1
         |  ELSE len(list_filter($points, p -> p < h)) + 1 END] AS $out"""
        .stripMargin
    s"""WITH k AS (
       |  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS k
       |  FROM orders WHERE o_orderkey IS NOT NULL),
       |h AS (SELECT k, ${hexFold("1", 12)} AS h
       |  FROM (SELECT k, md5(k) AS hx FROM k) t),
       |a AS (
       |  SELECT k, h,
       |    ${owner(p8, s8, "s8")},
       |    ${owner(p9, s9, "s9")},
       |    h % 8 AS m8, h % 9 AS m9
       |  FROM h),
       |loads AS (
       |  SELECT CAST(max(l) AS BIGINT) AS max_load8,
       |    CAST(min(l) AS BIGINT) AS min_load8
       |  FROM (SELECT s8, count(*) AS l FROM a GROUP BY 1) t),
       |mv AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
       |    CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS moved_ring,
       |    CAST(sum(CASE WHEN s8 <> s9 AND s9 <> 8 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS moved_wrong,
       |    CAST(sum(CASE WHEN m8 <> m9 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS moved_mod
       |  FROM a)
       |SELECT n_keys, moved_ring, moved_wrong, moved_mod,
       |  max_load8, min_load8
       |FROM mv CROSS JOIN loads""".stripMargin
  }

  /** Poisson-bootstrap replay (q254): the SAME integer CDF thresholds
    * [[ext.Bootstrap.PoissonThresholds]] inlines into the Spark plan,
    * the same keyed 48-bit md5 uniform per (replicate, row), BIGINT
    * replicate sums, one double division per replicate, and the CI
    * picks as `row_number` ranks under `(mean, b)` order.
    */
  val BootstrapOracle: String = {
    val b = 64
    val list = ext.Bootstrap.PoissonThresholds.mkString("[", ", ", "]")
    s"""WITH d AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS v
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
       |draws AS (
       |  SELECT b.b, d.v,
       |    md5('boot-v1|' || CAST(b.b AS VARCHAR) || '|'
       |      || CAST(d.doc_id AS VARCHAR)) AS hx
       |  FROM d CROSS JOIN (SELECT unnest(range($b)) AS b) b),
       |mult AS (
       |  SELECT b, v, CAST(len(list_filter($list,
       |    t -> t <= ${hexFold("1", 12)})) AS BIGINT) AS m
       |  FROM draws),
       |reps AS (
       |  SELECT b, CAST(sum(m) AS BIGINT) AS n_eff,
       |    CAST(sum(m * v) AS BIGINT) AS total
       |  FROM mult GROUP BY 1),
       |means AS (
       |  SELECT b, CAST(total AS DOUBLE) / CAST(n_eff AS DOUBLE) AS mean
       |  FROM reps WHERE n_eff > 0),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM means),
       |ranked AS (
       |  SELECT mean, row_number() OVER (ORDER BY mean, b) AS rk
       |  FROM means),
       |ci AS (
       |  SELECT
       |    max(CASE WHEN rk = greatest(1, CAST(ceil(0.025 * nb) AS BIGINT))
       |      THEN mean END) AS lo,
       |    max(CASE WHEN rk = greatest(1, CAST(ceil(0.5 * nb) AS BIGINT))
       |      THEN mean END) AS mid,
       |    max(CASE WHEN rk = greatest(1, CAST(ceil(0.975 * nb) AS BIGINT))
       |      THEN mean END) AS hi
       |  FROM ranked CROSS JOIN nb),
       |pt AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS point_mean
       |  FROM d)
       |SELECT lo, mid, hi, n_rows, point_mean
       |FROM ci CROSS JOIN pt""".stripMargin
  }

  /** Team-draft replay (q253): the six draft rounds unroll into CTE
    * pairs (counts → per-run best-unpicked → pick → selection union) —
    * the q232 MMR replay pattern; the tie coin and the click stand-in
    * are first-hex-char parities of keyed md5, folded with the same
    * integer CASE both engines share.
    */
  val InterleavingOracle: String = {
    val rounds = 6
    def hex1(arg: String): String =
      s"(CASE WHEN ascii(substr(md5($arg), 1, 1)) >= 97 " +
        s"THEN ascii(substr(md5($arg), 1, 1)) - 87 " +
        s"ELSE ascii(substr(md5($arg), 1, 1)) - 48 END)"
    val roundCtes = (1 to rounds).map { r =>
      val coin = hex1(s"'tdi-v1|' || query || '|' || '$r'")
      s"""cnt$r AS (
         |  SELECT q.query,
         |    coalesce(sum(CASE WHEN s.team = 'A' THEN 1 ELSE 0 END), 0)
         |      AS na,
         |    coalesce(sum(CASE WHEN s.team = 'B' THEN 1 ELSE 0 END), 0)
         |      AS nb
         |  FROM queries q LEFT JOIN sel${r - 1} s ON q.query = s.query
         |  GROUP BY 1),
         |ca$r AS (
         |  SELECT a.query, a.doc FROM runa a
         |  LEFT JOIN sel${r - 1} s ON a.query = s.query AND a.doc = s.doc
         |  WHERE s.doc IS NULL
         |  QUALIFY row_number() OVER (PARTITION BY a.query
         |    ORDER BY a.rank) = 1),
         |cb$r AS (
         |  SELECT b.query, b.doc FROM runb b
         |  LEFT JOIN sel${r - 1} s ON b.query = s.query AND b.doc = s.doc
         |  WHERE s.doc IS NULL
         |  QUALIFY row_number() OVER (PARTITION BY b.query
         |    ORDER BY b.rank) = 1),
         |pk$r AS (
         |  SELECT query, doc, CAST($r AS INT) AS pos, team FROM (
         |    SELECT c.query,
         |      CASE WHEN c.ch THEN coalesce(a.doc, b.doc)
         |           ELSE coalesce(b.doc, a.doc) END AS doc,
         |      CASE WHEN c.ch AND a.doc IS NOT NULL THEN 'A'
         |           WHEN c.ch THEN 'B'
         |           WHEN b.doc IS NOT NULL THEN 'B' ELSE 'A' END AS team
         |    FROM (SELECT query, na, nb,
         |        CASE WHEN na < nb THEN TRUE WHEN na > nb THEN FALSE
         |          ELSE ($coin % 2) = 0 END AS ch
         |      FROM cnt$r) c
         |    LEFT JOIN ca$r a ON c.query = a.query
         |    LEFT JOIN cb$r b ON c.query = b.query) t
         |  WHERE doc IS NOT NULL),
         |sel$r AS (
         |  SELECT query, doc, pos, team FROM sel${r - 1}
         |  UNION ALL SELECT query, doc, pos, team FROM pk$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (
       |  SELECT 'g' || CAST(doc_id % 3 AS VARCHAR) AS query,
       |    doc_id AS doc, n_chars
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
       |runa AS (
       |  SELECT query, doc, rank FROM (
       |    SELECT query, doc, CAST(row_number() OVER (
       |      PARTITION BY query ORDER BY n_chars DESC, doc) AS BIGINT)
       |      AS rank
       |    FROM d) t
       |  WHERE rank <= 6),
       |runb AS (
       |  SELECT query, doc, rank FROM (
       |    SELECT query, doc, CAST(row_number() OVER (
       |      PARTITION BY query ORDER BY doc DESC) AS BIGINT) AS rank
       |    FROM d) t
       |  WHERE rank <= 6),
       |queries AS (
       |  SELECT DISTINCT query FROM (
       |    SELECT query FROM runa UNION ALL SELECT query FROM runb) t),
       |sel0 AS (
       |  SELECT CAST(NULL AS VARCHAR) AS query, CAST(NULL AS BIGINT) AS doc,
       |    CAST(NULL AS INT) AS pos, CAST(NULL AS VARCHAR) AS team
       |  WHERE FALSE),
       |$roundCtes
       |SELECT query, doc, pos, team,
       |  (${hex1("'click|' || CAST(doc AS VARCHAR)")} % 2) = 0 AS clicked
       |FROM sel$rounds
       |ORDER BY 1, 3""".stripMargin
  }

  /** Streaming-HLL replay (q252): per-batch register keys fold to the
    * same registers as sketching the batch-prefix (cumulative) or the
    * batch-window item sets directly — the max-merge law — so the
    * oracle rebuilds both register tables per batch id from the
    * [[HllByGroupOracle]] integer machinery with grp = batch id.
    */
  /** Per-group streaming-HLL replay (q270): the [[StreamHllOracle]]
    * machinery with the group key threaded through every stage —
    * per-(batch, group) item sets, register folds, estimates, and
    * exact counts; the window estimate left-joins (a group can be
    * absent from the sliding range while its cumulative stands).
    */
  val StreamGroupHllOracle: String = {
    val p = 8; val m = 1 << p
    val alphaE6 = math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6).toLong
    val aConst = alphaE6 * m.toLong * m
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val rhoCase = (1 to 32)
      .map(i => s"WHEN wb >= ${1L << (32 - i)} THEN $i").mkString(" ")
    def estSql(src: String, out: String): String =
      s"""regs_$out AS (
         |  SELECT bid, grp, CAST(wa // ${1L << (32 - p)} AS INT) AS bucket,
         |    max(CASE $rhoCase ELSE 33 END) AS rho
         |  FROM $src GROUP BY 1, 2, 3),
         |agg_$out AS (
         |  SELECT bid, grp, CAST(count(*) AS BIGINT) AS nr,
         |    CAST(coalesce(sum(CAST(1 AS BIGINT) << (40 - rho)), 0)
         |      AS BIGINT) AS s
         |  FROM regs_$out GROUP BY 1, 2),
         |est_$out AS (
         |  SELECT bid, grp, CAST($aConst AS DOUBLE) / 1000000.0
         |    * 1099511627776.0
         |    / CAST(s + ($m - nr) * (CAST(1 AS BIGINT) << 40) AS DOUBLE)
         |    AS $out
         |  FROM agg_$out)""".stripMargin
    s"""WITH ev AS (
       |  SELECT event_id % 3 AS b, event_type AS grp,
       |    'u' || CAST(user_id AS VARCHAR) || ':'
       |      || CAST(event_id % 50 AS VARCHAR) AS item
       |  FROM events
       |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
       |    AND event_type IS NOT NULL),
       |bat(bid) AS (VALUES (0), (1), (2)),
       |di AS (SELECT DISTINCT b, grp, item FROM ev),
       |cum AS (
       |  SELECT DISTINCT bat.bid, di.grp, di.item
       |  FROM di JOIN bat ON di.b <= bat.bid),
       |win AS (
       |  SELECT DISTINCT bat.bid, di.grp, di.item
       |  FROM di JOIN bat ON di.b <= bat.bid AND di.b >= bat.bid - 1),
       |hc AS (SELECT bid, grp, md5(item) AS hx FROM cum),
       |hw AS (SELECT bid, grp, md5(item) AS hx FROM win),
       |wc AS (SELECT bid, grp, ${slice(0)} AS wa, ${slice(1)} AS wb FROM hc),
       |ww AS (SELECT bid, grp, ${slice(0)} AS wa, ${slice(1)} AS wb FROM hw),
       |${estSql("wc", "est_cum")},
       |${estSql("ww", "est_win")},
       |ex AS (
       |  SELECT bid, grp,
       |    CAST(count(DISTINCT item) AS BIGINT) AS exact_cum
       |  FROM cum GROUP BY 1, 2),
       |exw AS (
       |  SELECT bid, grp,
       |    CAST(count(DISTINCT item) AS BIGINT) AS exact_win
       |  FROM win GROUP BY 1, 2)
       |SELECT CAST(c.bid AS BIGINT) AS batch_id, c.grp, c.est_cum,
       |  w.est_win, ex.exact_cum, coalesce(exw.exact_win, 0) AS exact_win
       |FROM est_est_cum c
       |LEFT JOIN est_est_win w USING (bid, grp)
       |JOIN ex USING (bid, grp)
       |LEFT JOIN exw USING (bid, grp)
       |ORDER BY batch_id, grp""".stripMargin
  }

  val StreamHllOracle: String = {
    val p = 8; val m = 1 << p
    val alphaE6 = math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6).toLong
    val aConst = alphaE6 * m.toLong * m
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val rhoCase = (1 to 32)
      .map(i => s"WHEN wb >= ${1L << (32 - i)} THEN $i").mkString(" ")
    def estSql(src: String, out: String): String =
      s"""regs_$out AS (
         |  SELECT bid, CAST(wa // ${1L << (32 - p)} AS INT) AS bucket,
         |    max(CASE $rhoCase ELSE 33 END) AS rho
         |  FROM $src GROUP BY 1, 2),
         |agg_$out AS (
         |  SELECT bid, CAST(count(*) AS BIGINT) AS nr,
         |    CAST(coalesce(sum(CAST(1 AS BIGINT) << (40 - rho)), 0)
         |      AS BIGINT) AS s
         |  FROM regs_$out GROUP BY 1),
         |est_$out AS (
         |  SELECT bid, CAST($aConst AS DOUBLE) / 1000000.0
         |    * 1099511627776.0
         |    / CAST(s + ($m - nr) * (CAST(1 AS BIGINT) << 40) AS DOUBLE)
         |    AS $out
         |  FROM agg_$out)""".stripMargin
    s"""WITH ev AS (
       |  SELECT event_id % 3 AS b,
       |    'u' || CAST(user_id AS VARCHAR) || ':'
       |      || CAST(event_id % 50 AS VARCHAR) AS item
       |  FROM events
       |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
       |bat(bid) AS (VALUES (0), (1), (2)),
       |di AS (SELECT DISTINCT b, item FROM ev),
       |cum AS (
       |  SELECT DISTINCT bat.bid, di.item
       |  FROM di JOIN bat ON di.b <= bat.bid),
       |win AS (
       |  SELECT DISTINCT bat.bid, di.item
       |  FROM di JOIN bat ON di.b <= bat.bid AND di.b >= bat.bid - 1),
       |hc AS (SELECT bid, md5(item) AS hx FROM cum),
       |hw AS (SELECT bid, md5(item) AS hx FROM win),
       |wc AS (SELECT bid, ${slice(0)} AS wa, ${slice(1)} AS wb FROM hc),
       |ww AS (SELECT bid, ${slice(0)} AS wa, ${slice(1)} AS wb FROM hw),
       |${estSql("wc", "est_cum")},
       |${estSql("ww", "est_win")},
       |ex AS (
       |  SELECT bid,
       |    CAST(count(DISTINCT item) AS BIGINT) AS exact_cum
       |  FROM cum GROUP BY 1),
       |exw AS (
       |  SELECT bid,
       |    CAST(count(DISTINCT item) AS BIGINT) AS exact_win
       |  FROM win GROUP BY 1)
       |SELECT CAST(c.bid AS BIGINT) AS batch_id, c.est_cum, w.est_win,
       |  ex.exact_cum, exw.exact_win
       |FROM est_est_cum c JOIN est_est_win w USING (bid)
       |JOIN ex USING (bid) JOIN exw USING (bid)
       |ORDER BY 1""".stripMargin
  }

  /** KMV set-algebra replay (q251): the [[KmvOracle]] machinery plus
    * side-only survivor counts, difference scaling and the
    * `n_both / k_union` Jaccard estimator — the identical
    * multiply-then-divide association as the Spark expressions.
    */
  val KmvSetAlgebraOracle: String = {
    val k = 256
    val num = (k - 1).toLong << 48
    s"""WITH $ParitySplitWordCtes,
       |da AS (SELECT DISTINCT word FROM wa),
       |db AS (SELECT DISTINCT word FROM wb),
       |ha AS (SELECT DISTINCT ${hexFold("1", 12)} AS h
       |  FROM (SELECT md5(word) AS hx FROM da) t),
       |hb AS (SELECT DISTINCT ${hexFold("1", 12)} AS h
       |  FROM (SELECT md5(word) AS hx FROM db) t),
       |ska AS (SELECT h FROM ha ORDER BY h LIMIT $k),
       |skb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
       |sku AS (
       |  SELECT DISTINCT h FROM (
       |    SELECT h FROM ska UNION ALL SELECT h FROM skb) t
       |  ORDER BY h LIMIT $k),
       |fl AS (
       |  SELECT u.h,
       |    CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS ina,
       |    CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS inb
       |  FROM sku u LEFT JOIN ska a ON u.h = a.h
       |    LEFT JOIN skb b ON u.h = b.h),
       |un AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k_union,
       |    CAST(coalesce(sum(ina * inb), 0) AS BIGINT) AS n_both,
       |    CAST(coalesce(sum(ina * (1 - inb)), 0) AS BIGINT) AS n_only_a,
       |    CAST(coalesce(sum(inb * (1 - ina)), 0) AS BIGINT) AS n_only_b,
       |    coalesce(max(h), 0) AS kth
       |  FROM fl),
       |ue AS (
       |  SELECT *,
       |    CASE WHEN k_union < $k THEN CAST(k_union AS DOUBLE)
       |      ELSE CAST($num AS DOUBLE) / CAST(kth AS DOUBLE) END AS union_est
       |  FROM un),
       |ests AS (
       |  SELECT k_union, n_both, n_only_a, n_only_b, union_est,
       |    CASE WHEN k_union = 0 THEN 0.0
       |      ELSE CAST(n_both AS DOUBLE) * union_est
       |        / CAST(k_union AS DOUBLE) END AS intersect_est,
       |    CASE WHEN k_union = 0 THEN 0.0
       |      ELSE CAST(n_only_a AS DOUBLE) * union_est
       |        / CAST(k_union AS DOUBLE) END AS diff_a_est,
       |    CASE WHEN k_union = 0 THEN 0.0
       |      ELSE CAST(n_only_b AS DOUBLE) * union_est
       |        / CAST(k_union AS DOUBLE) END AS diff_b_est,
       |    CASE WHEN k_union = 0 THEN 0.0
       |      ELSE CAST(n_both AS DOUBLE)
       |        / CAST(k_union AS DOUBLE) END AS jaccard_est
       |  FROM ue),
       |ex AS (
       |  SELECT
       |    CAST(sum(ina * (1 - inb)) AS BIGINT) AS exact_only_a,
       |    CAST(sum(inb * (1 - ina)) AS BIGINT) AS exact_only_b,
       |    CAST(count(*) AS BIGINT) AS exact_union,
       |    CAST(sum(ina * inb) AS BIGINT) AS exact_intersect
       |  FROM (
       |    SELECT CASE WHEN a.word IS NULL THEN 0 ELSE 1 END AS ina,
       |      CASE WHEN b.word IS NULL THEN 0 ELSE 1 END AS inb
       |    FROM da a FULL OUTER JOIN db b ON a.word = b.word) t)
       |SELECT k_union, n_both, n_only_a, n_only_b, union_est,
       |  intersect_est, diff_a_est, diff_b_est, jaccard_est,
       |  exact_only_a, exact_only_b, exact_union, exact_intersect,
       |  CAST(exact_intersect AS DOUBLE) / CAST(exact_union AS DOUBLE)
       |    AS exact_jaccard
       |FROM ests CROSS JOIN ex""".stripMargin
  }

  /** Per-group HDR replay (q250): the [[HdrOracle]] integer machinery
    * partitioned by the group column — bucket ladder, per-group
    * cumulative pick, [lo, hi] bounds; half-histogram merging on the
    * Spark side must land on this one-shot per-group histogram.
    */
  val HdrByGroupOracle: String = {
    val ladder = (6 to 62).reverse
      .map(i => s"WHEN v >= ${1L << i} THEN $i").mkString(" ")
    s"""WITH vals AS (
       |  SELECT o_orderpriority AS grp,
       |    CAST(floor(o_totalprice) AS BIGINT) AS v
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
       |    AND o_orderkey IS NOT NULL),
       |bk AS (
       |  SELECT grp, CASE WHEN v < 32 THEN v
       |    ELSE (e - 5) * 32 + (v >> CAST(e - 5 AS INT)) END AS bucket
       |  FROM (SELECT grp, v, CASE $ladder ELSE 5 END AS e FROM vals) t),
       |hist AS (SELECT grp, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bk GROUP BY 1, 2),
       |n AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS total
       |  FROM hist GROUP BY 1),
       |cum AS (
       |  SELECT grp, bucket,
       |    sum(cnt) OVER (PARTITION BY grp ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS c
       |  FROM hist),
       |qs AS (
       |  SELECT CAST(0.5 AS DOUBLE) AS q
       |  UNION ALL SELECT CAST(0.95 AS DOUBLE)),
       |ranked AS (
       |  SELECT n.grp, q, greatest(CAST(1 AS BIGINT),
       |    CAST(ceil(q * total) AS BIGINT)) AS rank
       |  FROM qs CROSS JOIN n),
       |picked AS (
       |  SELECT r.grp, r.q, r.rank, CAST(min(c.bucket) AS BIGINT) AS bucket
       |  FROM ranked r JOIN cum c ON c.grp = r.grp AND c.c >= r.rank
       |  GROUP BY 1, 2, 3)
       |SELECT grp, q, rank, bucket,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE (bucket - (bucket // 32 - 1) * 32) << CAST(bucket // 32 - 1 AS INT)
       |    END AS BIGINT) AS lo,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE ((bucket - (bucket // 32 - 1) * 32 + 1) << CAST(bucket // 32 - 1 AS INT)) - 1
       |    END AS BIGINT) AS hi
       |FROM picked
       |ORDER BY 1, 2""".stripMargin
  }

  /** Per-group HLL replay (q249): the [[HllOracle]] integer machinery
    * GROUP-WISE — register max per (group, bucket), dyadic 2^(40−rho)
    * BIGINT sums with the absent-bucket correction, one double
    * division per group. Merging two half-sketches on the Spark side
    * must land on this same one-shot register table (union + max).
    */
  val HllByGroupOracle: String = {
    val p = 8; val m = 1 << p
    val alphaE6 = math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6).toLong
    val aConst = alphaE6 * m.toLong * m
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val rhoCase = (1 to 32)
      .map(i => s"WHEN wb >= ${1L << (32 - i)} THEN $i").mkString(" ")
    s"""WITH ev AS (
       |  SELECT event_type AS grp, 'u' || CAST(user_id AS VARCHAR) AS item
       |  FROM events
       |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
       |h AS (SELECT grp, md5(item) AS hx FROM ev),
       |w32 AS (SELECT grp, ${slice(0)} AS wa, ${slice(1)} AS wb FROM h),
       |regs AS (
       |  SELECT grp, CAST(wa // ${1L << (32 - p)} AS INT) AS bucket,
       |    max(CASE $rhoCase ELSE 33 END) AS rho
       |  FROM w32 GROUP BY 1, 2),
       |agg AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_registers,
       |    CAST(coalesce(sum(CAST(1 AS BIGINT) << (40 - rho)), 0)
       |      AS BIGINT) AS s
       |  FROM regs GROUP BY 1),
       |ex AS (SELECT grp, CAST(count(DISTINCT item) AS BIGINT) AS exact
       |  FROM ev GROUP BY 1)
       |SELECT a.grp, a.n_registers,
       |  CAST(a.s + ($m - a.n_registers) * (CAST(1 AS BIGINT) << 40)
       |    AS BIGINT) AS sum_scaled,
       |  CAST($aConst AS DOUBLE) / 1000000.0 * 1099511627776.0
       |    / CAST(a.s + ($m - a.n_registers) * (CAST(1 AS BIGINT) << 40)
       |      AS DOUBLE) AS estimate,
       |  e.exact
       |FROM agg a JOIN ex e USING (grp)
       |ORDER BY 1""".stripMargin
  }

  /** Approx-distinct-users replay (q22): the [[HllByGroupOracle]]
    * machinery at p = 5 (raw-regime at the fixture's cardinality),
    * output reduced to the gate's (event_type, approx_users) shape —
    * one exact-integer register fold per group, one double division.
    */
  val ApproxDistinctOracle: String = {
    val p = 5; val m = 1 << p
    val alphaE6 = math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6).toLong
    val aConst = alphaE6 * m.toLong * m
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val rhoCase = (1 to 32)
      .map(i => s"WHEN wb >= ${1L << (32 - i)} THEN $i").mkString(" ")
    s"""WITH ev AS (
       |  SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS item
       |  FROM events
       |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
       |h AS (SELECT grp, md5(item) AS hx FROM ev),
       |w32 AS (SELECT grp, ${slice(0)} AS wa, ${slice(1)} AS wb FROM h),
       |regs AS (
       |  SELECT grp, CAST(wa // ${1L << (32 - p)} AS INT) AS bucket,
       |    max(CASE $rhoCase ELSE 33 END) AS rho
       |  FROM w32 GROUP BY 1, 2),
       |agg AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
       |    CAST(coalesce(sum(CAST(1 AS BIGINT) << (40 - rho)), 0)
       |      AS BIGINT) AS s
       |  FROM regs GROUP BY 1)
       |SELECT grp AS event_type,
       |  CAST($aConst AS DOUBLE) / 1000000.0 * 1099511627776.0
       |    / CAST(s + ($m - n) * (CAST(1 AS BIGINT) << 40)
       |      AS DOUBLE) AS approx_users
       |FROM agg
       |ORDER BY 1""".stripMargin
  }

  /** Group-sketch overlap replay (q39): per-source shingle sets (the
    * q13 shingle construction, exploded) → per-source HLL registers at
    * p = 8 → per-source raw estimates, pairwise UNION registers (max
    * rho over the two groups — the merge law IS the union sketch), and
    * the inclusion–exclusion Jaccard, every estimate the same
    * one-division-of-exact-integers form the engine computes.
    */
  val GroupSketchOracle: String = {
    val p = 8; val m = 1 << p
    val alphaE6 = math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6).toLong
    val aConst = alphaE6 * m.toLong * m
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val rhoCase = (1 to 32)
      .map(i => s"WHEN wb >= ${1L << (32 - i)} THEN $i").mkString(" ")
    def est(n: String, s: String): String =
      s"CAST($aConst AS DOUBLE) / 1000000.0 * 1099511627776.0 " +
        s"/ CAST($s + ($m - $n) * (CAST(1 AS BIGINT) << 40) AS DOUBLE)"
    s"""WITH toks AS (
       |  SELECT source,
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
       |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
       |sh AS (
       |  SELECT source AS grp,
       |    unnest(list_distinct(list_transform(
       |      generate_series(1, greatest(len(t) - 2, 1)),
       |      i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS item
       |  FROM toks),
       |h AS (SELECT grp, md5(item) AS hx FROM sh),
       |w32 AS (SELECT grp, ${slice(0)} AS wa, ${slice(1)} AS wb FROM h),
       |regs AS (
       |  SELECT grp, CAST(wa // ${1L << (32 - p)} AS INT) AS bucket,
       |    max(CASE $rhoCase ELSE 33 END) AS rho
       |  FROM w32 GROUP BY 1, 2),
       |agg AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
       |    CAST(coalesce(sum(CAST(1 AS BIGINT) << (40 - rho)), 0)
       |      AS BIGINT) AS s
       |  FROM regs GROUP BY 1),
       |est AS (SELECT grp, ${est("n", "s")} AS e FROM agg),
       |pairs AS (
       |  SELECT a.grp AS src_a, b.grp AS src_b
       |  FROM est a JOIN est b ON a.grp < b.grp),
       |uregs AS (
       |  SELECT p.src_a, p.src_b, r.bucket, max(r.rho) AS rho
       |  FROM pairs p JOIN regs r ON r.grp = p.src_a OR r.grp = p.src_b
       |  GROUP BY 1, 2, 3),
       |uagg AS (
       |  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n,
       |    CAST(coalesce(sum(CAST(1 AS BIGINT) << (40 - rho)), 0)
       |      AS BIGINT) AS s
       |  FROM uregs GROUP BY 1, 2),
       |uest AS (
       |  SELECT src_a, src_b, ${est("n", "s")} AS est_union FROM uagg)
       |SELECT u.src_a, u.src_b, ea.e AS est_a, eb.e AS est_b,
       |  u.est_union,
       |  least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
       |    (ea.e + eb.e - u.est_union) / u.est_union)) AS est_jaccard
       |FROM uest u
       |JOIN est ea ON ea.grp = u.src_a
       |JOIN est eb ON eb.grp = u.src_b
       |ORDER BY 1, 2""".stripMargin
  }

  /** Zone-map replay (q248): per-month min/max/row stats, keep test
    * `vmax ≥ lo AND vmin ≤ hi` (NULL stats = all-NULL zone = pruned),
    * scan bound = kept-zone row sum, and the soundness check — rows
    * matching a predicate inside its pruned zones — via the same
    * zone-key join.
    */
  val ZoneMapOracle: String =
    s"""WITH preds(pred_id, lo, hi) AS (
       |  VALUES (1, 9100, 9500), (2, 10000, 10031), (3, 0, 100)),
       |o AS (
       |  SELECT strftime(o_orderdate, '%Y%m') AS zone,
       |    date_diff('day', DATE '1970-01-01',
       |      CAST(o_orderdate AS DATE)) AS day
       |  FROM orders WHERE o_orderdate IS NOT NULL),
       |zones AS (
       |  SELECT zone, CAST(count(*) AS BIGINT) AS n_rows,
       |    min(day) AS vmin, max(day) AS vmax
       |  FROM o GROUP BY 1),
       |cls AS (
       |  SELECT p.pred_id, z.zone, z.n_rows,
       |    (z.vmin IS NOT NULL AND z.vmax >= p.lo AND z.vmin <= p.hi)
       |      AS kept
       |  FROM zones z CROSS JOIN preds p),
       |per AS (
       |  SELECT pred_id, CAST(count(*) AS BIGINT) AS n_zones,
       |    CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_pruned,
       |    CAST(sum(CASE WHEN kept THEN n_rows ELSE 0 END) AS BIGINT)
       |      AS scan_bound
       |  FROM cls GROUP BY 1),
       |exact AS (
       |  SELECT p.pred_id, CAST(sum(CASE WHEN o.day BETWEEN p.lo AND p.hi
       |    THEN 1 ELSE 0 END) AS BIGINT) AS exact_rows
       |  FROM o CROSS JOIN preds p GROUP BY 1),
       |leaked AS (
       |  SELECT c.pred_id, CAST(count(*) AS BIGINT) AS leaked_rows
       |  FROM o JOIN cls c ON o.zone = c.zone AND NOT c.kept
       |  JOIN preds p ON p.pred_id = c.pred_id
       |  WHERE o.day BETWEEN p.lo AND p.hi
       |  GROUP BY 1)
       |SELECT CAST(per.pred_id AS BIGINT) AS pred_id, per.n_zones,
       |  per.n_pruned, per.scan_bound, e.exact_rows,
       |  coalesce(l.leaked_rows, 0) AS leaked_rows
       |FROM per JOIN exact e USING (pred_id)
       |LEFT JOIN leaked l USING (pred_id)
       |ORDER BY 1""".stripMargin

  /** Streaming-HDR replay (q247): the [[HdrOracle]] integer machinery
    * per batch PREFIX — histogram over batches ≤ b equals the
    * accumulated LSM state after batch b by sum-mergeability, so the
    * running quantile picks replay from prefix-filtered bucket counts.
    */
  val StreamHdrOracle: String = {
    val ladder = (6 to 62).reverse
      .map(i => s"WHEN v >= ${1L << i} THEN $i").mkString(" ")
    s"""WITH vals AS (
       |  SELECT o_orderkey % 3 AS b,
       |    CAST(floor(o_totalprice) AS BIGINT) AS v
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL),
       |bat AS (SELECT * FROM (VALUES (0), (1), (2)) t(bid)),
       |bk AS (
       |  SELECT b, CASE WHEN v < 32 THEN v
       |    ELSE (e - 5) * 32 + (v >> CAST(e - 5 AS INT)) END AS bucket
       |  FROM (SELECT b, v, CASE $ladder ELSE 5 END AS e FROM vals) t),
       |hist AS (
       |  SELECT bat.bid, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bk JOIN bat ON bk.b <= bat.bid GROUP BY 1, 2),
       |n AS (SELECT bid, CAST(sum(cnt) AS BIGINT) AS total
       |  FROM hist GROUP BY 1),
       |cum AS (
       |  SELECT bid, bucket,
       |    sum(cnt) OVER (PARTITION BY bid ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS c
       |  FROM hist),
       |qs AS (
       |  SELECT CAST(0.5 AS DOUBLE) AS q
       |  UNION ALL SELECT CAST(0.9 AS DOUBLE)
       |  UNION ALL SELECT CAST(0.99 AS DOUBLE)),
       |ranked AS (
       |  SELECT bid, q, greatest(CAST(1 AS BIGINT),
       |    CAST(ceil(q * total) AS BIGINT)) AS rank
       |  FROM qs CROSS JOIN n),
       |picked AS (
       |  SELECT r.bid, r.q, r.rank, CAST(min(c.bucket) AS BIGINT) AS bucket
       |  FROM ranked r JOIN cum c ON c.bid = r.bid AND c.c >= r.rank
       |  GROUP BY 1, 2, 3)
       |SELECT CAST(bid AS BIGINT) AS batch_id, q, rank, bucket,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE (bucket - (bucket // 32 - 1) * 32) << CAST(bucket // 32 - 1 AS INT)
       |    END AS BIGINT) AS lo,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE ((bucket - (bucket // 32 - 1) * 32 + 1) << CAST(bucket // 32 - 1 AS INT)) - 1
       |    END AS BIGINT) AS hi
       |FROM picked
       |ORDER BY 1, 2""".stripMargin
  }

  /** Windowed/decayed streaming-HDR replay (q276): the
    * [[StreamHdrOracle]] machinery with per-STATE histograms — window
    * states are range-filtered per-(batch, bucket) sums, the decay
    * state scales each batch's counts by its integer freshness factor
    * (2^((span−age)/h)) — then the same total/cumulative/rank-pick
    * chain from every state.
    */
  val StreamHdrWindowOracle: String = {
    val ladder = (6 to 62).reverse
      .map(i => s"WHEN v >= ${1L << i} THEN $i").mkString(" ")
    def state(tag: String, bid: Int, kind: String, bPred: String,
              factor: String): String =
      s"""h$tag AS (
         |  SELECT bucket, CAST(sum(cnt * $factor) AS BIGINT) AS cnt
         |  FROM bhist WHERE $bPred GROUP BY 1),
         |n$tag AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM h$tag),
         |c$tag AS (
         |  SELECT bucket, sum(cnt) OVER (ORDER BY bucket
         |    ROWS UNBOUNDED PRECEDING) AS c
         |  FROM h$tag),
         |p$tag AS (
         |  SELECT CAST($bid AS BIGINT) AS batch_id, '$kind' AS kind,
         |    r.q, r.rank, CAST(min(c.bucket) AS BIGINT) AS bucket
         |  FROM (SELECT q, greatest(CAST(1 AS BIGINT),
         |      CAST(ceil(q * total) AS BIGINT)) AS rank
         |    FROM qs CROSS JOIN n$tag) r
         |  JOIN c$tag c ON c.c >= r.rank
         |  GROUP BY 3, 4)""".stripMargin
    s"""WITH vals AS (
       |  SELECT o_orderkey % 3 AS b,
       |    CAST(floor(o_totalprice) AS BIGINT) AS v
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL),
       |bk AS (
       |  SELECT b, CASE WHEN v < 32 THEN v
       |    ELSE (e - 5) * 32 + (v >> CAST(e - 5 AS INT)) END AS bucket
       |  FROM (SELECT b, v, CASE $ladder ELSE 5 END AS e FROM vals) t),
       |bhist AS (
       |  SELECT b, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bk GROUP BY 1, 2),
       |qs AS (
       |  SELECT CAST(0.5 AS DOUBLE) AS q
       |  UNION ALL SELECT CAST(0.99 AS DOUBLE)),
       |${state("w0", 0, "window", "b >= 0 AND b < 1", "1")},
       |${state("w1", 1, "window", "b >= 0 AND b < 2", "1")},
       |${state("w2", 2, "window", "b >= 1 AND b < 3", "1")},
       |${state("dd", 2, "decay", "b >= 0 AND b < 3",
          "(CASE b WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)")},
       |allp AS (
       |  SELECT * FROM pw0 UNION ALL SELECT * FROM pw1
       |  UNION ALL SELECT * FROM pw2 UNION ALL SELECT * FROM pdd)
       |SELECT batch_id, kind, q, rank, bucket,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE (bucket - (bucket // 32 - 1) * 32) << CAST(bucket // 32 - 1 AS INT)
       |    END AS BIGINT) AS lo,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE ((bucket - (bucket // 32 - 1) * 32 + 1) << CAST(bucket // 32 - 1 AS INT)) - 1
       |    END AS BIGINT) AS hi
       |FROM allp
       |ORDER BY 1, 2, 3""".stripMargin
  }

  /** Per-group streaming-HDR replay (q271): the [[StreamHdrOracle]]
    * machinery with the group key threaded through every stage —
    * per-(batch-prefix, group) histograms, totals, cumulative sums,
    * and rank picks.
    */
  val StreamGroupHdrOracle: String = {
    val ladder = (6 to 62).reverse
      .map(i => s"WHEN v >= ${1L << i} THEN $i").mkString(" ")
    s"""WITH vals AS (
       |  SELECT o_orderkey % 3 AS b, o_orderpriority AS grp,
       |    CAST(floor(o_totalprice) AS BIGINT) AS v
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
       |    AND o_orderpriority IS NOT NULL),
       |bat AS (SELECT * FROM (VALUES (0), (1), (2)) t(bid)),
       |bk AS (
       |  SELECT b, grp, CASE WHEN v < 32 THEN v
       |    ELSE (e - 5) * 32 + (v >> CAST(e - 5 AS INT)) END AS bucket
       |  FROM (SELECT b, grp, v, CASE $ladder ELSE 5 END AS e FROM vals) t),
       |hist AS (
       |  SELECT bat.bid, grp, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bk JOIN bat ON bk.b <= bat.bid GROUP BY 1, 2, 3),
       |n AS (SELECT bid, grp, CAST(sum(cnt) AS BIGINT) AS total
       |  FROM hist GROUP BY 1, 2),
       |cum AS (
       |  SELECT bid, grp, bucket,
       |    sum(cnt) OVER (PARTITION BY bid, grp ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS c
       |  FROM hist),
       |qs AS (
       |  SELECT CAST(0.5 AS DOUBLE) AS q
       |  UNION ALL SELECT CAST(0.99 AS DOUBLE)),
       |ranked AS (
       |  SELECT bid, grp, q, greatest(CAST(1 AS BIGINT),
       |    CAST(ceil(q * total) AS BIGINT)) AS rank
       |  FROM qs CROSS JOIN n),
       |picked AS (
       |  SELECT r.bid, r.grp, r.q, r.rank,
       |    CAST(min(c.bucket) AS BIGINT) AS bucket
       |  FROM ranked r JOIN cum c ON c.bid = r.bid AND c.grp = r.grp
       |    AND c.c >= r.rank
       |  GROUP BY 1, 2, 3, 4)
       |SELECT CAST(bid AS BIGINT) AS batch_id, grp, q, rank, bucket,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE (bucket - (bucket // 32 - 1) * 32) << CAST(bucket // 32 - 1 AS INT)
       |    END AS BIGINT) AS lo,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE ((bucket - (bucket // 32 - 1) * 32 + 1) << CAST(bucket // 32 - 1 AS INT)) - 1
       |    END AS BIGINT) AS hi
       |FROM picked
       |ORDER BY 1, 2, 3""".stripMargin
  }

  /** BPE merge-learning replay — the DuckDB twin of
    * `ext.Bpe.learnFromWordCounts`, unrolled over `rounds` rounds (the
    * q213 iterative-replay stance): emits CTEs `wc`/`w0` (word counts
    * and initial char+`</w>` symbol strings, TAB-packed — symbols can
    * never contain whitespace, the tokenizer normalized it away) and
    * per round `p<k>` (adjacent-pair weighted counts), `b<k>` (the
    * (count, l, r) struct argmax — DuckDB struct max is field-order
    * lexicographic, identical to Spark's max(struct)), `m<k>` (the
    * emitted merge row; empty once exhausted below minPairCount = 2),
    * and `w<k>` — the merge applied via a `list_reduce` left fold:
    * fusing never cascades within a round because the fused symbol
    * l||r can never equal l again (r is nonempty), so the fold is
    * exactly the engine's left-to-right scan. Every CTE is
    * MATERIALIZED: each `w<k>` is referenced twice and DuckDB's
    * inlining would otherwise grow the plan exponentially in rounds.
    * Caller prepends the corpus-specific `tok` CTE producing
    * one `word` row per token.
    */
  def bpeLearnSql(rounds: Int): String = {
    val T = "chr(9)"
    def round(k: Int): String =
      s"""p$k AS MATERIALIZED (
         |  SELECT ss[u.i] AS l, ss[u.i + 1] AS r, CAST(sum(n) AS BIGINT) AS c
         |  FROM (SELECT n, string_split(syms, $T) AS ss FROM w${k - 1}) t,
         |    unnest(generate_series(1, len(ss) - 1)) u(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT max(struct_pack(c := c, l := l, r := r)) AS m
         |  FROM p$k WHERE c >= 2),
         |m$k AS MATERIALIZED (
         |  SELECT CAST(${k - 1} AS INT) AS rank, m.l AS "left",
         |    m.r AS "right", m.c AS pair_count
         |  FROM b$k WHERE m IS NOT NULL),
         |w$k AS MATERIALIZED (
         |  SELECT word, n,
         |    list_reduce(string_split(syms, $T),
         |      (acc, x) -> CASE WHEN x = bb.r
         |          AND string_split(acc, $T)[-1] = bb.l
         |        THEN acc || x ELSE acc || $T || x END) AS syms
         |  FROM w${k - 1}
         |  CROSS JOIN (SELECT m.l AS l, m.r AS r FROM b$k) bb)""".stripMargin
    s"""wc AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT word, n,
       |    array_to_string(list_concat(ch[:len(ch) - 1],
       |      [ch[-1] || '</w>']), $T) AS syms
       |  FROM (SELECT word, n, string_split(word, '') AS ch FROM wc) t),
       |${(1 to rounds).map(round).mkString(",\n")},
       |mm AS MATERIALIZED (
       |  ${(1 to rounds).map(k => s"SELECT * FROM m$k")
            .mkString("\n  UNION ALL ")})""".stripMargin
  }

  /** The shared token CTE both BPE oracles learn from — one `word` row
    * per whitespace token of the documents corpus, mirroring
    * `Bpe.wordCounts`'s normalize/split/nonempty exactly.
    */
  val BpeTokCte: String =
    s"""tok AS (
       |  SELECT u.w AS word
       |  FROM (SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |        FROM documents WHERE text IS NOT NULL) d,
       |    unnest(string_split(d.t, ' ')) u(w)
       |  WHERE u.w <> '')""".stripMargin

  /** Widened t-digest re-cluster replay — the DuckDB twin of
    * `ext.TDigest.reclusterWiden`: given an input CTE
    * `in(grp?, weight, sumv, vmin, vmax)` (a union of digests), emits
    * CTEs `<out>r` (cumulative-weight rank window), `<out>c` (k₀
    * cluster assignment), `<out>b` (per-cluster bands + exact
    * weight/sum aggregates), `<out>e` (per-centroid rank ENVELOPES:
    * `minr` = Σ weight over `vmax_j < vmin_i`, `maxr` = Σ weight over
    * `vmin_j ≤ vmax_i`, minus one — the merged ranks centroid `i` can
    * possibly occupy), and `<out>` — the merged digest with each
    * cluster's `[vmin, vmax]` widened over every centroid whose
    * envelope intersects the cluster's band, so the bracket stays
    * sound when input digests OVERLAP in value space. The envelope
    * sums are correlated subqueries here (the frame is digest-sized);
    * the Spark side computes the same sums with boundary-event
    * windows. All arithmetic integer/decimal exact.
    */
  def tdigestReclusterSql(in: String, out: String, delta: Int,
                          grp: Option[String] = None): String = {
    val g = grp.map(_ + ", ").getOrElse("")
    val pb = grp.map(c => s"PARTITION BY $c").getOrElse("")
    val corr = grp.map(c => s"b.$c = a.$c AND ").getOrElse("")
    val bandCorr = grp.map(c => s"e.$c = cb.$c AND ").getOrElse("")
    val cbKeys = if (grp.isDefined) "1, 2" else "1"
    val outKeys = if (grp.isDefined) "1, 2, 3, 4" else "1, 2, 3"
    s"""${out}r AS (
       |  SELECT $g weight, sumv, vmin, vmax,
       |    sum(weight) OVER ($pb
       |      ORDER BY vmin, vmax, weight, sumv
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(weight) OVER ($pb) AS n
       |  FROM $in),
       |${out}c AS (
       |  SELECT *, ((cum - weight) * $delta) // n AS cluster
       |  FROM ${out}r),
       |${out}b AS (
       |  SELECT $g cluster, CAST(sum(weight) AS BIGINT) AS weight,
       |    CAST(sum(sumv) AS DECIMAL(28,8)) AS sumv,
       |    min(cum - weight) AS blo, max(cum) - 1 AS bhi
       |  FROM ${out}c GROUP BY $cbKeys),
       |${out}e AS (
       |  SELECT a.*,
       |    coalesce((SELECT sum(b.weight) FROM ${out}c b
       |              WHERE $corr b.vmax < a.vmin), 0) AS minr,
       |    (SELECT sum(b.weight) FROM ${out}c b
       |     WHERE $corr b.vmin <= a.vmax) - 1 AS maxr
       |  FROM (SELECT DISTINCT $g vmin, vmax FROM ${out}c) a),
       |$out AS (
       |  SELECT ${grp.map(c => s"cb.$c, ").getOrElse("")}cb.cluster,
       |    cb.weight, cb.sumv,
       |    min(e.vmin) AS vmin, max(e.vmax) AS vmax
       |  FROM ${out}b cb JOIN ${out}e e
       |    ON $bandCorr e.maxr >= cb.blo AND e.minr <= cb.bhi
       |  GROUP BY $outKeys)""".stripMargin
  }

  /** Per-group streaming-t-digest replay (q267): the q260 fold
    * machinery with the group key carried through every stage —
    * per-(batch, group) summarize, group-partitioned widened
    * re-clusters ([[tdigestReclusterSql]] with grp), per-group quantile
    * picks replayed from BOTH fold states.
    */
  val StreamGroupTDigestOracle: String = {
    val delta = 16
    def summarize(b: Int): String =
      s"""w$b AS (
         |  SELECT shard, v, CAST(count(*) AS BIGINT) AS w
         |  FROM vals WHERE b = $b GROUP BY 1, 2),
         |rk$b AS (
         |  SELECT shard, v, w,
         |    sum(w) OVER (PARTITION BY shard ORDER BY v) AS cum,
         |    sum(w) OVER (PARTITION BY shard) AS n
         |  FROM w$b),
         |dig$b AS (
         |  SELECT shard, CAST(sum(w) AS BIGINT) AS weight,
         |    CAST(sum(v * w) AS DECIMAL(28,8)) AS sumv,
         |    min(v) AS vmin, max(v) AS vmax
         |  FROM (SELECT shard, v, w, ((cum - w) * $delta) // n AS cluster
         |        FROM rk$b) t
         |  GROUP BY shard, cluster)""".stripMargin
    def pick(b: Int, dig: String): String =
      s"""k$b AS (
         |  SELECT shard, weight, sumv, vmin, vmax,
         |    sum(weight) OVER (PARTITION BY shard
         |      ORDER BY vmin, vmax, weight, sumv
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(weight) OVER (PARTITION BY shard) AS n
         |  FROM $dig),
         |p$b AS (
         |  SELECT CAST($b AS BIGINT) AS batch_id, shard, qi, q, n,
         |    CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS target_rank,
         |    weight, vmin, vmax, cum - weight AS bef
         |  FROM qs JOIN k$b
         |    ON CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT)
         |      BETWEEN cum - weight AND cum - 1)""".stripMargin
    val est = "CAST(vmin AS DOUBLE) + CAST(vmax - vmin AS DOUBLE) * " +
      "(CAST(target_rank - bef AS DOUBLE) / " +
      "CAST(greatest(weight - 1, 1) AS DOUBLE))"
    s"""WITH vals AS (
       |  SELECT o_orderkey % 2 AS b, o_orderpriority AS shard,
       |    CAST(o_totalprice AS DECIMAL(28,8)) AS v
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
       |    AND o_orderpriority IS NOT NULL),
       |qs(qi, q) AS (VALUES (0, 0.5), (1, 0.9)),
       |${summarize(0)},
       |${summarize(1)},
       |${tdigestReclusterSql("dig0", "f1", delta, grp = Some("shard"))},
       |u2 AS (
       |  SELECT shard, weight, sumv, vmin, vmax FROM f1
       |  UNION ALL
       |  SELECT shard, weight, sumv, vmin, vmax FROM dig1),
       |${tdigestReclusterSql("u2", "f2", delta, grp = Some("shard"))},
       |${pick(0, "f1")},
       |${pick(1, "f2")},
       |allp AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1)
       |SELECT batch_id, shard AS grp, CAST(qi AS BIGINT) AS qi,
       |  CAST(q AS DOUBLE) AS q, CAST(n AS BIGINT) AS n, target_rank,
       |  weight, CAST(vmin AS DOUBLE) AS vmin_d,
       |  CAST(vmax AS DOUBLE) AS vmax_d, $est AS estimate,
       |  (CAST(vmin AS DOUBLE) <= $est AND $est <= CAST(vmax AS DOUBLE))
       |    AS est_in_bracket
       |FROM allp ORDER BY batch_id, grp, qi""".stripMargin
  }

  /** Streaming-t-digest replay (q260): the q259 machinery unrolled
    * over the strict per-batch left fold — per-shard summarize of each
    * batch, then `f_{i} = recluster(f_{i-1} ∪ dig_i)`, with the
    * quantile band-containment pick replayed from EVERY fold state so
    * the gate checks the accumulation at each step. All arithmetic up
    * to the final interpolation double is integer/decimal exact, so
    * the fold replays bit-for-bit.
    */
  val StreamTDigestOracle: String = {
    val delta = 32
    def summarize(b: Int): String =
      s"""w$b AS (
         |  SELECT shard, v, CAST(count(*) AS BIGINT) AS w
         |  FROM vals WHERE b = $b GROUP BY 1, 2),
         |rk$b AS (
         |  SELECT shard, v, w,
         |    sum(w) OVER (PARTITION BY shard ORDER BY v) AS cum,
         |    sum(w) OVER (PARTITION BY shard) AS n
         |  FROM w$b),
         |dig$b AS (
         |  SELECT CAST(sum(w) AS BIGINT) AS weight,
         |    CAST(sum(v * w) AS DECIMAL(28,8)) AS sumv,
         |    min(v) AS vmin, max(v) AS vmax
         |  FROM (SELECT shard, v, w, ((cum - w) * $delta) // n AS cluster
         |        FROM rk$b) t
         |  GROUP BY shard, cluster)""".stripMargin
    // each fold step replays the widened re-cluster (sound brackets
    // under batch/accumulator overlap — the drifting-stream case)
    def recluster(in: String, out: String): String =
      tdigestReclusterSql(in, out, delta)
    def union(a: String, b: String, out: String): String =
      s"""$out AS (
         |  SELECT weight, sumv, vmin, vmax FROM $a
         |  UNION ALL
         |  SELECT weight, sumv, vmin, vmax FROM $b)""".stripMargin
    def pick(b: Int, dig: String): String =
      s"""k$b AS (
         |  SELECT weight, sumv, vmin, vmax,
         |    sum(weight) OVER (ORDER BY vmin, vmax, weight, sumv
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(weight) OVER () AS n
         |  FROM $dig),
         |p$b AS (
         |  SELECT CAST($b AS BIGINT) AS batch_id, qi, q, n,
         |    CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS target_rank,
         |    weight, vmin, vmax, cum - weight AS bef
         |  FROM qs JOIN k$b
         |    ON CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT)
         |      BETWEEN cum - weight AND cum - 1)""".stripMargin
    val est = "CAST(vmin AS DOUBLE) + CAST(vmax - vmin AS DOUBLE) * " +
      "(CAST(target_rank - bef AS DOUBLE) / " +
      "CAST(greatest(weight - 1, 1) AS DOUBLE))"
    s"""WITH vals AS (
       |  SELECT o_orderkey % 3 AS b, o_custkey % 4 AS shard,
       |    CAST(o_totalprice AS DECIMAL(28,8)) AS v
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
       |    AND o_custkey IS NOT NULL),
       |qs(qi, q) AS (VALUES (0, 0.5), (1, 0.9)),
       |${summarize(0)},
       |${summarize(1)},
       |${summarize(2)},
       |${recluster("dig0", "f1")},
       |${union("f1", "dig1", "u2")},
       |${recluster("u2", "f2")},
       |${union("f2", "dig2", "u3")},
       |${recluster("u3", "f3")},
       |${pick(0, "f1")},
       |${pick(1, "f2")},
       |${pick(2, "f3")},
       |allp AS (
       |  SELECT * FROM p0 UNION ALL SELECT * FROM p1
       |  UNION ALL SELECT * FROM p2)
       |SELECT batch_id, CAST(qi AS BIGINT) AS qi, CAST(q AS DOUBLE) AS q,
       |  CAST(n AS BIGINT) AS n, target_rank, weight,
       |  CAST(vmin AS DOUBLE) AS vmin_d, CAST(vmax AS DOUBLE) AS vmax_d,
       |  $est AS estimate,
       |  (CAST(vmin AS DOUBLE) <= $est AND $est <= CAST(vmax AS DOUBLE))
       |    AS est_in_bracket
       |FROM allp ORDER BY 1, 2""".stripMargin
  }

  /** Per-group windowed/decayed streaming-t-digest replay (q277):
    * [[StreamTDigestWindowOracle]]'s window machinery with the group
    * key carried through every stage — per-(batch, group) summarize,
    * group-partitioned widened re-clusters over the window members
    * (and over the decay-scaled union), per-group rank picks from
    * every state. All arithmetic up to the final interpolation double
    * is integer/decimal exact.
    */
  val StreamGroupTDigestWindowOracle: String = {
    val delta = 16
    def summarize(b: Int): String =
      s"""w$b AS (
         |  SELECT shard, v, CAST(count(*) AS BIGINT) AS w
         |  FROM vals WHERE b = $b GROUP BY 1, 2),
         |rk$b AS (
         |  SELECT shard, v, w,
         |    sum(w) OVER (PARTITION BY shard ORDER BY v) AS cum,
         |    sum(w) OVER (PARTITION BY shard) AS n
         |  FROM w$b),
         |dig$b AS (
         |  SELECT shard, CAST(sum(w) AS BIGINT) AS weight,
         |    CAST(sum(v * w) AS DECIMAL(28,8)) AS sumv,
         |    min(v) AS vmin, max(v) AS vmax
         |  FROM (SELECT shard, v, w, ((cum - w) * $delta) // n AS cluster
         |        FROM rk$b) t
         |  GROUP BY shard, cluster)""".stripMargin
    def scaledUnion(parts: Seq[(String, Long)], out: String): String =
      s"""$out AS (
         |  ${parts.map { case (d, f) =>
              s"SELECT shard, CAST(weight * $f AS BIGINT) AS weight, " +
                s"CAST(sumv * $f AS DECIMAL(28,8)) AS sumv, vmin, vmax " +
                s"FROM $d" }.mkString("\n  UNION ALL ")})""".stripMargin
    def pick(tag: String, b: Int, kind: String, dig: String): String =
      s"""k$tag AS (
         |  SELECT shard, weight, sumv, vmin, vmax,
         |    sum(weight) OVER (PARTITION BY shard
         |      ORDER BY vmin, vmax, weight, sumv
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(weight) OVER (PARTITION BY shard) AS n
         |  FROM $dig),
         |p$tag AS (
         |  SELECT CAST($b AS BIGINT) AS batch_id, '$kind' AS kind,
         |    shard, qi, q, n,
         |    CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS target_rank,
         |    weight, vmin, vmax, cum - weight AS bef
         |  FROM qs JOIN k$tag
         |    ON CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT)
         |      BETWEEN cum - weight AND cum - 1)""".stripMargin
    val est = "CAST(vmin AS DOUBLE) + CAST(vmax - vmin AS DOUBLE) * " +
      "(CAST(target_rank - bef AS DOUBLE) / " +
      "CAST(greatest(weight - 1, 1) AS DOUBLE))"
    s"""WITH vals AS (
       |  SELECT o_orderkey % 3 AS b, o_orderpriority AS shard,
       |    CAST(o_totalprice AS DECIMAL(28,8)) AS v
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
       |    AND o_orderpriority IS NOT NULL),
       |qs(qi, q) AS (VALUES (0, 0.5), (1, 0.9)),
       |${summarize(0)},
       |${summarize(1)},
       |${summarize(2)},
       |${tdigestReclusterSql("dig0", "s0", delta, grp = Some("shard"))},
       |${scaledUnion(Seq("dig0" -> 1L, "dig1" -> 1L), "u01")},
       |${tdigestReclusterSql("u01", "s1", delta, grp = Some("shard"))},
       |${scaledUnion(Seq("dig1" -> 1L, "dig2" -> 1L), "u12")},
       |${tdigestReclusterSql("u12", "s2", delta, grp = Some("shard"))},
       |${scaledUnion(Seq("dig0" -> 1L, "dig1" -> 2L, "dig2" -> 4L), "ud")},
       |${tdigestReclusterSql("ud", "sd", delta, grp = Some("shard"))},
       |${pick("w0", 0, "window", "s0")},
       |${pick("w1", 1, "window", "s1")},
       |${pick("w2", 2, "window", "s2")},
       |${pick("dd", 2, "decay", "sd")},
       |allp AS (
       |  SELECT * FROM pw0 UNION ALL SELECT * FROM pw1
       |  UNION ALL SELECT * FROM pw2 UNION ALL SELECT * FROM pdd)
       |SELECT batch_id, kind, shard AS grp, CAST(qi AS BIGINT) AS qi,
       |  CAST(q AS DOUBLE) AS q,
       |  CAST(n AS BIGINT) AS n, target_rank, weight,
       |  CAST(vmin AS DOUBLE) AS vmin_d, CAST(vmax AS DOUBLE) AS vmax_d,
       |  $est AS estimate,
       |  (CAST(vmin AS DOUBLE) <= $est AND $est <= CAST(vmax AS DOUBLE))
       |    AS est_in_bracket
       |FROM allp ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** Windowed/decayed streaming-t-digest replay (q274): per-shard
    * summarize of each batch, then each WINDOW state is one widened
    * re-cluster over the raw per-batch digests in range (no fold chain
    * — expiry works by keeping the members, the engine's
    * `quantilesWindow` shape), and the DECAY state scales each batch's
    * weight/sumv by its integer freshness factor (2^((span−age)/h))
    * before the same re-cluster. Quantile band-containment picks from
    * every state; all arithmetic up to the final interpolation double
    * is integer/decimal exact.
    */
  val StreamTDigestWindowOracle: String = {
    val delta = 16
    def summarize(b: Int): String =
      s"""w$b AS (
         |  SELECT shard, v, CAST(count(*) AS BIGINT) AS w
         |  FROM vals WHERE b = $b GROUP BY 1, 2),
         |rk$b AS (
         |  SELECT shard, v, w,
         |    sum(w) OVER (PARTITION BY shard ORDER BY v) AS cum,
         |    sum(w) OVER (PARTITION BY shard) AS n
         |  FROM w$b),
         |dig$b AS (
         |  SELECT CAST(sum(w) AS BIGINT) AS weight,
         |    CAST(sum(v * w) AS DECIMAL(28,8)) AS sumv,
         |    min(v) AS vmin, max(v) AS vmax
         |  FROM (SELECT shard, v, w, ((cum - w) * $delta) // n AS cluster
         |        FROM rk$b) t
         |  GROUP BY shard, cluster)""".stripMargin
    def pick(tag: String, b: Int, kind: String, dig: String): String =
      s"""k$tag AS (
         |  SELECT weight, sumv, vmin, vmax,
         |    sum(weight) OVER (ORDER BY vmin, vmax, weight, sumv
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(weight) OVER () AS n
         |  FROM $dig),
         |p$tag AS (
         |  SELECT CAST($b AS BIGINT) AS batch_id, '$kind' AS kind,
         |    qi, q, n,
         |    CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS target_rank,
         |    weight, vmin, vmax, cum - weight AS bef
         |  FROM qs JOIN k$tag
         |    ON CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT)
         |      BETWEEN cum - weight AND cum - 1)""".stripMargin
    def scaledUnion(parts: Seq[(String, Long)], out: String): String =
      s"""$out AS (
         |  ${parts.map { case (d, f) =>
              s"SELECT CAST(weight * $f AS BIGINT) AS weight, " +
                s"CAST(sumv * $f AS DECIMAL(28,8)) AS sumv, vmin, vmax " +
                s"FROM $d" }.mkString("\n  UNION ALL ")})""".stripMargin
    val est = "CAST(vmin AS DOUBLE) + CAST(vmax - vmin AS DOUBLE) * " +
      "(CAST(target_rank - bef AS DOUBLE) / " +
      "CAST(greatest(weight - 1, 1) AS DOUBLE))"
    s"""WITH vals AS (
       |  SELECT o_orderkey % 3 AS b, o_custkey % 2 AS shard,
       |    CAST(o_totalprice AS DECIMAL(28,8)) AS v
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
       |    AND o_custkey IS NOT NULL),
       |qs(qi, q) AS (VALUES (0, 0.5), (1, 0.9)),
       |${summarize(0)},
       |${summarize(1)},
       |${summarize(2)},
       |${tdigestReclusterSql("dig0", "s0", delta)},
       |${scaledUnion(Seq("dig0" -> 1L, "dig1" -> 1L), "u01")},
       |${tdigestReclusterSql("u01", "s1", delta)},
       |${scaledUnion(Seq("dig1" -> 1L, "dig2" -> 1L), "u12")},
       |${tdigestReclusterSql("u12", "s2", delta)},
       |${scaledUnion(Seq("dig0" -> 1L, "dig1" -> 2L, "dig2" -> 4L), "ud")},
       |${tdigestReclusterSql("ud", "sd", delta)},
       |${pick("w0", 0, "window", "s0")},
       |${pick("w1", 1, "window", "s1")},
       |${pick("w2", 2, "window", "s2")},
       |${pick("dd", 2, "decay", "sd")},
       |allp AS (
       |  SELECT * FROM pw0 UNION ALL SELECT * FROM pw1
       |  UNION ALL SELECT * FROM pw2 UNION ALL SELECT * FROM pdd)
       |SELECT batch_id, kind, CAST(qi AS BIGINT) AS qi,
       |  CAST(q AS DOUBLE) AS q,
       |  CAST(n AS BIGINT) AS n, target_rank, weight,
       |  CAST(vmin AS DOUBLE) AS vmin_d, CAST(vmax AS DOUBLE) AS vmax_d,
       |  $est AS estimate,
       |  (CAST(vmin AS DOUBLE) <= $est AND $est <= CAST(vmax AS DOUBLE))
       |    AS est_in_bracket
       |FROM allp ORDER BY 1, 2, 3""".stripMargin
  }

  /** DP-release replay (q246): the SAME inverse-CDF integer thresholds
    * [[ext.Privacy.dpThresholds]] inlines into the Spark plan are
    * rendered here as a SQL list literal; the uniform is the identical
    * 48-bit md5 fold, so `noise = |{thresholds ≤ u}| − B` is the same
    * integer in both engines — cross-engine `exp` rounding never
    * enters.
    */
  val DpCountsOracle: String = {
    val (b, th) = ext.Privacy.dpThresholds(0.5)
    val list = th.mkString("[", ", ", "]")
    s"""WITH g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
       |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
       |u AS (
       |  SELECT event_type, n_true, md5('dp-v1|' || event_type) AS hx
       |  FROM g),
       |z AS (
       |  SELECT event_type, n_true,
       |    CAST(len(list_filter($list,
       |      t -> t <= ${hexFold("1", 12)})) AS BIGINT) - $b AS noise
       |  FROM u)
       |SELECT event_type, n_true,
       |  CAST(n_true + noise AS BIGINT) AS n_noisy,
       |  CAST(noise AS BIGINT) AS noise,
       |  (abs(noise) <= $b) AS within_bound
       |FROM z ORDER BY 1""".stripMargin
  }

  /** DP clipped-sum replay (q261): per-entity totals, clip into
    * [-2, 5], group sums + entity counts, the Δ=5 grid snap via
    * DuckDB's floor `//` (Spark spells the same floor division with
    * pmod — Spark's DIV truncates toward zero, reachable divergence on
    * negative numerators), then BOTH noise draws replayed from their
    * inlined threshold ladders and distinct salts.
    */
  val DpSumsOracle: String = {
    val (bS, thS) = ext.Privacy.dpThresholds(1.0)
    val (bN, thN) = ext.Privacy.dpThresholds(0.5)
    val listS = thS.mkString("[", ", ", "]")
    val listN = thN.mkString("[", ", ", "]")
    s"""WITH ev AS (
       |  SELECT event_type, user_id,
       |    CAST(floor(value) AS BIGINT) AS vq
       |  FROM events
       |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
       |per_e AS (
       |  SELECT event_type, user_id,
       |    greatest(-2, least(5, coalesce(CAST(sum(vq) AS BIGINT), 0)))
       |      AS clipped
       |  FROM ev GROUP BY 1, 2),
       |g AS (
       |  SELECT event_type,
       |    CAST(sum(clipped) AS BIGINT) AS sum_true,
       |    CAST(count(*) AS BIGINT) AS n_true
       |  FROM per_e GROUP BY 1),
       |snapped AS (
       |  SELECT event_type, sum_true, n_true,
       |    CAST(((2 * sum_true + 5) // 10) * 5 AS BIGINT) AS sum_snapped
       |  FROM g),
       |zs AS (
       |  SELECT event_type, sum_true, n_true, sum_snapped,
       |    CAST(len(list_filter($listS,
       |      t -> t <= ${hexFold("1", 12)})) AS BIGINT) - $bS AS zsum
       |  FROM (SELECT *, md5('dp-v1/sum|' || event_type) AS hx
       |        FROM snapped) t),
       |zn AS (
       |  SELECT event_type, sum_true, n_true, sum_snapped, zsum,
       |    CAST(len(list_filter($listN,
       |      t -> t <= ${hexFold("1", 12)})) AS BIGINT) - $bN AS znn
       |  FROM (SELECT *, md5('dp-v1/n|' || event_type) AS hx FROM zs) t)
       |SELECT event_type, n_true, sum_true AS sum_clipped_true,
       |  sum_snapped,
       |  CAST(sum_snapped + 5 * zsum AS BIGINT) AS sum_noisy,
       |  CAST(n_true + znn AS BIGINT) AS n_noisy,
       |  CAST(sum_snapped + 5 * zsum AS DOUBLE) /
       |    CAST(greatest(n_true + znn, 1) AS DOUBLE) AS mean_noisy,
       |  CAST(5 * zsum AS BIGINT) AS noise_sum,
       |  (abs(5 * zsum) <= ${5L * bS} AND abs(znn) <= $bN)
       |    AS within_bounds
       |FROM zn ORDER BY 1""".stripMargin
  }

  /** Misra–Gries replay (q245): per-shard counts, θ = the count at
    * rank k+1 under `(cnt DESC, item)` (0 when absent), survivors
    * `cnt > θ` with `lo = cnt − θ`; merge = per-item `lo` sums +
    * shard-θ total, re-compressed the same way. Pure integers — the
    * `bounds_hold` column replays the MG guarantee as data.
    */
  val MisraGriesOracle: String = {
    val k = 16
    s"""WITH ev AS (
       |  SELECT event_id % 4 AS shard,
       |    'u' || CAST(100 // (1 + user_id % 100) AS VARCHAR) AS item
       |  FROM events
       |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
       |cnts AS (
       |  SELECT shard, item, CAST(count(*) AS BIGINT) AS cnt
       |  FROM ev GROUP BY 1, 2),
       |rk AS (
       |  SELECT shard, item, cnt, row_number() OVER (
       |    PARTITION BY shard ORDER BY cnt DESC, item) AS r
       |  FROM cnts),
       |tk AS (
       |  SELECT s.shard, coalesce(t.cnt, 0) AS tk
       |  FROM (SELECT DISTINCT shard FROM rk) s
       |  LEFT JOIN (SELECT shard, cnt FROM rk WHERE r = ${k + 1}) t
       |    USING (shard)),
       |summ AS (
       |  SELECT r.shard, r.item, r.cnt - t.tk AS lo, t.tk AS theta
       |  FROM rk r JOIN tk t USING (shard) WHERE r.cnt > t.tk),
       |summed AS (
       |  SELECT item, CAST(sum(lo) AS BIGINT) AS cnt FROM summ GROUP BY 1),
       |tin AS (
       |  SELECT CAST(coalesce(sum(theta), 0) AS BIGINT) AS theta_in
       |  FROM (SELECT DISTINCT shard, theta FROM summ) t),
       |mrk AS (
       |  SELECT item, cnt, row_number() OVER (ORDER BY cnt DESC, item) AS r
       |  FROM summed),
       |mtk AS (
       |  SELECT coalesce(max(CASE WHEN r = ${k + 1} THEN cnt END), 0) AS tk
       |  FROM mrk),
       |merged AS (
       |  SELECT m.item, m.cnt - x.tk AS lo, i.theta_in + x.tk AS theta
       |  FROM mrk m CROSS JOIN mtk x CROSS JOIN tin i
       |  WHERE m.cnt > x.tk),
       |exact AS (
       |  SELECT item, CAST(count(*) AS BIGINT) AS exact FROM ev GROUP BY 1)
       |SELECT g.item, CAST(g.lo AS BIGINT) AS lo,
       |  CAST(g.theta AS BIGINT) AS theta, e.exact,
       |  (g.lo <= e.exact AND e.exact <= g.lo + g.theta) AS bounds_hold
       |FROM merged g JOIN exact e USING (item)
       |ORDER BY 1""".stripMargin
  }

  /** Count-sketch replay (q244): 20-bit bucket slices at hex chars
    * 1–25, sign parities at chars 26–30, per-(j, bucket) signed BIGINT
    * sums over the corpus, probe estimates as `sign · counter` with
    * the median as a `row_number = 3` pick under `(value, j)` order —
    * the exact [[ext.FreqSketch.csEstimate]] arithmetic.
    */
  val CountSketchOracle: String = {
    val d = ext.FreqSketch.CsDepth
    val width = 2048
    val idx = (0 until d).map(j => s"($j)").mkString(", ")
    val rank = (d + 1) / 2
    s"""WITH w AS (
       |  SELECT u.w AS word
       |  FROM documents d,
       |    unnest(string_split(trim(regexp_replace(lower(d.text),
       |      '\\s+', ' ', 'g')), ' ')) AS u(w)
       |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
       |    AND len(u.w) > 0),
       |cnt AS (SELECT word, CAST(count(*) AS BIGINT) AS exact
       |  FROM w GROUP BY 1),
       |sk AS (
       |  SELECT j, ${hexFold("j * 5 + 1", 5)} % $width AS bucket,
       |    CAST(sum((${hexFold("j + 26", 1)} % 2) * 2 - 1) AS BIGINT) AS s
       |  FROM (SELECT md5(word) AS hx FROM w) t
       |    CROSS JOIN (VALUES $idx) v(j)
       |  GROUP BY 1, 2),
       |pr AS (SELECT word FROM cnt ORDER BY exact DESC, word LIMIT 50),
       |ph AS (SELECT word, md5(word) AS hx FROM pr),
       |pv AS (
       |  SELECT p.word, v.j,
       |    ((${hexFold("v.j + 26", 1)} % 2) * 2 - 1)
       |      * coalesce(s.s, 0) AS est_j
       |  FROM ph p CROSS JOIN (VALUES $idx) v(j)
       |  LEFT JOIN sk s ON s.j = v.j
       |    AND s.bucket = ${hexFold("v.j * 5 + 1", 5)} % $width),
       |med AS (
       |  SELECT word AS item, est_j FROM pv
       |  QUALIFY row_number() OVER (PARTITION BY word ORDER BY est_j, j)
       |    = $rank)
       |SELECT m.item, CAST(m.est_j AS BIGINT) AS est, c.exact
       |FROM med m JOIN cnt c ON m.item = c.word
       |ORDER BY 1""".stripMargin
  }

  /** LPM replay (q243): the same Knuth-hash IPs and customer-derived
    * CIDR table, candidates by integer right-shift equality, the
    * most-specific pick as a `row_number` over `len DESC` (tie-free —
    * nets are deduped per (len, prefix)), left-joined back so
    * unmatched probes land in the (-1, '(none)') bucket. All shifts
    * ≤ 24 bits — inside DuckDB's safe `<<` range.
    */
  val CidrOracle: String =
    s"""WITH ips AS (
       |  SELECT o_orderkey AS id,
       |    (o_orderkey * 2654435761) % 4294967296 AS h
       |  FROM orders WHERE o_orderkey IS NOT NULL),
       |nets0 AS (
       |  SELECT c_custkey AS net_id, c_mktsegment AS segment,
       |    8 + (c_custkey % 5) * 4 AS len,
       |    ((c_custkey * 2654435761) % 4294967296)
       |      // (CAST(1 AS BIGINT) << CAST(32 - (8 + (c_custkey % 5) * 4)
       |        AS INTEGER)) AS prefix
       |  FROM customer WHERE c_custkey IS NOT NULL),
       |nets AS (
       |  SELECT len, prefix, net_id, segment FROM nets0
       |  QUALIFY row_number() OVER (PARTITION BY len, prefix
       |    ORDER BY net_id) = 1),
       |best AS (
       |  SELECT i.id, n.len, n.net_id, n.segment
       |  FROM ips i JOIN nets n
       |    ON (i.h // (CAST(1 AS BIGINT) << CAST(32 - n.len AS INTEGER)))
       |      = n.prefix
       |  QUALIFY row_number() OVER (PARTITION BY i.id ORDER BY n.len DESC)
       |    = 1)
       |SELECT coalesce(b.len, -1) AS matched_len,
       |  coalesce(b.segment, '(none)') AS segment,
       |  CAST(count(*) AS BIGINT) AS n_ips,
       |  CAST(sum(coalesce(b.net_id, 0)) AS BIGINT) AS sum_net
       |FROM ips i LEFT JOIN best b USING (id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Rank-eval replay (q228): the cosine retriever is the q15 formula;
    * the nDCG discount and ideal-DCG prefix constants are the SAME
    * integers the Spark plan inlines (`Retrieval.discountsE9` /
    * `idcgPrefixE9` interpolated here at build time), so DCG sums and
    * the `//`-scaled metrics are exact BIGINTs in both engines — no
    * log2 is evaluated by either engine at query time.
    */
  val RankEvalOracle: String = {
    val disc = ext.Retrieval.discountsE9(10).mkString("[", ", ", "]")
    val idcg = ext.Retrieval.idcgPrefixE9(10).mkString("[", ", ", "]")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(q.qv, e.embedding),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
       |  FROM q CROSS JOIN embeddings e),
       |retrieved AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM scored QUALIFY rnk <= 10),
       |judge AS (
       |  SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id
       |  FROM q JOIN embeddings e ON q.label = e.label),
       |relc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant FROM judge GROUP BY 1),
       |h AS (
       |  SELECT r.query_id,
       |    CAST(count(*) AS BIGINT) AS n_retrieved,
       |    CAST(coalesce(sum(CASE WHEN j.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits,
       |    CAST(coalesce(sum(CASE WHEN j.neighbor_id IS NOT NULL THEN ($disc)[r.rnk] END), 0) AS BIGINT) AS dcg_e9
       |  FROM retrieved r LEFT JOIN judge j
       |    ON r.query_id = j.query_id AND r.neighbor_id = j.neighbor_id
       |  GROUP BY 1),
       |base AS (
       |  SELECT coalesce(h.query_id, relc.query_id) AS query,
       |    CAST(coalesce(h.n_retrieved, 0) AS BIGINT) AS n_retrieved,
       |    CAST(coalesce(relc.n_relevant, 0) AS BIGINT) AS n_relevant,
       |    CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |    CAST(coalesce(h.dcg_e9, 0) AS BIGINT) AS dcg_e9
       |  FROM h FULL OUTER JOIN relc ON h.query_id = relc.query_id)
       |SELECT query, n_retrieved, n_relevant, hits, dcg_e9,
       |  CASE WHEN n_relevant >= 1
       |    THEN CAST(($idcg)[CAST(least(n_relevant, 10) AS INT)] AS BIGINT) END AS idcg_e9,
       |  CASE WHEN n_relevant >= 1
       |    THEN CAST((hits * 1000000) // n_relevant AS BIGINT) END AS recall_e6,
       |  CASE WHEN n_relevant >= 1
       |    THEN CAST((dcg_e9 * 1000000) // ($idcg)[CAST(least(n_relevant, 10) AS INT)] AS BIGINT) END AS ndcg_e6
       |FROM base
       |ORDER BY query""".stripMargin
  }

  /** Graded-nDCG replay (q229): gains are `(1 << rel) − 1` BIGINTs, the
    * 1e6-scaled discounts come from `Retrieval.discountsE6` (same
    * integers both engines inline), ideal DCG sorts the judgment set by
    * gain desc / doc asc exactly as the Spark window does.
    */
  val GradedNdcgOracle: String = {
    val disc = ext.Retrieval.discountsE6(10).mkString("[", ", ", "]")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(q.qv, e.embedding),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
       |  FROM q CROSS JOIN embeddings e),
       |retrieved AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM scored QUALIFY rnk <= 10),
       |g AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    (CAST(1 AS BIGINT) << (CASE WHEN e.vec_id % 2 = q.query_id % 2 THEN 2 ELSE 1 END)) - 1 AS gain
       |  FROM q JOIN embeddings e ON q.label = e.label),
       |ideal AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant,
       |    CAST(sum(CASE WHEN irank <= 10 THEN gain * ($disc)[CAST(irank AS INT)] END) AS BIGINT) AS idcg_e6
       |  FROM (SELECT query_id, gain,
       |          row_number() OVER (PARTITION BY query_id ORDER BY gain DESC, neighbor_id) AS irank
       |        FROM g)
       |  GROUP BY 1),
       |h AS (
       |  SELECT r.query_id,
       |    CAST(count(*) AS BIGINT) AS n_retrieved,
       |    CAST(coalesce(sum(g.gain * ($disc)[r.rnk]), 0) AS BIGINT) AS dcg_e6
       |  FROM retrieved r LEFT JOIN g
       |    ON r.query_id = g.query_id AND r.neighbor_id = g.neighbor_id
       |  GROUP BY 1)
       |SELECT coalesce(h.query_id, ideal.query_id) AS query,
       |  CAST(coalesce(h.n_retrieved, 0) AS BIGINT) AS n_retrieved,
       |  CAST(coalesce(ideal.n_relevant, 0) AS BIGINT) AS n_relevant,
       |  CAST(coalesce(h.dcg_e6, 0) AS BIGINT) AS dcg_e6,
       |  ideal.idcg_e6,
       |  CASE WHEN ideal.idcg_e6 >= 1
       |    THEN CAST((coalesce(h.dcg_e6, 0) * 1000000) // ideal.idcg_e6 AS BIGINT) END AS ndcg_e6
       |FROM h FULL OUTER JOIN ideal ON h.query_id = ideal.query_id
       |ORDER BY query""".stripMargin
  }

  /** MMR replay (q232): the five greedy rounds unrolled as CTE chains —
    * round i anti-joins the selected set, takes max pool-pair sim to it
    * (the same proven-exact cosine kernel text), and argmaxes
    * `0.75·rel − 0.25·maxsim` with the doc tiebreak. λ = 0.75 is dyadic
    * so both engines compute the identical doubles.
    */
  val MmrOracle: String = {
    def cosSql(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    val rounds = (2 to 5).map { i =>
      val p = i - 1
      s"""rem$i AS (
         |  SELECT p.query_id, p.neighbor_id, p.rel
         |  FROM pool p LEFT JOIN s$p s
         |    ON p.query_id = s.query_id AND p.neighbor_id = s.neighbor_id
         |  WHERE s.neighbor_id IS NULL),
         |ms$i AS (
         |  SELECT x.query_id, x.id_a, max(x.sim) AS ms
         |  FROM sims x JOIN s$p s
         |    ON x.query_id = s.query_id AND x.id_b = s.neighbor_id
         |  GROUP BY 1, 2),
         |pick$i AS (
         |  SELECT r.query_id, r.neighbor_id, r.rel, $i AS mmr_rank
         |  FROM rem$i r LEFT JOIN ms$i
         |    ON ms$i.query_id = r.query_id AND ms$i.id_a = r.neighbor_id
         |  QUALIFY row_number() OVER (PARTITION BY r.query_id
         |    ORDER BY 0.75 * r.rel - 0.25 * coalesce(ms$i.ms, 0.0) DESC,
         |      r.neighbor_id) = 1),
         |s$i AS (SELECT * FROM s$p UNION ALL SELECT * FROM pick$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    ${cosSql("q.qv", "e.embedding")} AS cosine
       |  FROM q CROSS JOIN embeddings e),
       |pool AS (
       |  SELECT query_id, neighbor_id, cosine AS rel,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM scored QUALIFY rnk <= 20),
       |pv AS (
       |  SELECT p.query_id, p.neighbor_id, e.embedding
       |  FROM pool p JOIN embeddings e ON e.vec_id = p.neighbor_id),
       |sims AS (
       |  SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
       |    ${cosSql("a.embedding", "b.embedding")} AS sim
       |  FROM pv a JOIN pv b
       |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
       |s1 AS (
       |  SELECT query_id, neighbor_id, rel, 1 AS mmr_rank FROM pool
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) = 1),
       |$rounds
       |SELECT query_id AS query, neighbor_id AS doc, rel,
       |  CAST(mmr_rank AS INT) AS mmr_rank
       |FROM s5
       |ORDER BY query, mmr_rank""".stripMargin
  }

  /** HLL replay (q235): same word CTE and ascii-fold hex decode as the
    * CMS oracle; bucket/rho from two 32-bit md5 slices with an integer
    * CASE ladder for the leading-zero rank (no log2 — a float-log
    * portability hazard); harmonic sum as BIGINT dyadic terms; ONE
    * final double division with the identical constant sequence.
    */
  val HllOracle: String = {
    val p = 8; val m = 1 << p
    val alphaE6 = math.floor(0.7213 / (1.0 + 1.079 / m) * 1e6).toLong
    val aConst = alphaE6 * m.toLong * m
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val rhoCase = (1 to 32)
      .map(i => s"WHEN wb >= ${1L << (32 - i)} THEN $i").mkString(" ")
    s"""WITH w AS (
       |  SELECT u.w AS word
       |  FROM documents d,
       |    unnest(string_split(trim(regexp_replace(lower(d.text),
       |      '\\s+', ' ', 'g')), ' ')) AS u(w)
       |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
       |    AND len(u.w) > 0),
       |h AS (SELECT md5(word) AS hx, word FROM w),
       |w32 AS (SELECT ${slice(0)} AS wa, ${slice(1)} AS wb FROM h),
       |regs AS (
       |  SELECT CAST(wa // ${1L << (32 - p)} AS INT) AS bucket,
       |    max(CASE $rhoCase ELSE 33 END) AS rho
       |  FROM w32 GROUP BY 1),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_registers,
       |    CAST(coalesce(sum(CAST(1 AS BIGINT) << (40 - rho)), 0) AS BIGINT) AS s
       |  FROM regs),
       |ex AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS exact_distinct FROM w)
       |SELECT n_registers,
       |  CAST(s + ($m - n_registers) * ${1L << 40} AS BIGINT) AS sum_scaled,
       |  CAST($aConst AS DOUBLE) / 1000000.0 * 1099511627776.0
       |    / CAST(s + ($m - n_registers) * ${1L << 40} AS DOUBLE) AS estimate,
       |  exact_distinct
       |FROM agg CROSS JOIN ex""".stripMargin
  }

  /** Ascii-fold hex decode of `len` chars of column `hx` starting at
    * 1-based `start` (a SQL expression — may reference columns), as a
    * BIGINT — the shared primitive of every sketch oracle.
    */
  def hexFold(start: String, len: Int): String =
    (0 until len).map { i =>
      val pos = if (start.forall(_.isDigit)) (start.toInt + i).toString
        else s"$start + $i"
      val pw = math.pow(16, len - 1 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")

  /** The even-/odd-doc word CTEs shared by the q239–q241 sketch
    * oracles: same normalization as the q235 HLL word CTE, split on
    * `doc_id % 2`.
    */
  def ParitySplitWordCtes: String =
    s"""wa AS (
       |  SELECT u.w AS word
       |  FROM documents d,
       |    unnest(string_split(trim(regexp_replace(lower(d.text),
       |      '\\s+', ' ', 'g')), ' ')) AS u(w)
       |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
       |    AND d.doc_id % 2 = 0 AND len(u.w) > 0),
       |wb AS (
       |  SELECT u.w AS word
       |  FROM documents d,
       |    unnest(string_split(trim(regexp_replace(lower(d.text),
       |      '\\s+', ' ', 'g')), ' ')) AS u(w)
       |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
       |    AND d.doc_id % 2 = 1 AND len(u.w) > 0)""".stripMargin

  /** Bloom replay (q239): double-hashed bit positions
    * `(h1 + i·h2) % m` from two 32-bit md5 words, distinct-bit build
    * side, per-probe hit counts (duplicate positions count twice on
    * both engines — identical construction), reconciled against the
    * exact vocabulary semi-join. `n_missed` = 0 IS the
    * no-false-negative theorem, replayed rather than asserted.
    */
  val BloomOracle: String = {
    val m = 8192
    val k = ext.SetSketch.BloomK
    val idx = (0 until k).map(i => s"($i)").mkString(", ")
    s"""WITH $ParitySplitWordCtes,
       |hb AS (SELECT md5(word) AS hx FROM wa),
       |hw AS (SELECT ${hexFold("1", 8)} AS h1, ${hexFold("9", 8)} AS h2
       |  FROM hb),
       |bits AS (
       |  SELECT DISTINCT (h1 + i * h2) % $m AS bit
       |  FROM hw CROSS JOIN (VALUES $idx) t(i)),
       |pd AS (SELECT DISTINCT word AS item FROM wb),
       |ph AS (SELECT item, md5(item) AS hx FROM pd),
       |pw AS (SELECT item, ${hexFold("1", 8)} AS h1, ${hexFold("9", 8)} AS h2
       |  FROM ph),
       |pbits AS (
       |  SELECT item, (h1 + i * h2) % $m AS bit
       |  FROM pw CROSS JOIN (VALUES $idx) t(i)),
       |hits AS (
       |  SELECT p.item,
       |    CAST(sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |      AS hits
       |  FROM pbits p LEFT JOIN bits b USING (bit) GROUP BY 1),
       |bd AS (SELECT DISTINCT word AS item FROM wa),
       |tr AS (
       |  SELECT p.item, CASE WHEN b.item IS NULL THEN 0 ELSE 1 END AS t
       |  FROM pd p LEFT JOIN bd b USING (item))
       |SELECT CAST(count(*) AS BIGINT) AS n_probes,
       |  CAST(sum(CASE WHEN hits = $k THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_maybe,
       |  CAST(sum(t) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN hits = $k AND t = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_false_pos,
       |  CAST(sum(CASE WHEN hits < $k AND t = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_missed
       |FROM hits h JOIN tr USING (item)""".stripMargin
  }

  /** KMV replay (q240): 48-bit hashes (12 hex chars), DISTINCT +
    * ORDER BY + LIMIT k bottom-k sketches, the (k−1)·2^48/h(k)
    * estimate with the identical integer numerator and one double
    * division, and the Beyer et al. union/intersection scaling —
    * exact counts from the same vocabulary CTEs.
    */
  val KmvOracle: String = {
    val k = 256
    val num = (k - 1).toLong << 48
    s"""WITH $ParitySplitWordCtes,
       |da AS (SELECT DISTINCT word FROM wa),
       |db AS (SELECT DISTINCT word FROM wb),
       |ha AS (SELECT DISTINCT ${hexFold("1", 12)} AS h
       |  FROM (SELECT md5(word) AS hx FROM da) t),
       |hb AS (SELECT DISTINCT ${hexFold("1", 12)} AS h
       |  FROM (SELECT md5(word) AS hx FROM db) t),
       |ska AS (SELECT h FROM ha ORDER BY h LIMIT $k),
       |skb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
       |ea AS (
       |  SELECT CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
       |    ELSE CAST($num AS DOUBLE) / CAST(max(h) AS DOUBLE) END AS est_a
       |  FROM ska),
       |eb AS (
       |  SELECT CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
       |    ELSE CAST($num AS DOUBLE) / CAST(max(h) AS DOUBLE) END AS est_b
       |  FROM skb),
       |sku AS (
       |  SELECT DISTINCT h FROM (
       |    SELECT h FROM ska UNION ALL SELECT h FROM skb) t
       |  ORDER BY h LIMIT $k),
       |fl AS (
       |  SELECT u.h,
       |    CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS ina,
       |    CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS inb
       |  FROM sku u LEFT JOIN ska a ON u.h = a.h
       |    LEFT JOIN skb b ON u.h = b.h),
       |un AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k_union,
       |    CAST(coalesce(sum(ina * inb), 0) AS BIGINT) AS n_both,
       |    coalesce(max(h), 0) AS kth
       |  FROM fl),
       |ue AS (
       |  SELECT k_union, n_both,
       |    CASE WHEN k_union < $k THEN CAST(k_union AS DOUBLE)
       |      ELSE CAST($num AS DOUBLE) / CAST(kth AS DOUBLE) END AS union_est
       |  FROM un),
       |ie AS (
       |  SELECT k_union, n_both, union_est,
       |    CASE WHEN k_union = 0 THEN 0.0
       |      ELSE CAST(n_both AS DOUBLE) * union_est
       |        / CAST(k_union AS DOUBLE) END AS intersect_est
       |  FROM ue),
       |ex AS (
       |  SELECT
       |    CAST(sum(ina) AS BIGINT) AS exact_a,
       |    CAST(sum(inb) AS BIGINT) AS exact_b,
       |    CAST(count(*) AS BIGINT) AS exact_union,
       |    CAST(sum(ina * inb) AS BIGINT) AS exact_intersect
       |  FROM (
       |    SELECT coalesce(a.word, b.word) AS word,
       |      CASE WHEN a.word IS NULL THEN 0 ELSE 1 END AS ina,
       |      CASE WHEN b.word IS NULL THEN 0 ELSE 1 END AS inb
       |    FROM da a FULL OUTER JOIN db b ON a.word = b.word) t)
       |SELECT est_a, est_b, k_union, n_both, union_est, intersect_est,
       |  exact_a, exact_b, exact_union, exact_intersect
       |FROM ea CROSS JOIN eb CROSS JOIN ie CROSS JOIN ex""".stripMargin
  }

  /** AMS replay (q241): ±1 signs from the low bit of each 16-bit md5
    * word (the j-th 4-hex slice), per-j counter sums as BIGINTs,
    * estimator products as doubles of exact integers, and the
    * median-of-7 as a `row_number() = 4` pick under `(value, j)` order
    * — the same order `sort_array(struct(v, j))` gives Spark.
    */
  val AmsOracle: String = {
    val d = ext.FreqSketch.AmsDepth
    val idx = (0 until d).map(j => s"($j)").mkString(", ")
    val rank = (d + 1) / 2
    s"""WITH $ParitySplitWordCtes,
       |sa AS (
       |  SELECT j, CAST(sum((${hexFold("j * 4 + 1", 4)} % 2) * 2 - 1)
       |    AS BIGINT) AS s
       |  FROM (SELECT md5(word) AS hx FROM wa) t
       |    CROSS JOIN (VALUES $idx) v(j)
       |  GROUP BY 1),
       |sb AS (
       |  SELECT j, CAST(sum((${hexFold("j * 4 + 1", 4)} % 2) * 2 - 1)
       |    AS BIGINT) AS s
       |  FROM (SELECT md5(word) AS hx FROM wb) t
       |    CROSS JOIN (VALUES $idx) v(j)
       |  GROUP BY 1),
       |f2 AS (
       |  SELECT v AS f2_est FROM (
       |    SELECT CAST(s AS DOUBLE) * CAST(s AS DOUBLE) AS v, j FROM sa) t
       |  QUALIFY row_number() OVER (ORDER BY v, j) = $rank),
       |ip AS (
       |  SELECT v AS ip_est FROM (
       |    SELECT CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE) AS v, a.j
       |    FROM sa a JOIN sb b ON a.j = b.j) t
       |  QUALIFY row_number() OVER (ORDER BY v, j) = $rank),
       |ca AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM wa GROUP BY 1),
       |cb AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM wb GROUP BY 1),
       |f2x AS (SELECT CAST(coalesce(sum(c * c), 0) AS BIGINT) AS f2_exact
       |  FROM ca),
       |ipx AS (SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT) AS ip_exact
       |  FROM ca a JOIN cb b ON a.word = b.word)
       |SELECT f2_est, f2_exact, ip_est, ip_exact
       |FROM f2 CROSS JOIN f2x CROSS JOIN ip CROSS JOIN ipx""".stripMargin
  }

  /** Streaming-Bloom replay (q242): novelty against prior batches only
    * — a bit's FIRST-appearance batch decides every later probe, so
    * "item in batch b is maybe-seen" ≡ "all its bits first appeared
    * strictly before b". Same double-hash positions as [[BloomOracle]];
    * duplicate positions per item count per-probe on both engines.
    */
  val StreamBloomOracle: String = {
    val m = 8192
    val k = ext.SetSketch.BloomK
    val idx = (0 until k).map(i => s"($i)").mkString(", ")
    s"""WITH ev AS (
       |  SELECT event_id % 3 AS b,
       |    'u' || CAST(user_id AS VARCHAR) AS item
       |  FROM events
       |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
       |di AS (SELECT DISTINCT b, item FROM ev),
       |ih AS (SELECT b, item, md5(item) AS hx FROM di),
       |iw AS (SELECT b, item, ${hexFold("1", 8)} AS h1,
       |    ${hexFold("9", 8)} AS h2
       |  FROM ih),
       |ib AS (
       |  SELECT b, item, (h1 + i * h2) % $m AS bit
       |  FROM iw CROSS JOIN (VALUES $idx) t(i)),
       |fb AS (SELECT bit, min(b) AS first_b FROM ib GROUP BY 1),
       |pr AS (
       |  SELECT d.b, d.item,
       |    min(CASE WHEN f.first_b < d.b THEN 1 ELSE 0 END) AS seen
       |  FROM ib d JOIN fb f ON d.bit = f.bit GROUP BY 1, 2)
       |SELECT CAST(b AS BIGINT) AS batch_id,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  CAST(sum(CASE WHEN seen = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel
       |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** HDR-quantile replay (q238): the comparison-ladder log2, the bucket
    * formula, the cumulative pick, and the [lo, hi] bounds — all pure
    * integer arithmetic in both engines; quantile fractions are CAST
    * AS DOUBLE so DuckDB does not silently use DECIMAL math where Spark
    * multiplies doubles.
    */
  val HdrOracle: String = {
    val ladder = (6 to 62).reverse
      .map(i => s"WHEN v >= ${1L << i} THEN $i").mkString(" ")
    s"""WITH vals AS (
       |  SELECT CAST(floor(o_totalprice) AS BIGINT) AS v
       |  FROM orders WHERE o_totalprice IS NOT NULL),
       |bk AS (
       |  SELECT CASE WHEN v < 32 THEN v
       |    ELSE (e - 5) * 32 + (v >> CAST(e - 5 AS INT)) END AS bucket
       |  FROM (SELECT v, CASE $ladder ELSE 5 END AS e FROM vals) t),
       |hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY 1),
       |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM hist),
       |cum AS (
       |  SELECT bucket,
       |    sum(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS c
       |  FROM hist),
       |qs AS (
       |  SELECT CAST(0.5 AS DOUBLE) AS q
       |  UNION ALL SELECT CAST(0.9 AS DOUBLE)
       |  UNION ALL SELECT CAST(0.99 AS DOUBLE)),
       |ranked AS (
       |  SELECT q, greatest(CAST(1 AS BIGINT),
       |    CAST(ceil(q * total) AS BIGINT)) AS rank
       |  FROM qs CROSS JOIN n),
       |picked AS (
       |  SELECT r.q, r.rank, CAST(min(c.bucket) AS BIGINT) AS bucket
       |  FROM ranked r JOIN cum c ON c.c >= r.rank
       |  GROUP BY 1, 2)
       |SELECT q, rank, bucket,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE (bucket - (bucket // 32 - 1) * 32) << CAST(bucket // 32 - 1 AS INT)
       |    END AS BIGINT) AS lo,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE ((bucket - (bucket // 32 - 1) * 32 + 1) << CAST(bucket // 32 - 1 AS INT)) - 1
       |    END AS BIGINT) AS hi
       |FROM picked
       |ORDER BY q""".stripMargin
  }

  /** One-shot CMS heavy-hitters oracle over document words (q224 batch
    * form, q225 streaming fold — identical by mergeability): md5 hex
    * slices → ascii-fold hex decode → `% width` cells → min over
    * slices, absent cells 0.
    */
  def cmsOracle(width: Int, probeMod: Int, minCount: Long): String = {
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val cells = (0 until ext.FreqSketch.Depth).map(j =>
      s"SELECT $j AS j, ${slice(j)} % $width AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY 2")
      .mkString("\n  UNION ALL ")
    val probeCells = (0 until ext.FreqSketch.Depth).map(j =>
      s"SELECT item, $j AS j, ${slice(j)} % $width AS bucket FROM ph")
      .mkString("\n  UNION ALL ")
    s"""WITH w AS (
       |  SELECT u.w AS word
       |  FROM documents d,
       |    unnest(string_split(trim(regexp_replace(lower(d.text),
       |      '\\s+', ' ', 'g')), ' ')) AS u(w)
       |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
       |    AND len(u.w) > 0),
       |h AS (SELECT md5(word) AS hx FROM w),
       |cells AS (
       |  $cells),
       |p AS (
       |  SELECT DISTINCT u.w AS item
       |  FROM documents d,
       |    unnest(string_split(trim(regexp_replace(lower(d.text),
       |      '\\s+', ' ', 'g')), ' ')) AS u(w)
       |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
       |    AND d.doc_id % $probeMod = 0 AND len(u.w) > 0),
       |ph AS (SELECT item, md5(item) AS hx FROM p),
       |pc AS (
       |  $probeCells),
       |est AS (
       |  SELECT pc.item,
       |    CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
       |  FROM pc LEFT JOIN cells
       |    ON cells.j = pc.j AND cells.bucket = pc.bucket
       |  GROUP BY pc.item)
       |SELECT item, est FROM est WHERE est >= $minCount
       |ORDER BY item""".stripMargin
  }

  /** Per-group streaming-CMS replay (q273): the [[cmsOracle]] md5
    * hex-slice decode with the group key carried through every stage —
    * per-(group, j, bucket) cell counts over the whole events table
    * (per-group cell-wise mergeability: the folded store ≡ the one-shot
    * per-group sketch of the concatenation), probe pairs exploded to
    * their Depth cells, min across slices per (group, item).
    */
  def cmsGroupOracle(width: Int, probeMod: Int, minCount: Long): String = {
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val cells = (0 until ext.FreqSketch.Depth).map(j =>
      s"SELECT grp, $j AS j, ${slice(j)} % $width AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY 1, 3")
      .mkString("\n  UNION ALL ")
    val probeCells = (0 until ext.FreqSketch.Depth).map(j =>
      s"SELECT grp, item, $j AS j, ${slice(j)} % $width AS bucket FROM ph")
      .mkString("\n  UNION ALL ")
    s"""WITH ev AS (
       |  SELECT event_type AS grp, user_id
       |  FROM events
       |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
       |    AND event_type IS NOT NULL),
       |h AS (SELECT grp, md5(CAST(user_id AS VARCHAR)) AS hx FROM ev),
       |cells AS (
       |  $cells),
       |p AS (
       |  SELECT DISTINCT grp, user_id AS item FROM ev
       |  WHERE user_id % $probeMod = 0),
       |ph AS (SELECT grp, item, md5(CAST(item AS VARCHAR)) AS hx FROM p),
       |pc AS (
       |  $probeCells),
       |est AS (
       |  SELECT pc.grp, pc.item,
       |    CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
       |  FROM pc LEFT JOIN cells
       |    ON cells.grp = pc.grp AND cells.j = pc.j
       |      AND cells.bucket = pc.bucket
       |  GROUP BY 1, 2)
       |SELECT grp, item, est FROM est WHERE est >= $minCount
       |ORDER BY grp, item""".stripMargin
  }

  /** Windowed/decayed streaming-CMS replay (q275): per-(batch, j,
    * bucket) cell grids via the [[cmsOracle]] md5 hex-slice decode,
    * window states as range-filtered per-cell sums, the decay state as
    * the 2^(freshness/halfLife)-scaled sum (integer factors, exact),
    * min across slices per probe item from every state.
    */
  def cmsWindowOracle(width: Int, probeMod: Int, minCount: Long): String = {
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val cells = (0 until ext.FreqSketch.Depth).map(j =>
      s"SELECT b, $j AS j, ${slice(j)} % $width AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY 1, 3")
      .mkString("\n  UNION ALL ")
    val probeCells = (0 until ext.FreqSketch.Depth).map(j =>
      s"SELECT item, $j AS j, ${slice(j)} % $width AS bucket FROM ph")
      .mkString("\n  UNION ALL ")
    def state(tag: String, bid: Int, kind: String, bPred: String,
              factor: String): String =
      s"""e$tag AS (
         |  SELECT CAST($bid AS BIGINT) AS batch_id, '$kind' AS kind,
         |    pc.item, CAST(min(coalesce(s.c, 0)) AS BIGINT) AS est
         |  FROM pc LEFT JOIN (
         |    SELECT j, bucket, sum(cnt * $factor) AS c
         |    FROM cells WHERE $bPred GROUP BY 1, 2) s
         |    ON s.j = pc.j AND s.bucket = pc.bucket
         |  GROUP BY 3)""".stripMargin
    s"""WITH ev AS (
       |  SELECT event_id % 3 AS b, user_id
       |  FROM events
       |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
       |h AS (SELECT b, md5(CAST(user_id AS VARCHAR)) AS hx FROM ev),
       |cells AS (
       |  $cells),
       |p AS (
       |  SELECT DISTINCT user_id AS item FROM ev
       |  WHERE user_id % $probeMod = 0),
       |ph AS (SELECT item, md5(CAST(item AS VARCHAR)) AS hx FROM p),
       |pc AS (
       |  $probeCells),
       |${state("w0", 0, "window", "b >= 0 AND b < 1", "1")},
       |${state("w1", 1, "window", "b >= 0 AND b < 2", "1")},
       |${state("w2", 2, "window", "b >= 1 AND b < 3", "1")},
       |${state("dd", 2, "decay", "b >= 0 AND b < 3",
          "(CASE b WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)")},
       |allp AS (
       |  SELECT * FROM ew0 UNION ALL SELECT * FROM ew1
       |  UNION ALL SELECT * FROM ew2 UNION ALL SELECT * FROM edd)
       |SELECT batch_id, kind, item, est FROM allp
       |WHERE est >= $minCount
       |ORDER BY 1, 2, 3""".stripMargin
  }

  /** Per-group windowed/decayed streaming-CMS replay (q278): the
    * [[cmsWindowOracle]] state machinery with the group key threaded
    * through every stage — per-(batch, group, j, bucket) cell grids
    * via the md5 hex-slice decode, window states as range-filtered
    * per-(group, cell) sums, the decay state as the integer
    * 2^(freshness/halfLife)-scaled sum, min across slices per
    * (group, item) from every state.
    */
  def cmsGroupWindowOracle(width: Int, probeMod: Int,
                           minCount: Long): String = {
    def slice(j: Int): String = (0 until 8).map { i =>
      val pos = j * 8 + 1 + i
      val pw = math.pow(16, 7 - i).toLong
      s"CAST(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
        s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
        s"ELSE ascii(substr(hx, $pos, 1)) - 48 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ")")
    val cells = (0 until ext.FreqSketch.Depth).map(j =>
      s"SELECT b, grp, $j AS j, ${slice(j)} % $width AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY 1, 2, 4")
      .mkString("\n  UNION ALL ")
    val probeCells = (0 until ext.FreqSketch.Depth).map(j =>
      s"SELECT grp, item, $j AS j, ${slice(j)} % $width AS bucket FROM ph")
      .mkString("\n  UNION ALL ")
    def state(tag: String, bid: Int, kind: String, bPred: String,
              factor: String): String =
      s"""e$tag AS (
         |  SELECT CAST($bid AS BIGINT) AS batch_id, '$kind' AS kind,
         |    pc.grp, pc.item, CAST(min(coalesce(s.c, 0)) AS BIGINT) AS est
         |  FROM pc LEFT JOIN (
         |    SELECT grp, j, bucket, sum(cnt * $factor) AS c
         |    FROM cells WHERE $bPred GROUP BY 1, 2, 3) s
         |    ON s.grp = pc.grp AND s.j = pc.j AND s.bucket = pc.bucket
         |  GROUP BY 3, 4)""".stripMargin
    s"""WITH ev AS (
       |  SELECT event_id % 3 AS b, event_type AS grp, user_id
       |  FROM events
       |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
       |    AND event_type IS NOT NULL),
       |h AS (SELECT b, grp, md5(CAST(user_id AS VARCHAR)) AS hx FROM ev),
       |cells AS (
       |  $cells),
       |p AS (
       |  SELECT DISTINCT grp, user_id AS item FROM ev
       |  WHERE user_id % $probeMod = 0),
       |ph AS (SELECT grp, item, md5(CAST(item AS VARCHAR)) AS hx FROM p),
       |pc AS (
       |  $probeCells),
       |${state("w0", 0, "window", "b >= 0 AND b < 1", "1")},
       |${state("w1", 1, "window", "b >= 0 AND b < 2", "1")},
       |${state("w2", 2, "window", "b >= 1 AND b < 3", "1")},
       |${state("dd", 2, "decay", "b >= 0 AND b < 3",
          "(CASE b WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)")},
       |allp AS (
       |  SELECT * FROM ew0 UNION ALL SELECT * FROM ew1
       |  UNION ALL SELECT * FROM ew2 UNION ALL SELECT * FROM edd)
       |SELECT batch_id, kind, grp, item, est FROM allp
       |WHERE est >= $minCount
       |ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** Per-group windowed/decayed streaming-HDR replay (q279): the
    * [[StreamHdrWindowOracle]] state machinery with the group key
    * threaded through every stage — per-(batch, group, bucket) counts,
    * each state a per-group range-filtered (and decay-scaled) sum with
    * per-group totals/cumulative sums/rank picks.
    */
  val StreamGroupHdrWindowOracle: String = {
    val ladder = (6 to 62).reverse
      .map(i => s"WHEN v >= ${1L << i} THEN $i").mkString(" ")
    def state(tag: String, bid: Int, kind: String, bPred: String,
              factor: String): String =
      s"""h$tag AS (
         |  SELECT grp, bucket, CAST(sum(cnt * $factor) AS BIGINT) AS cnt
         |  FROM bhist WHERE $bPred GROUP BY 1, 2),
         |n$tag AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS total
         |  FROM h$tag GROUP BY 1),
         |c$tag AS (
         |  SELECT grp, bucket, sum(cnt) OVER (PARTITION BY grp
         |    ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS c
         |  FROM h$tag),
         |p$tag AS (
         |  SELECT CAST($bid AS BIGINT) AS batch_id, '$kind' AS kind,
         |    r.grp, r.q, r.rank, CAST(min(c.bucket) AS BIGINT) AS bucket
         |  FROM (SELECT grp, q, greatest(CAST(1 AS BIGINT),
         |      CAST(ceil(q * total) AS BIGINT)) AS rank
         |    FROM qs CROSS JOIN n$tag) r
         |  JOIN c$tag c ON c.grp = r.grp AND c.c >= r.rank
         |  GROUP BY 3, 4, 5)""".stripMargin
    s"""WITH vals AS (
       |  SELECT o_orderkey % 3 AS b, o_orderpriority AS grp,
       |    CAST(floor(o_totalprice) AS BIGINT) AS v
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
       |    AND o_orderpriority IS NOT NULL),
       |bk AS (
       |  SELECT b, grp, CASE WHEN v < 32 THEN v
       |    ELSE (e - 5) * 32 + (v >> CAST(e - 5 AS INT)) END AS bucket
       |  FROM (SELECT b, grp, v, CASE $ladder ELSE 5 END AS e FROM vals) t),
       |bhist AS (
       |  SELECT b, grp, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bk GROUP BY 1, 2, 3),
       |qs AS (
       |  SELECT CAST(0.5 AS DOUBLE) AS q
       |  UNION ALL SELECT CAST(0.99 AS DOUBLE)),
       |${state("w0", 0, "window", "b >= 0 AND b < 1", "1")},
       |${state("w1", 1, "window", "b >= 0 AND b < 2", "1")},
       |${state("w2", 2, "window", "b >= 1 AND b < 3", "1")},
       |${state("dd", 2, "decay", "b >= 0 AND b < 3",
          "(CASE b WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)")},
       |allp AS (
       |  SELECT * FROM pw0 UNION ALL SELECT * FROM pw1
       |  UNION ALL SELECT * FROM pw2 UNION ALL SELECT * FROM pdd)
       |SELECT batch_id, kind, grp, q, rank, bucket,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE (bucket - (bucket // 32 - 1) * 32) << CAST(bucket // 32 - 1 AS INT)
       |    END AS BIGINT) AS lo,
       |  CAST(CASE WHEN bucket < 32 THEN bucket
       |    ELSE ((bucket - (bucket // 32 - 1) * 32 + 1) << CAST(bucket // 32 - 1 AS INT)) - 1
       |    END AS BIGINT) AS hi
       |FROM allp
       |ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** Shared Lloyd-replay CTE chain (q213/q214): md5-rank donors, two
    * rounds of exact-L2 assignment (dot − |c|²/2, lowest-index ties) +
    * decimal(28,8)-exact mean updates, final assignment in `af`.
    */
  lazy val KMeansLloydCtes: String = {
    def score(v: String, c: String): String =
      s"""(list_sum(list_transform(list_zip($v, $c),
         |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |      - list_sum(list_transform($c,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) / 2)""".stripMargin
    def assignCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT vec_id, j AS cl FROM (
         |    SELECT e.vec_id, c.j,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${score("e.embedding", "c.c")} DESC, c.j) AS rn
         |    FROM e, $cents c) WHERE rn = 1)""".stripMargin
    def updateCte(assign: String, prev: String, out: String): String =
      s"""${out}_m AS (
         |  SELECT cl AS j, pos,
         |    CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE)
         |      / count(*) AS m
         |  FROM (
         |    SELECT a.cl, generate_subscripts(e.embedding, 1) AS pos,
         |      unnest(e.embedding) AS x
         |    FROM $assign a JOIN e USING (vec_id))
         |  GROUP BY 1, 2),
         |$out AS (
         |  SELECT p.j, coalesce(u.c, p.c) AS c
         |  FROM $prev p LEFT JOIN (
         |    SELECT j, list(m ORDER BY pos) AS c FROM ${out}_m GROUP BY j) u
         |    USING (j))""".stripMargin
    s"""e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |init AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       |  FROM (SELECT vec_id, embedding FROM e
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4)),
       |${assignCte("a0", "init")},
       |${updateCte("a0", "init", "c1")},
       |${assignCte("a1", "c1")},
       |${updateCte("a1", "c1", "c2")},
       |${assignCte("af", "c2")}""".stripMargin
  }

  /** Shared CTEs for the perceptual-hash oracles (q174/q175): pixel grid
    * from `valExpr` over the 18×16 textured BMP, exact 2×2 box sums, and
    * the dHash/aHash bit folds as HUGEINT (bit 63 overflows BIGINT mid-
    * sum; [[hugeToLong]] folds back to two's complement at the end) —
    * mirroring [[ext.Multimodal.imageHashes]] at the 9×8 grid.
    */
  def imageHashCtes(valExpr: String): String =
    s"""px AS (
       |  SELECT d.doc_id, u.x, v.y, $valExpr AS val
       |  FROM documents d,
       |    unnest(generate_series(0, 17)) AS u(x),
       |    unnest(generate_series(0, 15)) AS v(y)),
       |bx AS (
       |  SELECT doc_id, x // 2 AS gx, y // 2 AS gy,
       |    CAST(sum(val) AS BIGINT) AS s
       |  FROM px GROUP BY doc_id, gx, gy),
       |dh AS (
       |  SELECT a.doc_id,
       |    CAST(coalesce(sum(CASE WHEN b.s > a.s
       |      THEN (1::HUGEINT << (a.gy * 8 + a.gx)) ELSE 0::HUGEINT END),
       |      0) AS HUGEINT) AS h
       |  FROM bx a JOIN bx b ON b.doc_id = a.doc_id AND b.gy = a.gy
       |    AND b.gx = a.gx + 1
       |  WHERE a.gx < 8
       |  GROUP BY a.doc_id),
       |tot AS (
       |  SELECT doc_id, CAST(sum(s) AS BIGINT) AS t
       |  FROM bx WHERE gx < 8 GROUP BY doc_id),
       |ah AS (
       |  SELECT b.doc_id,
       |    CAST(coalesce(sum(CASE WHEN b.s * 64 > t.t
       |      THEN (1::HUGEINT << (b.gy * 8 + b.gx)) ELSE 0::HUGEINT END),
       |      0) AS HUGEINT) AS h
       |  FROM bx b JOIN tot t USING (doc_id)
       |  WHERE b.gx < 8
       |  GROUP BY b.doc_id)""".stripMargin

  /** HUGEINT bit-fold → two's-complement BIGINT (bit 63 set ⇒ negative). */
  def hugeToLong(h: String): String =
    s"CAST($h - CASE WHEN $h >= (1::HUGEINT << 63) " +
      s"THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT)"

  /** Personalized-PageRank round CTEs shared by q133/q134: per round one
    * dangling-mass scalar m = (D·85)//100 (anti-join sum over the previous
    * ranks) and one grouped contribution sum, teleport and mass landing
    * per the e6-scaled node prior `wn` — the exact integer steps of
    * [[ext.LinkGraph.personalizedPageRank]]. Requires CTEs `e`, `nodes`
    * (id, wn), `od`, `r0` in scope; sums re-CAST to BIGINT (HUGEINT).
    */
  def personalizedRoundsSql(iterations: Int): String =
    (1 to iterations).map { k =>
      val prev = s"r${k - 1}"
      s"""m$k AS (
         |  SELECT CAST((CAST(coalesce(sum(r.rank), 0) AS BIGINT) * 85) // 100
         |    AS BIGINT) AS m
         |  FROM $prev r LEFT JOIN od d ON d.src = r.id
         |  WHERE d.src IS NULL),
         |r$k AS (
         |  SELECT n.id, CAST((150000000000 * n.wn) // 1000000
         |      + coalesce(sum((r.rank * 85) // (100 * d.outdeg)), 0)
         |      + (mm.m * n.wn) // 1000000 AS BIGINT) AS rank
         |  FROM nodes n CROSS JOIN m$k mm
         |  LEFT JOIN e ON e.dst = n.id
         |  LEFT JOIN $prev r ON r.id = e.src
         |  LEFT JOIN od d ON d.src = e.src
         |  GROUP BY n.id, n.wn, mm.m)"""
    }.mkString(",\n")
}
