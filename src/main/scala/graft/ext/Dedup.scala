package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.PlanCapture

/** Deduplication operators for training-data pipelines, at five levels of
  * fuzziness: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  * North-star extensions (SURVEY.md §2 extensions) — pure DataFrame ops,
  * designed around the 100 TB question: what shuffles, and on what key?
  *
  *  - exact: one hash-shuffle on a 16-byte digest (never the full text);
  *  - MinHash+LSH: per-row signature (no shuffle) → shuffle only on
  *    (band, bandHash) buckets → pairwise work confined to buckets, i.e.
  *    the classic  O(n²) → O(n·bucketWidth) cut;
  *  - SimHash: per-row 64-bit sketch → pigeonhole band join (hamming ≤ d
  *    within b bands means some band of width 64/b is equal exactly) →
  *    exact hamming check via bit_count(xor);
  *  - n-gram Jaccard / embedding cosine: the *verify* predicates, exact,
  *    used on LSH-candidate pairs (or standalone at small n).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Shared text canonical form for every fuzzy operator in this file and
    * TextStats.fingerprint: lowercase, collapse whitespace runs, trim.
    * ONE definition — divergent copies would silently make fingerprints
    * and exact-dedup digests disagree.
    */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Exact-duplicate groups by content digest — NULL text rows excluded
    * (null is "unknown content", not "equal to every other null"; grouping
    * them would mass-delete unparsed docs downstream). Shuffles 16-byte
    * digests, not documents: at 100 TB the shuffle payload is ~32 B/row
    * regardless of document size. Canonicalization optional because
    * "exact" is policy: raw bytes vs normalized text.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String,
                  canonical: Boolean = false): DataFrame = {
    val t = if (canonical) canonicalize(col(textCol)) else col(textCol)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), md5(t).as("digest"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
  }

  /** Exact dedup: keep the min-id representative of each digest group;
    * null-text rows pass through untouched. Implemented as an aggregation
    * (not dropDuplicates) so the survivor choice is deterministic —
    * dropDuplicates keeps an arbitrary row.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol)
      .select(col("keep_id").as(idCol))
    df.filter(col(textCol).isNull)
      .union(df.filter(col(textCol).isNotNull).join(keep, Seq(idCol), "left_semi"))
  }

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles of the canonicalized text, distinct (native
    * kernel graft.functions.WordNgrams — one pass, no per-window slice
    * copies or interpreted lambdas).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.SketchFunctions.wordNgrams(split(canonicalize(text), " "), n)

  /** Exact Jaccard similarity of two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  // -------------------------------------------------------- MinHash + LSH

  /** MinHash signature column: array<bigint> of length numHashes, where
    * slot i = min over shingles of mix(xxh64(shingle), seed+i). Mixing the
    * slot index INTO the hash (rather than post-transforming one hash with
    * an affine map) is what makes the functions genuinely independent — an
    * affine family (a_i·h+b_i) mod p over one base hash is order-correlated
    * when the product stays below ~4p, and then a single globally-minimal
    * shingle wins every slot, collapsing the signature. Fixed seed:
    * re-run ⇒ identical candidate set (the pipeline's determinism
    * contract). Native kernel (graft.functions.MinHashSignature): each
    * shingle is byte-hashed once, then k cheap long-mixes — one tight pass
    * per row, zero shuffle, stays inside whole-stage codegen.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int = 64,
                       seed: Long = 42L): Column =
    graft.functions.SketchFunctions.minhashSignature(shingleCol, numHashes, seed)

  /** Estimated Jaccard from two signatures = fraction of agreeing slots. */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / size(sigA).cast("double")

  /** LSH banding: explode the signature into `bands` rows keyed by
    * (band index, hash of that band's slice). Docs sharing ANY band bucket
    * become candidate pairs. With r = numHashes/bands rows per band, the
    * candidate threshold is ≈ (1/bands)^(1/r).
    */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int): DataFrame = {
    val withBand = df.select(
      col(idCol),
      posexplode(slicesOf(col(sigCol), bands)).as(Seq("band", "band_slice")))
    // xxhash64 hashes array<bigint> natively — no per-slot string
    // materialization in the hottest dedup stage
    withBand.select(
      col(idCol), col("band"),
      xxhash64(col("band"), col("band_slice")).as("band_hash"))
  }

  /** Split an array column into `parts` equal slices (last takes the
    * remainder). Slices past the end are dropped by the caller's
    * size-filter: with ceil-width and non-divisible lengths the tail
    * slice(s) are EMPTY, and an empty slice would hash every row into one
    * shared band bucket — a degenerate all-pairs LSH band.
    */
  private def slicesOf(arr: Column, parts: Int): Column = {
    val width = ceil(size(arr).cast("double") / parts).cast("int")
    filter(
      transform(sequence(lit(0), lit(parts - 1)),
        i => slice(arr, i * width + 1, width)),
      s => size(s) > 0)
  }

  /** Candidate duplicate pairs via MinHash + LSH banding, with the exact
    * Jaccard verify applied. Returns (id_a, id_b, est_jaccard, jaccard)
    * with id_a < id_b, for pairs whose EXACT Jaccard ≥ threshold.
    *
    * Shuffle profile at scale: one hash-shuffle of (id, band, band_hash) —
    * ~24 B/row·band — then a bucket-local self-join; the shingle arrays
    * travel only for surviving candidates (re-joined by id), so the heavy
    * columns cross the wire O(candidates), not O(n²).
    */
  /** (id, sh, sig) frame for a document set — the shared input shape of
    * every MinHash operator below.
    */
  private def sigFrame(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int, numHashes: Int, seed: Long): DataFrame =
    df.select(col(idCol), shingles(col(textCol), shingleSize).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes, seed))

  def minhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleSize: Int = 3, threshold: Double = 0.8,
                        seed: Long = 42L,
                        precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val withSig = precomputedSigs.getOrElse(
      sigFrame(df, idCol, textCol, shingleSize, numHashes, seed))

    val bandsDf = lshBands(withSig, idCol, "sig", bands)
    val a = bandsDf.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
    val b = bandsDf.select(col("band"), col("band_hash"), col(idCol).as("id_b"))
    val candidates = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // Spark re-evaluates a referenced subplan per use, so the verify stage
    // must NOT re-derive shingles+signatures for the WHOLE corpus on each
    // side of the pair join (3× the heaviest stage). Instead: semi-join the
    // base table down to candidate ids first — the expensive columns are
    // recomputed only for O(candidates) rows. With a caller-MATERIALIZED
    // sig frame (localCheckpoint) the subset indirection would only add a
    // join, so the frame is used directly.
    val subsetSig = precomputedSigs.getOrElse {
      val candIds = candidates.select(col("id_a").as(idCol))
        .union(candidates.select(col("id_b").as(idCol)))
        .distinct()
      sigFrame(df.join(candIds, Seq(idCol), "left_semi"),
        idCol, textCol, shingleSize, numHashes, seed)
    }

    val left = subsetSig.select(col(idCol).as("id_a"),
      col("sh").as("sh_a"), col("sig").as("sig_a"))
    val right = subsetSig.select(col(idCol).as("id_b"),
      col("sh").as("sh_b"), col("sig").as("sig_b"))
    // verify joins hash-build on the shingle/signature (array) side —
    // candidate-bounded row COUNT but KB-wide rows; sort-merge would
    // sort them (the q79 verify hazard). The narrow candidate pairs
    // stream unsorted.
    candidates
      .join(left.hint("shuffle_hash"), "id_a")
      .join(right.hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        minhashEstimate(col("sig_a"), col("sig_b")).as("est_jaccard"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dedup the corpus: drop the LARGER id of every near-duplicate
    * pair found by `minhashDuplicates` (the standard greedy policy —
    * "keep the first-seen document"; no iterative connected components,
    * one anti-join). A transitive chain a~b~c with a<b<c keeps exactly a:
    * b and c each appear as the larger side of some pair.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleSize: Int = 3, threshold: Double = 0.8,
                   seed: Long = 42L): DataFrame = {
    val drop = minhashDuplicates(df, idCol, textCol, numHashes, bands,
      shingleSize, threshold, seed)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Cross-table near-duplicate pairs: probe rows vs build rows sharing an
    * LSH band bucket, exact-Jaccard verified. Returns (probe_id, build_id,
    * jaccard) for pairs >= threshold. Same shuffle profile as
    * [[minhashDuplicates]] — (id, band, band_hash) triples — but between
    * two tables; heavy columns recomputed only for candidate ids.
    * Id spaces of the two tables are assumed disjoint.
    */
  def minhashDuplicatesAcross(probe: DataFrame, build: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 64, bands: Int = 16,
                              shingleSize: Int = 3, threshold: Double = 0.8,
                              seed: Long = 42L,
                              probeSigs: Option[DataFrame] = None): DataFrame = {
    val pSigs = probeSigs.getOrElse(
      sigFrame(probe, idCol, textCol, shingleSize, numHashes, seed))
    val pBands = lshBands(pSigs, idCol, "sig", bands)
      .select(col("band"), col("band_hash"), col(idCol).as("probe_id"))
    val bBands = lshBands(
        sigFrame(build, idCol, textCol, shingleSize, numHashes, seed),
        idCol, "sig", bands)
      .select(col("band"), col("band_hash"), col(idCol).as("build_id"))
    val candidates = pBands.join(bBands, Seq("band", "band_hash"))
      .select("probe_id", "build_id").distinct()

    // probe side: use a caller-materialized sig frame directly, else the
    // recompute-candidates-only strategy; build (corpus) side always
    // recomputes candidates only — it must never be materialized
    val pSub = probeSigs.getOrElse(
        sigFrame(probe.join(candidates.select(col("probe_id").as(idCol)).distinct(),
          Seq(idCol), "left_semi"), idCol, textCol, shingleSize, numHashes, seed))
      .select(col(idCol).as("probe_id"), col("sh").as("sh_p"))
    val bSub = sigFrame(build.join(
        candidates.select(col("build_id").as(idCol)).distinct(), Seq(idCol), "left_semi"),
        idCol, textCol, shingleSize, numHashes, seed)
      .select(col(idCol).as("build_id"), col("sh").as("sh_b"))
    // same hash-build-the-array-side stance as minhashDuplicates
    candidates.join(pSub.hint("shuffle_hash"), "probe_id")
      .join(bSub.hint("shuffle_hash"), "build_id")
      .select(col("probe_id"), col("build_id"),
        jaccard(col("sh_p"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dedup — the daily-ingest shape: dedup a NEW batch
    * against an existing corpus without re-pairing the corpus with itself
    * (the whole point at 100 TB: corpus x corpus is the expensive square,
    * and it never changes). A new row is dropped if it near-matches ANY
    * corpus row, or a smaller-id row of its own batch (the same one-pass
    * greedy policy as [[minhashDedup]] — suppressors need not themselves
    * survive). Returns the surviving rows of `newDf`.
    */
  def minhashDedupIncremental(newDf: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 64, bands: Int = 16,
                              shingleSize: Int = 3, threshold: Double = 0.8,
                              seed: Long = 42L): DataFrame = {
    // The new BATCH is by definition the small side (a day's ingest vs the
    // accumulated corpus), so its shingles+signatures are materialized
    // ONCE (localCheckpoint) and handed to both passes as precomputed
    // frames — plain composition would re-derive the batch pipeline ~6x.
    // The CORPUS side keeps the never-materialize, recompute-candidates-
    // only strategy inside minhashDuplicatesAcross.
    val newC = PlanCapture.cut(newDf)
    val sigNew = PlanCapture.cut(
      sigFrame(newC, idCol, textCol, shingleSize, numHashes, seed))
    val withinDrop = minhashDuplicates(newC, idCol, textCol, numHashes,
        bands, shingleSize, threshold, seed, precomputedSigs = Some(sigNew))
      .select(col("id_b").as(idCol))
    val acrossDrop = minhashDuplicatesAcross(newC, corpus, idCol, textCol,
        numHashes, bands, shingleSize, threshold, seed, probeSigs = Some(sigNew))
      .select(col("probe_id").as(idCol))
    newC.join(withinDrop.union(acrossDrop).distinct(), Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token multiset: per bit, sum ±1 over token
    * hashes (xxh64), take the sign. Native kernel
    * (graft.functions.SimHash): one pass over tokens per row, no shuffle,
    * no per-token array allocation.
    */
  def simhash(text: Column): Column =
    graft.functions.SketchFunctions.simhash(split(canonicalize(text), " "))

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs with hamming distance ≤ maxDistance.
    * Pigeonhole banding: split the 64 bits into maxDistance+1 bands — any
    * pair within distance d agrees exactly on ≥1 band, so an equi-join per
    * band finds all true pairs without O(n²). Exact check via
    * bit_count(xor) then dedups false positives.
    */
  def simhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        maxDistance: Int = 3): DataFrame =
    hammingPairs(df.select(col(idCol), simhash(col(textCol)).as("sk")),
      idCol, "sk", maxDistance)

  /** Pigeonhole near-dup pairs over ANY precomputed 64-bit hash column
    * (SimHash, image dHash, audio fingerprint…): split the 64 bits into
    * maxDistance+1 bands — a pair within hamming distance d agrees
    * exactly on ≥1 band (d differing bits cannot dirty d+1 disjoint
    * bands), so an equi-join per band finds every true pair without
    * O(n²). Exact check via bit_count(xor) then dedups the multi-band
    * false positives. LOSSLESS: banded ∪ verify ≡ all-pairs filter
    * (asserted brute-force in DedupSpec).
    *
    * Identical sketches COLLAPSE before banding: the band self-join runs
    * over DISTINCT sketch values only, and identical-sketch pairs
    * (hamming 0 — re-posted images, template frames) are emitted by one
    * sketch-keyed equi-join, pure OUTPUT instead of band-bucket
    * candidates. A corpus with K copies of one image costs K output
    * rows' worth of join, not K² band candidates.
    *
    * Shuffle profile at scale: (band, band_bits, sk) rows over the
    * distinct-sketch frame — payload never moves; per-bucket pair work
    * is quadratic in BUCKET OCCUPANCY of distinct sketches (the fixed
    * 64/(d+1)-bit fan is the price of an exact 64-bit hamming ball —
    * shard very large corpora or pre-collapse before calling).
    */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
                   maxDistance: Int = 3): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 64,
      s"maxDistance must be in [0, 64), got $maxDistance")
    val numBands = maxDistance + 1
    val width = 64 / numBands
    // (1L << 64) wraps to 1 (JVM shifts are mod 64): maxDistance=0 needs
    // the all-bits mask or every row lands in one shared band bucket.
    val mask = if (width >= 64) -1L else (1L << width) - 1
    val withSketch = PlanCapture.cut(
      df.select(col(idCol), col(hashCol).cast("long").as("sk")))

    // hamming-0 pairs: one sketch-keyed self-join, no banding involved
    val sameSketch = withSketch.select(col("sk"), col(idCol).as("id_a"))
      .join(withSketch.select(col("sk"), col(idCol).as("id_b")), "sk")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).cast("int").as("hamming"))

    // banding over DISTINCT sketches only
    val distinctSk = withSketch.select(col("sk")).distinct()
    val banded = distinctSk.select(
      col("sk"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)),
        i => call_function("shiftright", col("sk"), i * lit(width))
          .bitwiseAND(lit(mask)))).as(Seq("band", "band_bits")))
    val skPairs = banded.select(col("band"), col("band_bits"), col("sk").as("sk_a"))
      .join(banded.select(col("band"), col("band_bits"), col("sk").as("sk_b")),
        Seq("band", "band_bits"))
      .filter(col("sk_a") < col("sk_b"))
      .select(col("sk_a"), col("sk_b"),
        hammingDistance(col("sk_a"), col("sk_b")).as("hamming"))
      .filter(col("hamming") > 0 && col("hamming") <= maxDistance)
      .distinct()
    // expand sketch pairs to member pairs (id order normalized)
    val crossSketch = skPairs
      .join(withSketch.select(col("sk").as("sk_a"), col(idCol).as("__ia")), "sk_a")
      .join(withSketch.select(col("sk").as("sk_b"), col(idCol).as("__ib")), "sk_b")
      .filter(col("__ia") =!= col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))

    sameSketch.unionByName(crossSketch)
  }

  // ------------------------------------------- n-gram Jaccard (standalone)

  /** All-pairs n-gram Jaccard ≥ threshold, exact, via prefix filtering
    * (AllPairs/PPJoin): under ANY global token order, two sets with
    * J ≥ t share at least one token within each other's first
    * `|x| − ⌈t·|x|⌉ + 1` tokens — so only docs sharing a PREFIX token
    * become candidates, and prefixes are ordered rarest-token-first
    * (ascending document frequency) so the inverted-index join keys are
    * the least-shared tokens in the corpus. This replaces a size-band
    * blocking scheme whose bands degenerated into intra-band cartesian
    * joins (every similar-length doc pairs with every other: quadratic in
    * the band population, 290 s at sf0.1, hopeless at 100 TB); prefix
    * filtering is linear in true-candidate count and loses no pairs.
    *
    * Shape: token-frequency agg (shuffle by token) → per-doc prefix rank
    * (shuffle by id) → inverted-index self-join on prefix token with the
    * exact size-compatibility cut (J ≥ t ⇒ t·|y| ≤ |x| ≤ |y|/t) →
    * distinct candidate pairs → verify with exact set Jaccard. Exact, no
    * sketching — the small-n / verify-stage tool; use minhashDuplicates
    * when n is web-scale.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // set semantics throughout: jaccard() is array_union/intersect-based,
    // so duplicates inside a shingle ARRAY must not count toward sizes
    val withSh = df.select(col(idCol).as("_id"),
        array_distinct(shingles(col(textCol), n)).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .filter(col("nsh") > 0)
    val toks = withSh.select(col("_id"), col("nsh"), explode(col("sh")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("_df"))
    val prefLen = (col("nsh") - ceil(col("nsh") * threshold) + 1).cast("int")
    val ranked = toks.join(freq, "tok")
      .withColumn("_rk", row_number().over(
        Window.partitionBy("_id").orderBy(col("_df"), col("tok"))))
      .filter(col("_rk") <= prefLen)
      .select(col("tok"), col("_id"), col("nsh"))
    val a = ranked.select(col("tok"), col("_id").as("id_a"), col("nsh").as("nsh_a"))
    val b = ranked.select(col("tok"), col("_id").as("id_b"), col("nsh").as("nsh_b"))
    val cands = a.join(b, "tok")
      .filter(col("id_a") < col("id_b") &&
        col("nsh_a") >= col("nsh_b") * threshold &&
        col("nsh_b") >= col("nsh_a") * threshold)
      .select("id_a", "id_b").distinct()
    // verify joins hash-build on the ARRAY side: a sort-merge join
    // would SORT the candidate×array rows (pair rows carrying a
    // shingle array are KB-wide — at 10× gate scale that sort spills
    // and dominates the whole query; measured on the q79 twin:
    // 210 → 135 s). The build side is one array row per doc, hashed by
    // id — per-partition build size is corpus/shuffle-partitions,
    // which a properly-sized cluster keeps bounded.
    cands
      .join(withSh.select(col("_id").as("id_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "id_a")
      .join(withSh.select(col("_id").as("id_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Sub-document (containment) duplicate pairs: (id_a, id_b) where
    * doc A's word set is ≥ `threshold` CONTAINED in doc B's —
    * |A ∩ B| / |A| ≥ t. The asymmetric relative of [[ngramJaccardPairs]]:
    * Jaccard misses a page embedded in a boilerplate-wrapped copy (the
    * union grows with B), containment catches exactly that web-scrape
    * shape. EXACT, via asymmetric prefix filtering: only the PROBE side
    * takes a rarest-first prefix — if none of A's floor(n_a·(1-t))+1
    * rarest tokens appears in B, the overlap is at most
    * n_a - prefLen < t·n_a, so pruning is lossless — while the index
    * side stays full (overlap with B can hide anywhere in B, so B gets
    * no prefix). Candidates where |B| < t·|A| are pruned (overlap ≤ |B|);
    * the exact intersection verifies every survivor. Shuffle profile:
    * (token, id) postings — probe side prefix-sized, index side
    * corpus-token-sized — then candidate-only array joins.
    *
    * OUTPUT-BOUND, by definition: K documents sharing one word set have
    * K·(K−1) true containment pairs, so on an UN-DEDUPED corpus the
    * answer itself — not the plan — is quadratic in duplicate-group
    * size (measured: a 10× corpus of word-set-identical replicas ran
    * 19× longer, all of it true pairs). Run exact/minhash dedup FIRST
    * (the q95 pipeline order); containment then reports the asymmetric
    * wrap-around cases dedup cannot, at near-linear cost.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.9, shingleSize: Int = 1): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    // shingleSize 1 = word sets (cheap, right for distinctive vocabulary);
    // n-gram shingles (e.g. 3) for corpora whose word sets alone overlap
    // heavily — order sensitivity makes random docs non-contained
    val tokens =
      if (shingleSize <= 1) TextStats.canonicalTokens(col(textCol))
      else shingles(col(textCol), shingleSize)
    val withTok = PlanCapture.cut( // probe + index + verify all read it
      df.select(col(idCol).as("_id"),
          array_distinct(tokens).as("tok"))
        .withColumn("n", size(col("tok")))
        .filter(col("n") > 0))
    val toks = withTok.select(col("_id"), col("n"), explode(col("tok")).as("t"))
    val freq = toks.groupBy("t").agg(count(lit(1)).as("_df"))
    // the exact requirement is overlap >= reqInter, the smallest integer i
    // with (i/n >= t) under DOUBLE comparison — which ceil(t*n) can land
    // one above (0.9*10 = 9.000000000000002 rounds up to 10, yet 9/10
    // compares == 0.9 and must pass). Both prunes are therefore made
    // conservative by ONE: a slightly longer prefix / looser size gate
    // admits a few extra candidates for the exact verify to reject, but
    // can never drop a boundary pair the verify would keep.
    val prefLen = least(col("n"),
      (col("n") - ceil(col("n") * threshold) + 2).cast("int"))
    val probe = toks.join(freq, "t")
      .withColumn("_rk", row_number().over(
        Window.partitionBy("_id").orderBy(col("_df"), col("t"))))
      .filter(col("_rk") <= prefLen)
      .select(col("t"), col("_id").as("id_a"), col("n").as("n_a"))
    val index = toks.select(col("t"), col("_id").as("id_b"), col("n").as("n_b"))
    val cands = probe.join(index, "t")
      .filter(col("id_a") =!= col("id_b") &&
        col("n_b") >= ceil(col("n_a") * threshold).cast("int") - 1)
      .select("id_a", "id_b").distinct()
    // hash-build verify (see ngramJaccardPairs): candidate volume on a
    // shared-vocabulary corpus is ~100× the true-pair output (measured
    // 145× at the 10× gate corpus), and each candidate row carries a
    // token array once joined — sort-merge would sort those wide rows
    // and spill; shuffle-hash streams them (measured 210 → 135 s)
    cands
      .join(withTok.select(col("_id").as("id_a"), col("tok").as("tok_a"))
        .hint("shuffle_hash"), "id_a")
      .join(withTok.select(col("_id").as("id_b"), col("tok").as("tok_b"))
        .hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("tok_a"), col("tok_b"))).cast("double") /
          size(col("tok_a"))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Streaming exact dedup by CONTENT: canonical-form digest +
    * `dropDuplicatesWithinWatermark` — the continuous-ingest twin of
    * [[exact]] (and the content-level counterpart of LogStream's
    * request-id dedup). State holds one digest per distinct document and
    * is bounded by the watermark horizon, not by history: a re-delivered
    * or re-crawled document arriving within the watermark is dropped; one
    * arriving later is a new observation by declaration (the watermark IS
    * the dedup contract under unbounded input). Works unchanged over any
    * `readStream` source, including `readStream.format("accesslog")`.
    */
  def exactDedupStream(docs: DataFrame, textCol: String,
                       eventTimeCol: String,
                       watermark: String = "1 hour"): DataFrame =
    docs
      .filter(col(textCol).isNotNull && col(eventTimeCol).isNotNull)
      .withColumn("__digest", md5(canonicalize(col(textCol))))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  // ----------------------------------------------------- decontamination

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minShared` distinct word n-grams with ANY document of a held-out
    * test/benchmark set (the GPT-3/C4-style n-gram overlap gate — train
    * on a corpus that quotes the benchmark and the eval is meaningless).
    * Returns (corpus id, n_shared_grams, n_test_docs): how many distinct
    * grams of the test-set UNION the document contains, and how many
    * test documents it touches; join back left_anti to drop.
    *
    * Scale shape: both sides explode to DISTINCT (id, gram) postings; the
    * join key is the gram. The test side is benchmark-sized — thousands
    * of documents against a 100 TB corpus — so AQE broadcasts it and the
    * CORPUS NEVER SHUFFLES: one scan + explode + broadcast probe + one
    * hash re-aggregate on the corpus id. `n` defaults to the corpus
    * canonical 3-gram; raise toward the classic 13 for long-form
    * benchmarks (longer grams = fewer postings AND fewer false hits).
    */
  def ngramOverlapAcross(corpus: DataFrame, test: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, minShared: Long = 1L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    def postings(df: DataFrame, out: String) =
      df.select(col(idCol).as(out),
          explode(array_distinct(shingles(col(textCol), n))).as("gram"))
    val corpusGrams = postings(corpus, "corpus_id")
    val testGrams = postings(test, "test_id")
    corpusGrams.join(testGrams, "gram")
      .groupBy(col("corpus_id").as(idCol))
      .agg(count_distinct(col("gram")).as("n_shared_grams"),
        count_distinct(col("test_id")).as("n_test_docs"))
      .filter(col("n_shared_grams") >= minShared)
  }

  // ---------------------------------------------- exact substring spans

  /** Exact duplicated-substring spans: per document, the maximal token
    * ranges every one of whose k-token windows also occurs in at least
    * `minDocs` distinct documents. This is the exact-substring method of
    * corpus dedup (flag/remove repeated passages — boilerplate, licenses,
    * templated headers — instead of whole documents): where [[minhashDedup]]
    * drops documents and [[containmentPairs]] finds document-level
    * near-containment, this localizes the duplication to token offsets so
    * the caller can TRIM it and keep the unique remainder
    * ([[stripDuplicateSpans]]).
    *
    * Returns (idCol, span_start, span_end, n_grams): inclusive token
    * offsets into the canonicalized token sequence and the number of
    * duplicated windows merged into the span. Overlapping and adjacent
    * windows merge (gaps-and-islands over a per-document window), so spans
    * are maximal and disjoint.
    *
    * Scale shape: one posexplode to (id, pos, gram) postings — the same
    * postings cardinality as the shingle stage of [[ngramJaccardPairs]] —
    * one hash aggregate keyed by gram (count DISTINCT docs; partial
    * aggregation collapses within-doc repeats map-side), one semi-join of
    * postings against the duplicated-gram set, then a window PARTITIONED
    * BY document (never global) for the interval merge. Nothing is
    * pairwise: cost is O(total tokens), not O(docs²). `hashGrams = true`
    * is the web-scale form: the aggregate/join key becomes xxhash64(gram)
    * — 8 B/posting through the exchange instead of the gram string —
    * at collision odds ~2⁻⁶⁴ per gram pair (exact-in-practice; a
    * collision could only ADD a span, never lose one). The default string
    * form keeps the operator bit-equal to the SQL oracle.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, minDocs: Int = 2,
                     hashGrams: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    mergeWindowIslands(
      duplicateWindowHits(docs, idCol, textCol, k, minDocs, hashGrams),
      idCol, k)
  }

  /** Cross-corpus (incremental) form of [[duplicateSpans]] — the
    * daily-ingest shape: spans of BATCH documents whose every k-token
    * window also occurs anywhere in `corpus`. The corpus is the
    * accumulated history and is never compared against itself (that work
    * was done when its batches arrived), mirroring
    * [[minhashDedupIncremental]] at span instead of document granularity;
    * against a benchmark set instead of a corpus this is span-level
    * decontamination (the localize-and-trim complement of
    * [[ngramOverlapAcross]]'s per-document counts).
    *
    * Scale shape: the corpus side collapses to DISTINCT grams per doc
    * inside the scan (the WordNgrams kernel — no positions, no
    * posexplode), so it contributes one column through ONE gram-keyed
    * semi-join against the batch postings; AQE broadcasts whichever side
    * is small (a daily batch against a 100 TB corpus → batch postings
    * broadcast and THE CORPUS NEVER SHUFFLES). `hashGrams` cuts the
    * corpus-side payload to 8 B/gram when it must move.
    */
  def duplicateSpansAgainst(batch: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String, k: Int = 5,
                            hashGrams: Boolean = false): DataFrame =
    duplicateSpansAgainstGrams(batch,
      corpusGrams(corpus, textCol, k, hashGrams), idCol, textCol, k, hashGrams)

  /** The k-gram column of a document set, one `gram` column (string, or
    * xxhash64 when `hashGrams`) — the storable corpus side of
    * [[duplicateSpansAgainst]] (distinct per doc via the WordNgrams
    * kernel; an accumulating gram STORE is how the streaming form keeps
    * cross-batch state linear in distinct grams, not documents).
    */
  def corpusGrams(corpus: DataFrame, textCol: String, k: Int = 5,
                  hashGrams: Boolean = false): DataFrame = {
    val grams = corpus
      .filter(col(textCol).isNotNull)
      .select(explode(graft.functions.SketchFunctions.wordNgrams(
        split(canonicalize(col(textCol)), " "), k)).as("gram"))
    if (hashGrams) grams.select(xxhash64(col("gram")).as("gram")) else grams
  }

  /** [[duplicateSpansAgainst]] with the corpus already reduced to its
    * gram column (first column of `grams`; type must match the
    * `hashGrams` mode used to produce it).
    */
  def duplicateSpansAgainstGrams(batch: DataFrame, grams: DataFrame,
                                 idCol: String, textCol: String, k: Int = 5,
                                 hashGrams: Boolean = false): DataFrame =
    duplicateSpansAgainstGramParts(batch, Seq(grams), idCol, textCol, k,
      hashGrams)

  /** [[duplicateSpansAgainstGrams]] against a gram store kept in PARTS —
    * the compacted-base-plus-recent-deltas layout of an accumulating
    * store (streaming span dedup): a window hits when its gram occurs in
    * ANY part. One semi-join per part, so each part keeps its own best
    * plan — the big compacted part its bucketed no-shuffle scan, the
    * small delta parts a broadcast — instead of a union that would
    * destroy the base's partitioning and re-shuffle the whole store
    * every batch. Hits are distinct-ed across parts (a gram present in
    * both base and a delta must not double-count a window); the
    * single-part call keeps the exact original plan.
    */
  def duplicateSpansAgainstGramParts(batch: DataFrame,
                                     gramParts: Seq[DataFrame],
                                     idCol: String, textCol: String,
                                     k: Int = 5,
                                     hashGrams: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(gramParts.nonEmpty, "need at least one gram part")
    spansFromPostings(windowPostings(batch, idCol, textCol, k, hashGrams),
      gramParts, idCol, k)
  }

  /** [[duplicateSpansAgainstGramParts]] that ALSO returns the batch's own
    * distinct grams — (spans, grams) — for callers that feed a
    * [[graft.streaming.KeyedBatchStore]]. Both outputs derive from ONE
    * localCheckpoint-pinned postings frame, so the span probe and the
    * store append together pay a single scan/canonicalize/gram pass over
    * the batch instead of two.
    */
  def spanDedupAndGrams(batch: DataFrame, gramParts: Seq[DataFrame],
                        idCol: String, textCol: String, k: Int = 5,
                        hashGrams: Boolean = false): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(gramParts.nonEmpty, "need at least one gram part")
    val bp = windowPostings(batch, idCol, textCol, k, hashGrams)
      .localCheckpoint()
    (spansFromPostings(bp, gramParts, idCol, k),
      bp.select(col("gram")).distinct())
  }

  /** Probe postings against corpus gram parts (semi-join per part, so a
    * bucketed part's side never shuffles) and merge hit windows into
    * spans — the core shared by the batch and scan-sharing span forms.
    */
  private def spansFromPostings(bp: DataFrame, gramParts: Seq[DataFrame],
                                idCol: String, k: Int): DataFrame = {
    val hits = gramParts.map { grams =>
      val keyed = grams.select(col(grams.columns.head).as("gram"))
      bp.join(keyed, Seq("gram"), "left_semi").select(col(idCol), col("pos"))
    }.reduce(_ union _)
    val deduped = if (gramParts.sizeIs == 1) hits else hits.distinct()
    mergeWindowIslands(deduped, idCol, k)
  }

  /** Gaps-and-islands interval merge of equal-length window hits
    * (id, pos): a window starting at pos extends the current span iff it
    * begins before (overlap) or exactly at (adjacency) the token after
    * the running span end — pos <= prev_end + 1. Equal-length windows
    * make the running end simply max(pos)+k-1 over prior rows. The
    * window is PARTITIONED BY document — never global.
    */
  private def mergeWindowIslands(hits: DataFrame, idCol: String,
                                 k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(k - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("__new",
        when(prevEnd.isNull || col("pos") > prevEnd + lit(1), 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** (id, pos) of every k-token window whose gram is shared by >= minDocs
    * distinct documents — the posting/aggregate/semi-join core shared by
    * [[duplicateSpans]] and [[stripDuplicateSpans]].
    */
  private def duplicateWindowHits(docs: DataFrame, idCol: String,
                                  textCol: String, k: Int, minDocs: Int,
                                  hashGrams: Boolean = false): DataFrame = {
    val postings = windowPostings(docs, idCol, textCol, k, hashGrams)
    val dupGrams = postings
      .groupBy(col("gram"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("gram"))
    postings.join(dupGrams, Seq("gram"), "left_semi")
      .select(col(idCol), col("pos"))
  }

  /** (id, pos, gram) postings of every k-token window of the canonical
    * token sequence (gram = string, or its xxhash64 when `hashGrams`).
    */
  private def windowPostings(docs: DataFrame, idCol: String,
                             textCol: String, k: Int,
                             hashGrams: Boolean): DataFrame = {
    // sequence(0, size-k) would generate a DESCENDING range for short
    // docs (Spark's sequence runs backwards when start > stop), so docs
    // with fewer than k tokens are excluded up front
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), split(canonicalize(col(textCol)), " ").as("__t"))
      .filter(size(col("__t")) >= k)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col("__t")) - k),
          i => {
            val gram = array_join(slice(col("__t"), i + lit(1), lit(k)), " ")
            if (hashGrams) xxhash64(gram) else gram
          })).as(Seq("pos", "gram")))
  }

  /** [[duplicateSpans]] applied: returns the input plus `clean_text`, the
    * canonicalized text with every duplicated span's tokens removed (the
    * trim-the-passage, keep-the-document policy). Documents made entirely
    * of duplicated spans come back with an EMPTY clean_text — pass the
    * result through a length gate (`Curation.qualityGate`) rather than
    * silently dropping rows here; null text stays null.
    *
    * The spans frame is re-grouped to one array per affected document and
    * joined back by id (spans are span-sized, documents never re-shuffle
    * more than once), then tokens are dropped by a positional array filter
    * — no second explode of the corpus.
    */
  def stripDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 5, minDocs: Int = 2,
                          hashGrams: Boolean = false): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, k, minDocs, hashGrams)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    // hash-build on the span-array side (one narrow row per AFFECTED
    // doc): the stream side carries full document text, and a
    // sort-merge join would sort those KB-wide rows — the q79 verify
    // hazard. With the hint the documents flow unsorted.
    docs.join(spans.hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("clean_text",
        when(col(textCol).isNull, lit(null).cast("string"))
          .when(col("__spans").isNull, canonicalize(col(textCol)))
          .otherwise(array_join(
            filter(split(canonicalize(col(textCol)), " "),
              (_, i) => !exists(col("__spans"),
                s => i.cast("long") >= s("span_start") &&
                  i.cast("long") <= s("span_end"))),
            " ")))
      .drop("__spans")
  }

  // ------------------------------------------------ paragraph-level dedup

  /** Corpus-wide exact PARAGRAPH dedup with document reconstruction —
    * the granularity between whole-document dedup ([[exact]]) and
    * duplicated-span trimming ([[stripDuplicateSpans]]): split each
    * document on `sep`, keep only the FIRST occurrence of every distinct
    * normalized paragraph across the whole corpus (first = minimum
    * (doc id, paragraph index), the [[exact]] min-id survivor stance),
    * and reassemble each document from its surviving paragraphs in
    * original order. The boilerplate killer for web corpora — repeated
    * footers/navigation/disclaimers survive in exactly one document.
    * Paragraphs that normalize to empty carry no content and are always
    * kept (they are separators, not duplicates). Documents whose every
    * paragraph was seen earlier produce no output row — compose with a
    * left join on the source for outer semantics. `idCol` must be UNIQUE
    * per row (the usual dense doc id): duplicate ids would explode two
    * documents' paragraphs under one key and reassemble them interleaved.
    * Returns (idCol, clean_text, n_paras, n_kept).
    *
    * Scale shape: the explode is map-side; first-occurrence selection is
    * ONE aggregate keyed by (xxhash64(norm), norm) — the hash leads the
    * key so comparisons short-circuit, the full norm rides along so a
    * hash collision cannot merge distinct paragraphs — carrying only the
    * min (id, idx) struct; the keep decision joins that tiny result back
    * on the same key (the exploded frame's exchange is reused, not
    * recomputed); reassembly is the one groupBy(id) you were buying
    * anyway. Never an all-pairs comparison, never a window over the
    * corpus.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    val paras = paragraphFrame(docs, idCol, textCol, sep)
    reassembleParagraphs(keepFirstOccurrences(paras, idCol), idCol, sep)
  }

  /** Incremental [[paragraphDedup]]: dedup a NEW batch against an
    * existing corpus — the daily-ingest shape. A batch paragraph is
    * dropped when its normalized form appears ANYWHERE in the corpus,
    * or earlier within the batch itself; empty-norm paragraphs are
    * separators and always survive. The corpus side collapses to
    * DISTINCT (hash, norm) pairs in-scan (partial aggregation — the
    * corpus is never exploded through a shuffle at full width and the
    * batch never joins corpus×corpus), then anti-joins the batch's
    * already-first-occurrence-filtered paragraphs. Same unique-id
    * contract and output shape as [[paragraphDedup]].
    */
  def paragraphDedupIncremental(batch: DataFrame, corpus: DataFrame,
                                idCol: String, textCol: String,
                                sep: String = "\n"): DataFrame = {
    val paras = paragraphFrame(batch, idCol, textCol, sep)
    val corpusNorms = corpus.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as("__cpara"))
      .select(canonicalize(col("__cpara")).as("__norm"))
      .filter(col("__norm") =!= "")
      .select(xxhash64(col("__norm")).as("__h"), col("__norm"))
      .distinct()
    // empty-norm rows survive the anti join by construction (the corpus
    // set carries no empty norm)
    val fresh = keepFirstOccurrences(paras, idCol)
      .join(corpusNorms, Seq("__h", "__norm"), "left_anti")
    reassembleParagraphs(fresh, idCol, sep)
  }

  /** Corpus-frequency boilerplate removal: delete EVERY occurrence of any
    * paragraph/line whose normalized form appears in at least `minDocs`
    * DISTINCT documents — nav bars, cookie banners, subscribe prompts,
    * footers. The complement of [[paragraphDedup]]'s policy: first-
    * occurrence dedup keeps one copy of repeated content because it might
    * be the original; a line repeated across many unrelated documents is
    * template chrome, and the copy in the FIRST document is as worthless
    * as the rest, so all of them go (CCNet/RefinedWeb drop such lines the
    * same way).
    *
    * Shuffle profile: one aggregate keyed by (hash, norm) computing a
    * distinct-document count (two-phase with partial aggregation — the
    * exchange carries (hash, norm, id) triples once, deduplicated
    * map-side), then a left-anti join of the exploded frame against the
    * frequent set, then the [[reassembleParagraphs]] aggregate. Nothing
    * pairwise, nothing corpus × corpus. Empty-norm rows (blank separator
    * lines) are never counted and never removed. A document whose every
    * line is boilerplate disappears from the output entirely — at corpus
    * scale that's the point (pure-template pages carry no training
    * signal).
    */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       minDocs: Int = 3, sep: String = "\n"): DataFrame = {
    val paras = paragraphFrame(docs, idCol, textCol, sep)
    val frequent = paras.filter(col("__norm") =!= "")
      .groupBy(col("__h"), col("__norm"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"), col("__norm"))
    // hash-build on the frequent set (bounded by DISTINCT template
    // lines, far below corpus paragraphs): the anti-join's stream side
    // carries the original paragraph text per row — sort-merge would
    // sort those wide rows (the q79 verify hazard)
    reassembleParagraphs(
      paras.join(frequent.hint("shuffle_hash"),
        Seq("__h", "__norm"), "left_anti"), idCol, sep)
  }

  /** [[stripBoilerplate]] against CUMULATIVE prior line counts given as
    * parts ((norm_key, n_docs) frames — the counting-store shape: a
    * bucketed compacted base plus small deltas), ALSO returning this
    * batch's own per-key distinct-document counts for the store append.
    * A line is boilerplate once its cumulative distinct-document count —
    * all prior batches plus this one — reaches `minDocs`; every
    * occurrence in THIS batch drops (q128's all-occurrences policy;
    * earlier batches already shipped, so theirs stand).
    *
    * Store-side scale posture: each part is semi-joined down to the
    * batch's own keys BEFORE the cumulative sum (the batch side
    * broadcasts; the bucketed base never shuffles), so the aggregate
    * runs over frames bounded by the batch's key count, never the
    * corpus's. Both outputs derive from ONE localCheckpoint-pinned
    * exploded frame (the [[paragraphDedupAndKeys]] stance), and the
    * counts inherit its null-id filter: a document the strip path cannot
    * emit never feeds the store. With `hashKeys` a collision can only
    * cause an extra drop; a doc id recurring across batches counts once
    * per batch (ingest-time frequency, not global distinctness — the
    * continuous trade, same as recrawls in the dedup siblings).
    */
  def stripBoilerplateAndCounts(batch: DataFrame, parts: Seq[DataFrame],
                                idCol: String, textCol: String,
                                minDocs: Int = 3, sep: String = "\n",
                                hashKeys: Boolean = true)
      : (DataFrame, DataFrame) = {
    val paras = keyedParagraphFrame(batch, idCol, textCol, sep, hashKeys)
      .localCheckpoint()
    val counts = paras.filter(col("__norm") =!= "")
      .groupBy(col("norm_key"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    val batchKeys = counts.select(col("norm_key"))
    val prior = parts
      .map(_.join(batchKeys, Seq("norm_key"), "left_semi"))
      .reduceOption(_ unionByName _)
    val cumulative = prior match {
      case None => counts
      case Some(p) => counts.unionByName(p).groupBy(col("norm_key"))
        .agg(sum(col("n_docs")).as("n_docs"))
    }
    val frequent = cumulative.filter(col("n_docs") >= minDocs)
      .select(col("norm_key"))
    (reassembleParagraphs(
      paras.join(frequent, Seq("norm_key"), "left_anti"), idCol, sep),
      counts)
  }

  /** Distinct paragraph keys of a document frame — what the streaming
    * paragraph store accumulates per batch: `norm_key` is xxhash64(norm)
    * (8 B/paragraph, the scale mode — a hash collision can only cause an
    * extra DROP, the [[duplicateSpansAgainstGrams]] hashGrams trade) or
    * the normalized string itself (engine-portable, for oracle audits).
    * Empty norms are separators, never stored.
    */
  def paragraphNormKeys(docs: DataFrame, textCol: String,
                        sep: String = "\n",
                        hashKeys: Boolean = true): DataFrame = {
    val norms = docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as("__cpara"))
      .select(canonicalize(col("__cpara")).as("__norm"))
      .filter(col("__norm") =!= "")
    (if (hashKeys) norms.select(xxhash64(col("__norm")).as("norm_key"))
     else norms.select(col("__norm").as("norm_key")))
      .distinct()
  }

  /** [[paragraphDedupIncremental]] against a pre-keyed corpus given as
    * PARTS (the streaming store shape: a bucketed compacted base plus
    * small deltas) — anti-joins run per part, so the base's bucket
    * partitioning is preserved and its side of the join never shuffles.
    */
  def paragraphDedupAgainstKeyParts(batch: DataFrame, parts: Seq[DataFrame],
                                    idCol: String, textCol: String,
                                    sep: String = "\n",
                                    hashKeys: Boolean = true): DataFrame =
    reassembleParagraphs(
      freshAgainstKeyParts(
        keyedParagraphFrame(batch, idCol, textCol, sep, hashKeys),
        parts, idCol),
      idCol, sep)

  /** [[paragraphFrame]] plus the store key column (`norm_key` = hash or
    * norm) — the probe-side frame both key-part forms share.
    */
  private def keyedParagraphFrame(batch: DataFrame, idCol: String,
                                  textCol: String, sep: String,
                                  hashKeys: Boolean): DataFrame =
    paragraphFrame(batch, idCol, textCol, sep)
      .withColumn("norm_key", if (hashKeys) col("__h") else col("__norm"))

  /** First-occurrence filter + per-part anti-joins — the probe core
    * shared by [[paragraphDedupAgainstKeyParts]] and
    * [[paragraphDedupAndKeys]] (the [[spansFromPostings]] stance: one
    * body, two entry points, so the streaming and batch paths cannot
    * silently diverge).
    */
  private def freshAgainstKeyParts(paras: DataFrame, parts: Seq[DataFrame],
                                   idCol: String): DataFrame =
    parts.foldLeft(keepFirstOccurrences(paras, idCol)) { (df, part) =>
      // empty-norm rows carry a key too, but the store never holds
      // empty norms (or their hash): they always survive the anti join
      df.join(part.select(col("norm_key")), Seq("norm_key"), "left_anti")
    }

  /** [[paragraphDedupAgainstKeyParts]] that ALSO returns the batch's own
    * distinct paragraph keys — (rebuilt docs, keys) — for callers that
    * feed a [[graft.streaming.KeyedBatchStore]]. Both outputs derive from
    * ONE localCheckpoint-pinned exploded frame, so the emitted documents
    * and the store append together pay a single
    * scan/split/canonicalize/hash pass over the batch instead of two.
    * Unlike [[paragraphNormKeys]] on the raw frame, the keys inherit the
    * dedup path's null-id filter: a document the dedup path cannot emit
    * (null id) must not seed the store either, or its paragraphs would be
    * suppressed from every later batch without ever having surfaced.
    */
  def paragraphDedupAndKeys(batch: DataFrame, parts: Seq[DataFrame],
                            idCol: String, textCol: String,
                            sep: String = "\n",
                            hashKeys: Boolean = true): (DataFrame, DataFrame) = {
    val paras = keyedParagraphFrame(batch, idCol, textCol, sep, hashKeys)
      .localCheckpoint()
    val keys = paras.filter(col("__norm") =!= "")
      .select(col("norm_key")).distinct()
    (reassembleParagraphs(freshAgainstKeyParts(paras, parts, idCol),
      idCol, sep), keys)
  }

  /** Exploded (id, __np, __idx, __para, __norm, __h) paragraph frame
    * shared by the paragraph-dedup forms; n_paras rides along so no
    * second corpus scan is needed for the count.
    */
  private def paragraphFrame(docs: DataFrame, idCol: String,
                             textCol: String, sep: String): DataFrame =
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol),
        size(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .cast("long").as("__np"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("__idx", "__para")))
      .withColumn("__norm", canonicalize(col("__para")))
      .withColumn("__h", xxhash64(col("__norm")))

  /** First-occurrence filter: one aggregate keyed by (hash, norm)
    * carrying only the min (id, idx) struct; empty norms always kept.
    */
  private def keepFirstOccurrences(paras: DataFrame, idCol: String): DataFrame = {
    val first = paras.filter(col("__norm") =!= "")
      .groupBy(col("__h"), col("__norm"))
      .agg(min(struct(col(idCol).as("id"), col("__idx").as("idx")))
        .as("__first"))
    // hash-build on the min-struct side — one narrow row per DISTINCT
    // paragraph, the same frame the aggregate's hash map just held, so
    // a partition's build fits wherever the aggregate did (AQE splits
    // skewed partitions). The stream side carries each paragraph's
    // original text; sorting it (sort-merge) is the q79 wide-row
    // hazard and the bigger risk of the two.
    paras.join(first.hint("shuffle_hash"), Seq("__h", "__norm"), "left")
      .filter(col("__norm") === "" ||
        (col("__first.id") === col(idCol) && col("__first.idx") === col("__idx")))
  }

  private def reassembleParagraphs(kept: DataFrame, idCol: String,
                                   sep: String): DataFrame =
    kept.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__idx"), col("__para")))),
          x => x("__para")), sep).as("clean_text"),
        max(col("__np")).as("n_paras"),
        count(lit(1)).as("n_kept"))
      .select(col(idCol), col("clean_text"), col("n_paras"), col("n_kept"))

  // ------------------------------------------------- connected components

  /** Connected components over an undirected edge list: returns
    * (id, component) where component = the minimum node id reachable from
    * `id`. The cluster view of near-duplicate pairs — where the greedy
    * drop-the-larger-id policy of [[minhashDedup]] removes rows, this
    * labels them, so callers can pick survivors per cluster (longest,
    * highest-quality, ...) instead of by id order.
    *
    * Iterative min-label propagation WITH pointer compression: each round,
    * every node takes the min of its own label and its neighbors' labels
    * (one union + min-aggregate), then jumps through its label's label
    * (`comp := label(comp)`, one self-join of the labels frame). The jump
    * roughly doubles the distance a label chain has already covered, so a
    * path of diameter d converges in O(log d) rounds instead of O(d) —
    * near-dup graphs are usually shallow, but one long chain would
    * otherwise stall the whole job for d rounds. The fixpoint is unique
    * (min reachable id), so the result is deterministic regardless of
    * scheduling; compression only shortcuts along already-propagated
    * labels and cannot change it.
    *
    * Per-round cost is pared down: the edge list is hash-partitioned on
    * the join side ONCE up front (localCheckpoint preserves the
    * partitioning, so no round re-shuffles the edges — only the much
    * smaller label frame moves), and the new labels come from one union +
    * min-aggregate plus one labels-sized self-join. Lineage is cut each
    * round (PlanCapture.cut = lazy localCheckpoint) — an iterative join
    * would otherwise double the plan depth per round.
    */
  def connectedComponents(edges: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 50): DataFrame = {
    // the sum-based convergence check below is only sound for INTEGRAL
    // ids: a string column would null-cast (silently yielding singleton
    // components) and a floating id could round a small label decrease
    // away (silently split components). Enforced, not just documented —
    // hash non-integral ids to a surrogate (e.g. xxhash64) before calling.
    Seq(idA, idB).foreach { c =>
      import org.apache.spark.sql.types._
      val integral = edges.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType => d.scale == 0
        case _ => false
      }
      require(integral,
        s"connectedComponents requires integral ids; '$c' is " +
          s"${edges.schema(c).dataType} — hash non-integral ids to a " +
          "surrogate first")
    }
    val sym = PlanCapture.cut(edges
      .select(col(idA).as("src"), col(idB).as("dst"))
      .union(edges.select(col(idB).as("src"), col(idA).as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(col("dst")))
    // ROUND 1 FUSED INTO THE SEED: at initialization every neighbor's
    // label IS its id, so the first propagate round needs no join at
    // all — min(self, neighbors) is ONE aggregate over sym. This seed
    // equals exactly the first round's union+min under identity labels
    // (sym is symmetrized, so every node appears as src and isolated-
    // side coverage holds); the compression below then reproduces the
    // original round-1 output bit-for-bit, two exchanges cheaper and
    // one checkpoint execution fewer per call.
    val seed = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"), least(col("src"), col("__mn")).as("comp"))
    var labels = PlanCapture.cut(seed
      .join(seed.select(col("id").as("comp"), col("comp").as("comp2")),
        Seq("comp"))
      .select(col("id"), col("comp2").as("comp")))
    var iter = 1
    // convergence via the label sum: labels only ever DECREASE, so an
    // unchanged sum IS the fixpoint — a scalar aggregate instead of a
    // changed-flag join against the previous round. Exact BigInt
    // accumulation (materializeSums), NOT the native long sum: the
    // docstring above recommends full-range 64-bit surrogate ids
    // (xxhash64), whose long sum wraps mod 2^64 — a wrapped-equal sum
    // could declare convergence while labels still move.
    //
    // r16 execution-count reshape (guide §1/§2; the q148 measurement —
    // 246 jobs, ~80 SQL executions, 2s of task time in a ~6.6s wall —
    // says per-round wall here is EXECUTIONS, not data): the scalar
    // rides the SAME RDD job that materializes the round's checkpoint
    // (PlanCapture.materializeSums) instead of its own SQL aggregate
    // execution, and each round is ONE cut instead of two (see below).
    //
    // ONE action proves round 1: comp <= id everywhere, so
    // sum(comp) == sum(id) iff the fused first round (and therefore
    // the identity labeling) was already the fixpoint — the same
    // stability evidence the original identity-seeded loop derived
    // from its first two sums, without a separate identity-sum action.
    val (n0, sums0) = PlanCapture.materializeSums(labels, Seq("comp", "id"))
    if (n0 == 0L) return labels // no edges -> no labeled nodes
    var prevSum: BigInt = sums0(0)
    var converged = sums0(0) == sums0(1)
    while (!converged && iter < maxIter) {
      // ONE cut per round, compression FIRST: comp := label(comp) over
      // the PREVIOUS round's checkpointed labels (the self-join reads
      // the persisted label RDD twice — cheap, no recompute), then the
      // propagate union + min-aggregate runs on the compressed frame
      // inside the same execution. Semantics: compress and propagate
      // both only DECREASE labels and are bounded below by the
      // min-reachable-id fixpoint, so reordering them cannot change the
      // fixpoint — and an unchanged sum still proves it exactly:
      // propagate(compress(L)) = L pointwise forces propagate(L) = L
      // (propagate(compress(L)) <= propagate(L) <= L sandwiches it), so
      // the stop condition remains "L is the propagate fixpoint", i.e.
      // labels constant per component at the component min. The r15
      // form cut the post-propagate frame and compressed it in a SECOND
      // cut (the propagate subtree was too expensive to leave shared
      // uncut — measured +70% shuffle-read records); compressing the
      // already-checkpointed PREVIOUS labels instead shares only cached
      // scans, keeping the round at one execution + one job without
      // duplicated shuffle work.
      val compressed = labels
        .join(labels.select(col("comp").as("comp2"), col("id").as("comp")),
          Seq("comp"))
        .select(col("id"), col("comp2").as("comp"))
      // one union + min-aggregate: neighbors' labels and the node's own
      // label meet in a single hash aggregate (no second join); every
      // node appears in `compressed` (the compression self-join is total
      // — every label IS a node id), so the union keeps isolated-side
      // coverage.
      val next = PlanCapture.cut(sym
        .join(compressed.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("comp"))
        .union(compressed)
        .groupBy("id").agg(min("comp").as("comp")))
      val (_, sumsK) = PlanCapture.materializeSums(next, Seq("comp"))
      val nextSum = sumsK(0)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      iter += 1
    }
    // fail loudly rather than return silently-split components: the
    // docstring promises the min-reachable-id FIXPOINT, and a survivor
    // policy acting on partial labels would keep multiple "survivors"
    // from what is really one duplicate cluster
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds - " +
        "graph diameter exceeds maxIter; raise it")
    labels
  }

  /** INCREMENTAL connected components — cluster-label maintenance for
    * the daily-ingest dedup shape: fold a new batch of near-duplicate
    * edges into existing (id, component) labels without re-running the
    * fixpoint over the accumulated graph. `prior` must satisfy the
    * [[connectedComponents]] output contract (component = min reachable
    * id — its own output, or this function's), which is what makes the
    * reduction sound: every prior component participates as ONE node,
    * its label, and since that label IS the component's min member, the
    * min over the reduced graph equals the min over the merged raw
    * components.
    *
    * Scale shape: the ITERATION runs on the reduced graph only — new
    * edges map endpoint→prior-label via one join against `prior`
    * (fresh endpoints stand for themselves), so fixpoint cost scales
    * with the batch and its touched components, never the corpus.
    * Applying the result back is ONE linear join of `prior` against the
    * (old label → new label) map plus the fresh-node labels — rows in
    * untouched components keep their labels bit-for-bit. Equivalence
    * with the full recompute on the accumulated edge list is
    * spec-asserted and oracle-gated (q147).
    */
  def connectedComponentsIncremental(prior: DataFrame, edges: DataFrame,
                                     idCol: String = "id",
                                     compCol: String = "comp",
                                     idA: String = "id_a",
                                     idB: String = "id_b"): DataFrame = {
    val p = PlanCapture.cut(prior.select(col(idCol).cast("long").as("id"),
      col(compCol).cast("long").as("comp")))
    val e0 = edges
      .select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    // endpoints → prior labels; endpoints the prior has never seen stand
    // for themselves (they are their own 1-node components)
    val mapped = e0
      .join(p.select(col("id").as("a"), col("comp").as("__ca")), Seq("a"), "left")
      .join(p.select(col("id").as("b"), col("comp").as("__cb")), Seq("b"), "left")
      .select(coalesce(col("__ca"), col("a")).as("id_a"),
        coalesce(col("__cb"), col("b")).as("id_b"))
    val reduced = connectedComponents(mapped) // (id, comp): labels + fresh
    // prior comps are prior MIN ids, and fresh ids are disjoint from
    // prior ids, so the relabel join can never alias a fresh node onto
    // an untouched component
    val relabel = reduced.select(col("comp").as("__newc"), col("id").as("comp"))
    val updated = p.join(relabel, Seq("comp"), "left")
      .select(col("id"), coalesce(col("__newc"), col("comp")).as("comp"))
    val fresh = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id"))).distinct()
      .join(p.select(col("id")), Seq("id"), "left_anti")
      .join(reduced, Seq("id"))
      .select(col("id"), col("comp"))
    updated.unionByName(fresh)
  }

  /** Content-aware survivor per near-duplicate cluster: label the pair
    * graph with [[connectedComponents]], then keep ONE document per
    * component — the longest text, ties to the smallest id (deterministic;
    * swap the ordering for quality-score or recency policies). This is the
    * policy layer [[minhashDedup]]'s drop-the-larger-id shortcut skips.
    *
    * Returns (component, survivor_id, n_members, max_len). Cost on top of
    * the pair graph: one join of labels back to documents (labels are tiny
    * — only documents that HAVE a duplicate) and one struct-argmax hash
    * aggregate per component. No window sort, no per-cluster collection.
    */
  def clusterSurvivors(df: DataFrame, idCol: String, textCol: String,
                       pairs: DataFrame): DataFrame =
    clusterSurvivorsFromLabels(df, idCol, textCol, connectedComponents(pairs))

  /** [[clusterSurvivors]] over a PRECOMPUTED label frame (`(id, comp)`,
    * as [[connectedComponents]] returns). The pair graph + CC fixpoint
    * dominates the cost of every cluster-policy operator; a pipeline
    * that both picks survivors and splits leakage-safely (the common
    * curation shape) should pay for it once and fan out — not recompute
    * it per downstream policy.
    */
  def clusterSurvivorsFromLabels(df: DataFrame, idCol: String, textCol: String,
                                 labels: DataFrame): DataFrame = {
    labels
      .join(df.select(col(idCol).as("id"), length(col(textCol)).cast("long").as("len")),
        Seq("id"))
      .groupBy(col("comp").as("component"))
      // argmax by (len, -id): longest text wins, ties to smallest id
      .agg(
        max(struct(col("len"), (-col("id")).as("negid"))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("component"),
        (-col("__best.negid")).as("survivor_id"),
        col("n_members"),
        col("__best.len").as("max_len"))
  }

  // --------------------------------------------- leakage-safe splitting

  /** Train/test split that near-duplicate clusters can never straddle —
    * the leakage-safe version of a random split: splitting row-wise puts
    * one copy of a near-dup pair in train and its twin in test, and the
    * eval silently measures memorization. Here the split key is the
    * document's near-dup COMPONENT (min reachable id over `pairs`;
    * singletons key by their own id), hashed through the same
    * deterministic md5-bucket rule as Sampling — membership is a pure
    * function of content-derived ids: stable across engines, re-runs,
    * and partitionings.
    *
    * Returns the input rows plus (split_key, split) where split ∈
    * {"test", "train"}. Cost on top of the pair graph: connected
    * components over PAIRS ONLY (documents without a near-dup never
    * enter the iteration) + one left join of the (tiny) labels frame.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       pairs: DataFrame, testFraction: Double): DataFrame =
    leakageSafeSplitFromLabels(df, idCol, connectedComponents(pairs),
      testFraction)

  /** [[leakageSafeSplit]] over a PRECOMPUTED label frame (`(id, comp)`,
    * as [[connectedComponents]] returns) — same rationale as
    * [[clusterSurvivorsFromLabels]]: one pair graph + CC fixpoint, many
    * policy consumers.
    */
  def leakageSafeSplitFromLabels(df: DataFrame, idCol: String,
                                 labels: DataFrame,
                                 testFraction: Double): DataFrame = {
    require(testFraction >= 0 && testFraction <= 1,
      s"testFraction in [0,1], got $testFraction")
    val keyed = labels.select(col("id").as(idCol), col("comp"))
    df.join(keyed, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("comp"), col(idCol)))
      .withColumn("split",
        when(Sampling.hashSampled(col("split_key"), testFraction), "test")
          .otherwise("train"))
      .drop("comp")
  }

  /** K-fold cross-validation assignment with the same leakage guarantee
    * as [[leakageSafeSplitFromLabels]]: the fold is a deterministic
    * function of the near-dup COMPONENT, so a cluster of near-copies
    * can never straddle folds (row-wise k-fold leaks exactly like a
    * row-wise holdout, k times over).
    *
    * Fold choice range-partitions the same md5 prefix the split/sample
    * machinery uses: fold(key) = #{i : md5(key)[0,4) ≥ boundary_i},
    * boundary_i = lowercase hex of floor(i·65536/k) — a pure string
    * comparison against k−1 literals, so an external engine replays it
    * with zero hash-to-integer conversion, and fold sizes are uniform
    * to ±1/65536. Cost over the label frame: one left join + per-row
    * column arithmetic; nothing shuffles but the (tiny) labels.
    */
  def kFoldSplitFromLabels(df: DataFrame, idCol: String,
                           labels: DataFrame, k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2, 64], got $k")
    val keyed = labels.select(col("id").as(idCol), col("comp"))
    val out = df.join(keyed, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("comp"), col(idCol)))
      .drop("comp")
    val h = substring(md5(col("split_key").cast("string")), 1, 4)
    val fold = (1 until k)
      .map(i => f"${i * 65536 / k}%04x")
      .foldLeft(lit(0)) { (acc, b) =>
        acc + when(h >= lit(b), 1).otherwise(0)
      }
    out.withColumn("fold", fold.cast("int"))
  }

  // --------------------------------------------- embedding cosine near-dup

  /** Near-duplicate pairs by embedding cosine ≥ threshold. Standalone form
    * is the exact all-pairs join — n²/2 dot products BY CONTRACT (no
    * lossless cosine bucketing exists: a ≥-threshold pair can straddle
    * any partition of the sphere) — use for verify stages or modest n;
    * the scale path is Similarity.lshCandidatePairs (random-hyperplane
    * buckets) feeding this exact predicate.
    *
    * Two scale defenses on the contract path: (1) the streamed side is
    * spread to the session's shuffle parallelism when its input split
    * count is lower — pair work is quadratic while input splits are
    * linear, so a single-split parquet corpus would otherwise score ALL
    * n²/2 pairs on one core (the fuzzyJoin lesson; a no-op on real
    * clusters with many splits); (2) a loud `maxRows` guard that fails
    * with the number instead of burning a cluster-day — 0 disables it
    * knowingly.
    *
    * When the guard is on, the normed frame is PERSISTED and the guard
    * count materializes it — one execution of the input lineage total
    * (the guard, and both join sides, read the cache) instead of three;
    * the cache is bounded at maxRows embedding rows by the guard itself
    * and evicts LRU like any Spark cache. With maxRows=0 nothing is
    * cached (unbounded inputs must not be pinned) and the lineage runs
    * once per join side.
    */
  def embeddingDuplicates(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double = 0.95,
                          maxRows: Long = 200000L): DataFrame = {
    // norms once per ROW (n), not per pair (n²/2)
    val normed = df.select(col(idCol), col(vecCol),
      Similarity.norm(col(vecCol)).as("nrm"))
    val withNorm = if (maxRows > 0) {
      val cached = normed.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = cached.count() // materializes the cache; guard rides along
      require(n <= maxRows,
        s"embeddingDuplicates over $n rows scores ~${n * n / 2} exact " +
          s"pairs (> maxRows=$maxRows bound): this is the documented " +
          "all-pairs verify-stage form — use Similarity." +
          "lshCandidatePairs for the candidate stage at scale, or raise " +
          "maxRows knowingly")
      cached
    } else normed
    val shufflePartitions =
      df.sparkSession.sessionState.conf.numShufflePartitions
    val a0 = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      col("nrm").as("n_a"))
    val a =
      if (a0.rdd.getNumPartitions < shufflePartitions)
        a0.repartition(shufflePartitions)
      else a0
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("v_b"), col("nrm").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosinePrenormed(col("v_a"), col("v_b"), col("n_a"), col("n_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
