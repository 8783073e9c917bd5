package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-dimensional physical layout: Z-order (Morton-curve) clustering.
  *
  * The reference clusters its parquet output on ONE dimension —
  * `sortWithinPartitions(request_time)` so row-group min/max stats prune
  * time-range queries (`scripts/oss_s3_server_side_logging_compacter.py:
  * 253-258`; SURVEY.md §4 "row-group clustering"). That breaks down the
  * moment queries ALSO filter on a second column (requester, key prefix,
  * http_status): a file tightly clustered on time spans the full range of
  * every other column, so nothing else prunes.
  *
  * Z-ordering interleaves the bits of per-column rank buckets, so sorting
  * by the interleaved value clusters rows that are close in EVERY
  * dimension. Each output file then covers a narrow range of ALL z-columns
  * → parquet min/max row-group stats prune on any of them. At 100 TB this
  * is the difference between scanning one file and scanning all of them
  * for a `requester = X AND dt BETWEEN ...` query.
  *
  * Two bucketing strategies:
  *   - [[zvalueByRange]] (the scale path): bucket = rank among
  *     driver-collected quantile boundaries (one `approx_percentile` pass,
  *     boundaries are a few KB regardless of data size — the same
  *     pattern Delta Lake's OPTIMIZE ZORDER uses). No global sort, no
  *     skew sensitivity for numeric columns (equal-population buckets by
  *     construction); string columns rank among distinct-value boundaries
  *     (order-preserving, so min/max stats stay narrow — equal hot values
  *     necessarily share a bucket).
  *   - [[zvalueByNtile]] (the deterministic path): bucket = exact
  *     `ntile()` over a total order — reproducible bit-for-bit in any
  *     SQL engine (the DuckDB-oracle gate), at the cost of a global
  *     window sort; for tests and small-to-medium frames.
  */
object Layout {

  /** Upper bound on the distinct-value count a STRING z-column may have
    * before [[zvalueByRange]] refuses it — the single-task distinct-set
    * sort behind order-preserving string boundaries is only a correct
    * plan while the vocabulary is bounded (1M distinct short strings ≈
    * tens of MB in one task). URL/id-cardinality columns must not go
    * through this path.
    */
  val MaxStringZDistinct: Long = 1000000L

  /** Morton interleave: bit i of bucket d lands at position
    * `i * dims + d`. Buckets must already be in `[0, 2^bits)`. Pure
    * integer column arithmetic — codegen-friendly, no UDF.
    */
  def interleaveBits(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.nonEmpty && bits * buckets.size <= 63,
      s"${buckets.size} dims x $bits bits must fit a signed long")
    val dims = buckets.size
    val terms = for {
      i <- 0 until bits
      (b, d) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)),
      i * dims + d)
    terms.reduce(_ + _)
  }

  /** Exact, engine-reproducible z-value: per-column bucket via
    * `ntile(2^bits)` over (column, tiebreakers...) — the tiebreakers must
    * make the order total or ntile's tie placement is undefined.
    */
  def zvalueByNtile(df: DataFrame, zCols: Seq[String], bits: Int,
                    tieBreakers: Seq[String]): DataFrame = {
    val n = 1 << bits
    val bucketed = zCols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      // a global ntile is inherently one sorted partition; the constant
      // partition key states that intent (this is the declared
      // small-frame path — zvalueByRange is the scale path)
      val w = Window.partitionBy(SingleTask.key(col(c)))
        .orderBy((col(c) +: tieBreakers.map(col)): _*)
      d.withColumn(s"_zb$i", (ntile(n).over(w) - 1).cast("long"))
    }
    bucketed.withColumn("zval",
      interleaveBits(zCols.indices.map(i => col(s"_zb$i")), bits))
      .drop(zCols.indices.map(i => s"_zb$i"): _*)
  }

  /** Scale-path z-value: bucket via quantile boundaries collected once on
    * the driver (approx_percentile, one aggregate over the frame). The
    * per-row bucket is a fold over the boundary literals — O(2^bits) cheap
    * comparisons, no shuffle, no window.
    */
  def zvalueByRange(df: DataFrame, zCols: Seq[String], bits: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val n = 1 << bits
    val probs = (1 until n).map(_.toDouble / n).toArray
    // analyzer-resolved dtype lookup (case-insensitive, like every other
    // column reference here) — StructType.apply would be case-sensitive
    def dtypeOf(c: String) = df.select(col(c)).schema.head.dataType
    val (numCols, strCols) = zCols.partition(c => dtypeOf(c) != StringType)
    // one pass computes every numeric column's boundary vector
    val qs: Map[String, Array[Double]] =
      if (numCols.isEmpty) Map.empty
      else {
        val aggs = numCols.map(c =>
          percentile_approx(col(c).cast("double"), typedLit(probs.toSeq),
            lit(10000)).as(s"_q_$c"))
        val rows = df.agg(aggs.head, aggs.tail: _*).collect()
        numCols.zipWithIndex.map { case (c, i) =>
          // empty frame / all-NULL column → percentile is NULL → no
          // boundaries → every row lands in bucket 0 (degenerate but valid)
          val bs = if (rows.isEmpty || rows(0).isNullAt(i)) Array.empty[Double]
            else rows(0).getSeq[Double](i).toArray.distinct.sorted
          c -> bs
        }.toMap
      }
    // string columns: ORDER-PRESERVING rank bucketing — boundary strings
    // are the per-tile maxima of an ntile over the column's DISTINCT
    // values (a distinct + a window over the distinct set, both far
    // smaller than the data; ≤ n-1 boundary literals reach the driver).
    // Order preservation is what keeps parquet min/max stats narrow so
    // `requester = X` actually prunes files; a hash bucket would co-locate
    // equal values but leave every file spanning the whole string domain.
    // Population balance is per distinct value — a single hot value is one
    // bucket by necessity (identical rows cannot be split by any
    // order-preserving scheme).
    //
    // CARDINALITY CONTRACT: the ntile below sorts the DISTINCT value set
    // in one task, which is only correct while that set is bounded —
    // requester/host/category-like columns, NOT url/id-like ones. The
    // guard makes a corpus-cardinality string column fail loudly instead
    // of silently becoming a single-task corpus sort; route such columns
    // through a numeric surrogate (xxhash64 destroys pruning order — use
    // a numeric key or pre-extracted prefix rank instead).
    val sqs: Map[String, Array[String]] = strCols.map { c =>
      val distinctVals = df.select(col(c).as("_v")).na.drop.distinct()
      val cnt = distinctVals.count()
      require(cnt <= MaxStringZDistinct,
        s"string z-column '$c' has $cnt distinct values " +
          s"(> $MaxStringZDistinct): order-preserving string bucketing " +
          "is for bounded-vocabulary columns; use a numeric column or a " +
          "bounded derived key for URL-cardinality data")
      val w = Window.partitionBy(SingleTask.key(col("_v"))).orderBy(col("_v"))
      val bounds = distinctVals
        .withColumn("_t", ntile(n).over(w))
        .groupBy("_t").agg(max("_v").as("_b"))
        .orderBy("_t").collect().map(_.getString(1))
      c -> bounds.dropRight(1) // n-1 cut points
    }.toMap
    val bucketed = zCols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val bucket =
        if (sqs.contains(c))
          aggregate(typedLit(sqs(c).toSeq), lit(0L),
            (acc, b) => acc + when(col(c) > b, 1L).otherwise(0L))
        else
          aggregate(typedLit(qs(c).toSeq), lit(0L),
            (acc, b) => acc + when(col(c).cast("double") > b, 1L).otherwise(0L))
      d.withColumn(s"_zb$i", bucket)
    }
    bucketed.withColumn("zval",
      interleaveBits(zCols.indices.map(i => col(s"_zb$i")), bits))
      .drop(zCols.indices.map(i => s"_zb$i"): _*)
  }

  /** The full clustering pipeline shared by [[zorderWrite]] and the
    * compacter: z-value → range partition into `numFiles` → local sort →
    * drop the helper column.
    */
  def zorderCluster(df: DataFrame, zCols: Seq[String], numFiles: Int,
                    bits: Int = 8): DataFrame =
    zvalueByRange(df, zCols, bits)
      .repartitionByRange(numFiles, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")

  /** Z-order-clustered parquet write: range-partition by z-value into
    * `numFiles` files, sort within each by z-value, drop the helper
    * column. Every output file covers a compact Morton-curve segment →
    * narrow min/max on all `zCols` at once.
    */
  def zorderWrite(df: DataFrame, zCols: Seq[String], numFiles: Int,
                  dest: String, bits: Int = 8): Unit =
    zorderCluster(df, zCols, numFiles, bits)
      .write.mode("overwrite").option("compression", "snappy").parquet(dest)

  /** Parquet write with COLUMN BLOOM FILTERS — the point-lookup pruning
    * lever min/max statistics cannot provide: row-group min/max prunes
    * RANGE predicates, but an equality probe on a high-cardinality,
    * non-clustered key (doc_id, url hash, user id) matches every row
    * group's [min, max] span and reads everything. A bloom filter per
    * row group answers "is this value possibly here" in a few KB, so a
    * needle query over 100 TB touches only the row groups that can
    * match — this is the difference between a full-corpus scan and a
    * hundred-row read when auditing one document's provenance.
    *
    * `ndvPerGroup` sizes the filter (parquet-mr derives bits from the
    * expected distinct count; oversizing wastes footer bytes, UNDER-
    * sizing inflates the false-positive rate and silently erodes the
    * pruning back toward a full scan — size it to the real per-row-
    * group NDV, not the table NDV). Readers get the pruning for free:
    * Spark's vectorized parquet reader consults bloom filters for
    * pushed equality filters automatically.
    */
  def writeWithBloomFilters(df: DataFrame, dest: String,
                            bloomCols: Seq[String],
                            ndvPerGroup: Long = 100000L,
                            numFiles: Int = 0): Unit = {
    require(bloomCols.nonEmpty, "need at least one bloom-filter column")
    require(ndvPerGroup > 0, s"ndvPerGroup must be positive, got $ndvPerGroup")
    bloomCols.foreach(c => require(df.columns.contains(c), s"no column $c"))
    val shaped = if (numFiles > 0) df.repartition(numFiles) else df
    val w = bloomCols.foldLeft(
      shaped.write.mode("overwrite").option("compression", "snappy")) {
      (wr, c) =>
        wr.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", ndvPerGroup.toString)
    }
    w.parquet(dest)
  }

  /** Deterministic global shuffle-and-shard for training export — the
    * step between curation and the shard writer ("shuffle the corpus,
    * cut it into N shards, number the rows inside each"): every row gets
    * a `shard` in [0, nShards) and a dense 0-based `pos` within its
    * shard, both pure functions of the row id — reproducible across
    * engines, partitionings and re-runs, never a seeded RNG
    * (the [[Sampling.hashSampled]] stance). Shard = the first 4 hex
    * chars of md5(id) (uniform over 65536, [[Sampling]]'s bucket) mod
    * nShards — sizes balance to ±O(n/65536) relative bias; within-shard
    * order is (md5(id), id), i.e. hash-shuffled, which is the point of
    * a training shard.
    *
    * Scale shape: `pos` is a global rank per shard, but NOT a
    * per-shard window (a shard of a 100 TB corpus is ~total/N — far too
    * big for one task). Same exact two-phase form as
    * [[Sampling.tokenBudgetPerGroup]]: rows bucket by the first 2 hex
    * chars of the SAME md5 the order sorts by (a sort-key prefix, so
    * bucket order never contradicts row order); per-(shard, bucket)
    * COUNTS make a tiny frame whose prefix sum yields each bucket's
    * rank carry-in; row_number then runs partitioned by (shard, BUCKET)
    * and pos = carry + rn − 1. Rows with null id are excluded (no
    * identity). `idCol` must be unique per row (duplicate ids tie the
    * order and make positions partition-dependent).
    */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(nShards <= 65536, s"shard key is 16-bit; got $nShards shards")
    val rows = df.filter(col(idCol).isNotNull)
      .withColumn("__md5", md5(col(idCol).cast("string")))
      .withColumn("shard",
        (conv(substring(col("__md5"), 1, 4), 16, 10).cast("int") % nShards)
          .cast("int"))
      .withColumn("__b", conv(substring(col("__md5"), 1, 2), 16, 10).cast("int"))
    val carryW = Window.partitionBy(col("shard")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = rows.groupBy(col("shard"), col("__b"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__carry", coalesce(sum(col("__bn")).over(carryW), lit(0L)))
      .select(col("shard"), col("__b"), col("__carry"))
    val fineW = Window.partitionBy(col("shard"), col("__b"))
      .orderBy(col("__md5"), col(idCol))
    rows.join(carry, Seq("shard", "__b"))
      .withColumn("pos",
        col("__carry") + row_number().over(fineW).cast("long") - 1L)
      .drop("__md5", "__b", "__carry")
  }

  /** Physical-layout audit: per-row-group footer statistics of a written
    * parquet dataset — the measurement side of everything this module
    * optimizes. Z-order/sort clustering only pays off if row-group
    * min/max spans actually NARROWED, and the only ground truth is the
    * footers; this reads them DISTRIBUTED (files parallelized across the
    * cluster, one footer open per file — metadata-only I/O, no row
    * reads) and emits one row per (file, row group) with the row count
    * and the min/max of one audited INT64 column.
    *
    * At 10⁶ files this is a metadata scan of a few KB per file spread
    * over executors — the driver never holds footers, only the file
    * list (the listing bound measured in docs/SCALE.md, "Driver
    * metadata path at real file counts").
    */
  def rowGroupStats(spark: org.apache.spark.sql.SparkSession, path: String,
                    longCol: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val confMap = {
      val hc = spark.sessionState.newHadoopConf()
      val m = scala.collection.mutable.Map.empty[String, String]
      val it = hc.iterator()
      while (it.hasNext) { val e = it.next(); m += (e.getKey -> e.getValue) }
      m.toMap
    }
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rootStr = fs.makeQualified(root).toString
    val files = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isFile && name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith("."))
          out += st.getPath.toString
      }
      out.sorted.toSeq
    }
    import spark.implicits._
    spark.sparkContext.parallelize(files, math.max(1, files.size / 64).min(256))
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confMap.foreach { case (k, v) => conf.set(k, v) }
        it.flatMap { file =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(file), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map {
              case (block, i) =>
                val chunk = block.getColumns.asScala
                  .find(_.getPath.toDotString == longCol)
                  .getOrElse(throw new IllegalArgumentException(
                    s"column '$longCol' not found in $file"))
                val stats = chunk.getStatistics
                require(stats != null && !stats.isEmpty,
                  s"no statistics for '$longCol' in $file row group $i")
                // path RELATIVE to the audited root — partition dirs
                // (dt=…/bucket=…) are the layout being audited
                (file.stripPrefix(rootStr).stripPrefix("/"), i,
                  block.getRowCount,
                  stats.genericGetMin.asInstanceOf[Number].longValue(),
                  stats.genericGetMax.asInstanceOf[Number].longValue())
            }
          } finally reader.close()
        }
      }
      .toDF("file", "row_group", "n_rows", "min_value", "max_value")
  }

  /** Compaction PLAN from a file listing — the maintenance step between
    * [[rowGroupStats]]' audit and the rewrite job: group each
    * partition's files (name order — the order a contiguous rewrite
    * preserves) into contiguous bins of ~`targetBytes`, so small-file
    * accumulation (streaming sinks, per-batch appends) folds into
    * scan-efficient files without shuffling content across partitions.
    *
    * Bin rule: a file joins the bin of `floor(bytesBefore /
    * targetBytes)` — the standard streaming assignment. Each bin's
    * total is < targetBytes + its largest file (a straddling file
    * finishes its bin); a file already ≥ targetBytes sits alone and is
    * flagged `rewrite = false` only if nothing shares its bin.
    *
    * Scale shape: pure metadata — one window per PARTITION (bounded by
    * files-per-partition, a listing-sized frame, never data) and one
    * group-by. Emits one row per (partition, bin): file span, count,
    * bytes, and whether rewriting it would reduce file count.
    */
  def compactionPlan(files: DataFrame, partCol: String, fileCol: String,
                     bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1L, s"targetBytes must be >= 1, got $targetBytes")
    val w = Window.partitionBy(partCol).orderBy(fileCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files.select(col(partCol), col(fileCol),
        col(bytesCol).cast("long").as("bytes"))
      .withColumn("__cum", sum(col("bytes")).over(w))
      .withColumn("grp",
        expr(s"CAST((__cum - bytes) div ${targetBytes}L AS INT)"))
      .groupBy(col(partCol), col("grp"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).as("bytes"),
        min(col(fileCol)).as("first_file"),
        max(col(fileCol)).as("last_file"))
      .withColumn("rewrite", col("n_files") > 1)
  }

  // ------------------------------------- zone maps (data-skipping stats)

  /** Zone-map relation for a value column over a file/zone key: one
    * row per zone — `(zone, n_rows, n_nulls, vmin, vmax)` — from ONE
    * map-side-combined aggregate. This is the queryable twin of what
    * parquet footers carry per row group ([[rowGroupStats]] reads the
    * REAL ones): maintain it as a table and the planner-side question
    * "which files can a predicate touch?" becomes a relational scan of
    * listing-sized data instead of a footer walk — the shape a 100 TB
    * lakehouse metadata layer (Delta/Iceberg stats pruning) uses.
    */
  def zoneMapStats(df: DataFrame, zoneKey: Column,
                   valueCol: String): DataFrame =
    df.groupBy(zoneKey.as("zone"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col(valueCol).isNull, 1L).otherwise(0L)).as("n_nulls"),
        min(col(valueCol)).as("vmin"),
        max(col(valueCol)).as("vmax"))

  /** Prune audit of a zone-map relation against literal range
    * predicates `(pred_id, lo, hi)` (inclusive bounds): for each
    * predicate, every zone is classified KEPT (the zone's [vmin, vmax]
    * intersects [lo, hi], or the zone holds NULLs when the engine
    * must scan them) or PRUNED — pruning is SOUND: a pruned zone
    * cannot contain a matching row, which the gate replays as data.
    * Returns one row per (pred_id, zone, kept, n_rows).
    *
    * Scale shape: predicates are LITERALS exploded map-side onto the
    * zone relation (the [[graft.ext.Net.longestPrefixJoin]] stance —
    * no cross join reaches the plan); everything downstream is
    * listing-sized.
    */
  def zoneMapPrune(zones: DataFrame,
                   preds: Seq[(Long, Long, Long)]): DataFrame = {
    require(preds.nonEmpty, "zoneMapPrune needs at least one predicate")
    val predArr = array(preds.map { case (id, lo, hi) =>
      struct(lit(id).as("pred_id"), lit(lo).as("lo"), lit(hi).as("hi"))
    }: _*)
    zones
      .select(col("zone"), col("n_rows"), col("vmin"), col("vmax"),
        explode(predArr).as("__p"))
      .select(col("__p.pred_id").as("pred_id"), col("zone"),
        col("n_rows"),
        // NULL vmin/vmax = all-NULL zone: no non-null value can match
        (col("vmin").isNotNull &&
          col("vmax") >= col("__p.lo") &&
          col("vmin") <= col("__p.hi")).as("kept"))
  }
}
