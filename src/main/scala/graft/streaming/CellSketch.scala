package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.{FreqSketch, SetSketch}

/** The parts one mergeable sketch supplies to a [[CellSketchMaintainer]]:
  * how a batch summarizes into cells, which fields the cell key packs,
  * and how stored cells fold back into the sketch relation. Everything
  * else — batch tags, groups, retention, the regression guard, windowed
  * and decayed reads — belongs to the maintainer, once for every sketch.
  *
  * @param fields  the cell-key fields in key order, with their SQL types
  * @param counted whether cells carry a BIGINT `cnt` that sum-merges
  *                (otherwise the store keeps distinct cells)
  * @param alwaysTagged whether every cell key leads with the batch tag
  *                even when the maintainer is not `windowed`
  */
abstract class CellSketch(val fields: Seq[(String, String)],
                          val counted: Boolean,
                          val alwaysTagged: Boolean = false) {

  /** One batch's own sketch: `grp` first when grouped, then `fields`,
    * then `cnt` when counted.
    */
  def summarize(batch: DataFrame, groupCol: Option[String]): DataFrame

  /** Fold parsed cells (`grp` first when grouped) into the sketch
    * relation: counted cells sum per key, distinct cells stay distinct.
    */
  def fold(cells: DataFrame, grp: Seq[Column]): DataFrame =
    if (counted)
      cells.groupBy(grp ++ fields.map(f => col(f._1)): _*)
        .agg(sum(col("cnt")).cast("long").as("cnt"))
    else cells.distinct()
}

/** The four sketch values. Each is mergeable cell-wise, so a store that
  * folds per-batch cells answers exactly what the one-shot sketch of
  * the concatenated stream answers.
  */
object CellSketch {

  /** Distinct counting: `(bucket, rho)` registers, max-folded per
    * bucket ([[FreqSketch.hllMergeBy]]). State is ≤ 2^p rows per batch
    * (× groups). Max-merge is not invertible, so the batch tag is the
    * only way a register table forgets: HLL cells are always tagged,
    * and every HLL maintainer serves window reads.
    */
  final case class Hll(itemCol: String, p: Int = 8)
      extends CellSketch(Seq("bucket" -> "INT", "rho" -> "INT"),
        counted = false, alwaysTagged = true) {
    require(p >= 4 && p <= 12, s"p must be in [4, 12], got $p")

    def summarize(batch: DataFrame, groupCol: Option[String]): DataFrame =
      groupCol.fold(FreqSketch.hllSketch(batch, itemCol, p))(g =>
        FreqSketch.hllSketchBy(batch, g, itemCol, p))

    override def fold(cells: DataFrame, grp: Seq[Column]): DataFrame =
      cells.groupBy(grp :+ col("bucket"): _*)
        .agg(max(col("rho")).as("rho"))

    /** Distinct-count estimates of a read, one row per group when the
      * read is grouped.
      */
    def estimate(registers: DataFrame): DataFrame =
      if (registers.columns.contains("grp"))
        FreqSketch.hllEstimateBy(registers, p)
      else FreqSketch.hllEstimate(registers, p)

    /** Two reads' estimates side by side, `([grp,] est_cum, est_win)`;
      * a group absent from the window read gets a NULL `est_win`.
      */
    def estimates(cumulative: DataFrame, window: DataFrame): DataFrame = {
      val grp = cumulative.columns.filter(_ == "grp").toSeq
      val cum = estimate(cumulative)
        .select(grp.map(col) :+ col("estimate").as("est_cum"): _*)
      val win = estimate(window)
        .select(grp.map(col) :+ col("estimate").as("est_win"): _*)
      if (grp.isEmpty) cum.crossJoin(broadcast(win))
      else cum.join(win, grp, "left")
    }
  }

  /** Quantiles: the HDR bucket histogram, ≤ (63 − subBits + 1)·2^subBits
    * rows (~1.9k at subBits 5) for the whole non-negative BIGINT domain,
    * counts summed per bucket ([[FreqSketch.hdrMerge]]). Picks carry
    * exact [lo, hi] value bounds.
    */
  final case class Hdr(valueCol: String, subBits: Int = 5)
      extends CellSketch(Seq("bucket" -> "BIGINT"), counted = true) {

    def summarize(batch: DataFrame, groupCol: Option[String]): DataFrame =
      groupCol.fold(FreqSketch.hdrHistogram(batch, valueCol, subBits))(g =>
        FreqSketch.hdrHistogramBy(batch, g, valueCol, subBits))

    /** Quantile picks of a read, one row per (group, q) when grouped. */
    def quantiles(hist: DataFrame, qs: Seq[Double]): DataFrame =
      if (hist.columns.contains("grp"))
        FreqSketch.hdrQuantilesBy(hist, qs, subBits)
      else FreqSketch.hdrQuantiles(hist, qs, subBits)
  }

  /** Frequencies: the count–min grid, ≤ Depth × width `(j, bucket)`
    * counters however many distinct items stream by, counts summed per
    * cell. Estimates only over-count (within the group's own weight
    * when grouped).
    */
  final case class Cms(itemCol: String, width: Int = 4096)
      extends CellSketch(Seq("j" -> "INT", "bucket" -> "BIGINT"),
        counted = true) {
    require(width >= 16, s"width must be >= 16, got $width")

    def summarize(batch: DataFrame, groupCol: Option[String]): DataFrame =
      groupCol.fold(FreqSketch.cmsSketch(batch, itemCol, width))(g =>
        FreqSketch.cmsSketchBy(batch, g, itemCol, width))

    /** Point estimates of `probes` against a read; a grouped read needs
      * the probes' group column.
      */
    def estimate(sketch: DataFrame, probes: DataFrame, probeCol: String,
                 probeGroupCol: Option[String] = None): DataFrame = {
      require(sketch.columns.contains("grp") == probeGroupCol.isDefined,
        "a grouped read needs probeGroupCol, an ungrouped one must not " +
          "have it")
      probeGroupCol.fold(
        FreqSketch.cmsEstimate(sketch, probes, probeCol, width))(g =>
        FreqSketch.cmsEstimateBy(sketch, probes, g, probeCol, width))
    }
  }

  /** Set membership: the Bloom bit set, ≤ mBits rows, distinct bits
    * ([[SetSketch.bloomMerge]]). A reported-novel item truly is novel.
    */
  final case class Bloom(itemCol: String, mBits: Int = 8192)
      extends CellSketch(Seq("bit" -> "BIGINT"), counted = false) {
    require(mBits >= 64, s"mBits must be >= 64, got $mBits")

    def summarize(batch: DataFrame, groupCol: Option[String]): DataFrame = {
      require(groupCol.isEmpty, "a Bloom filter has no groups")
      SetSketch.bloomSketch(batch, itemCol, mBits)
    }

    /** Membership screen `(item, hits, maybe)` of `probes` against a
      * read; `maybe = false` proves the item was never appended.
      */
    def contains(bits: DataFrame, probes: DataFrame): DataFrame =
      SetSketch.bloomContains(bits, probes, itemCol, mBits)
  }
}
