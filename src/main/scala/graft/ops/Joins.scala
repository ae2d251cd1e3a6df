package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.DataFrame

/** Join strategies for the cases that break naive plans at 100 TB:
  * skewed keys and time-ordered lookups.
  */
object Joins {

  /** Salted inner equi-join for skewed keys. The skewed (large) side
    * gets a deterministic salt derived from its row content; the other
    * side is replicated `numSalts` times so every salted partition finds
    * its match. Turns one hot shuffle partition into `numSalts` even
    * ones at the cost of replicating the smaller side — the standard
    * trade when AQE's skew-join can't help (e.g. a following aggregate
    * pins the partitioning).
    *
    * Equivalent to `skewed.join(other, keys)` row-for-row.
    */
  def saltedJoin(skewed: DataFrame, other: DataFrame, keys: Seq[String],
      numSalts: Int): DataFrame = {
    val salted = skewed.withColumn("_salt",
      pmod(xxhash64(skewed.columns.toSeq.map(col): _*), lit(numSalts)).cast("int"))
    val replicated = other.withColumn("_salt",
      explode(sequence(lit(0), lit(numSalts - 1))))
    salted.join(replicated, keys :+ "_salt").drop("_salt")
  }

  /** Range (interval) join: all (left, right) pairs sharing `keyCol`
    * with `right.ts ∈ (left.ts, left.ts + windowSec]`.
    *
    * Bin-bucketed: both sides bucket their timestamp into windowSec-wide
    * bins; a qualifying right row's bin is the left row's bin or the
    * next one, so the left side probes exactly two bins and the join is
    * an EQUIJOIN on (key, bin) with the exact range check as a residual
    * filter. A naive key-only join degenerates to per-key all-pairs when
    * keys are hot (a 10^6-event user costs 10^12 comparisons); binning
    * bounds each joined group to two windows' worth of events whatever
    * the key distribution, and the plan stays a shuffled hash/sort-merge
    * join — no range cross-join, no broadcast of either side.
    *
    * Output: every left column as `l_<name>`, every right column as
    * `r_<name>`.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, windowSec: Long): DataFrame = {
    val l0 = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
    val r0 = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
    // timestamp → fractional epoch seconds (double keeps microseconds)
    val lBin = floor(col(s"l_$tsCol").cast("double") / windowSec)
    val rBin = floor(col(s"r_$tsCol").cast("double") / windowSec)
    val l = l0.withColumn("_lbin", explode(array(lBin, lBin + 1)))
    val r = r0.withColumn("_rbin", rBin)
    l.join(r,
        col(s"l_$keyCol") === col(s"r_$keyCol") && col("_lbin") === col("_rbin")
          && col(s"r_$tsCol") > col(s"l_$tsCol")
          && col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $windowSec SECONDS"))
      .drop("_lbin", "_rbin")
  }

  /** Interval OVERLAP join — both sides carry [start, end) intervals
    * (half-open, microsecond grain) and a pair matches when the
    * intervals intersect on the same key. The symmetric companion of
    * [[rangeJoin]]'s point-in-window shape.
    *
    * Scale shape: each interval explodes to the `binSec`-wide bins it
    * touches (≤ len/binSec + 1 rows — pick binSec near the max interval
    * length), the join is a keyed EQUIjoin on (key, bin), and each
    * overlapping pair survives in exactly ONE bin — the canonical bin
    * `floor(max(l.start, r.start) / W)`, which both sides provably
    * cover when they overlap — so there is no distinct stage and no
    * double-counting: one shuffle, no range cross-join, AQE/skew
    * handling apply unchanged.
    *
    * Output: every left column as `l_<name>`, right as `r_<name>`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      startCol: String, endCol: String, binSec: Long): DataFrame = {
    val W = binSec * 1000000L // bin width in microseconds
    def bins(s: String, e: String) =
      sequence(floor(unix_micros(col(s)) / W),
        floor((unix_micros(col(e)) - 1) / W))
    val l0 = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
    val r0 = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
    val l = l0.withColumn("_bin", explode(bins(s"l_$startCol", s"l_$endCol")))
    val r = r0.withColumn("_rbin", explode(bins(s"r_$startCol", s"r_$endCol")))
    val canonical = floor(greatest(unix_micros(col(s"l_$startCol")),
      unix_micros(col(s"r_$startCol"))) / W)
    l.join(r,
        col(s"l_$keyCol") === col(s"r_$keyCol") && col("_bin") === col("_rbin")
          && col("_bin") === canonical
          && col(s"l_$startCol") < col(s"r_$endCol")
          && col(s"r_$startCol") < col(s"l_$endCol"))
      .drop("_bin", "_rbin")
  }

  /** As-of join: for every left row, the single latest right row whose
    * `tsCol` is <= the left row's, per key. (The classic time-series
    * lookup the reference family of engines ships as a primitive.)
    *
    * Implementation is compose-first (SURVEY §4.2 preference a): union
    * both sides tagged, one window pass per key ordered by (ts, side)
    * carrying the last-seen right payload forward, then keep left rows.
    * ONE shuffle + sort on the key — no range cross-join, no per-row
    * probe; scales like any other window, and skew handling/AQE apply
    * unchanged.
    *
    * Right columns come back as `right.<col>` (null when no right row
    * precedes the left row). Ties (equal ts) resolve to the right row
    * (right sorts before left at the same timestamp); multiple right
    * rows at the SAME (key, ts) resolve deterministically to the one
    * whose full payload sorts last (the `_rpay` ordering term) — without
    * it, `last()` would pick whichever duplicate the sort happened to
    * place last, varying run to run.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val rightPayload = struct(right.columns.toSeq.map(col): _*)
    val rpayType = right.select(rightPayload).schema.head.dataType
    val l = left.withColumn("_side", lit(1))
      .withColumn("_rpay", lit(null).cast(rpayType))
    val r = right.select(col(keyCol), col(tsCol),
      lit(0).as("_side"), rightPayload.as("_rpay"))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("_side"), col("_rpay"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_asof", last(col("_rpay"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_side", "_rpay")
      .withColumnRenamed("_asof", "right")
  }
}
