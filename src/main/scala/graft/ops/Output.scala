package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output file sizing — the small-files problem at the write boundary.
  *
  * A 100 TB job that writes one file per shuffle partition produces
  * either millions of KB-sized files (metadata pressure on the object
  * store and every downstream reader) or a handful of multi-GB files
  * (no read parallelism). This sizes the write to a target per-file
  * byte count using Catalyst's own size estimate, so the file count
  * tracks the DATA volume rather than whatever
  * `spark.sql.shuffle.partitions` happened to be.
  */
object Output {

  /** Repartition so a subsequent write produces files near `targetMB`
    * (pre-compression — parquet typically compresses 2-5×, so size the
    * target accordingly). Uses the optimized plan's size estimate; for
    * an exact-count cap compose with the writer's `maxRecordsPerFile`.
    */
  def sizedForWrite(df: DataFrame, targetMB: Int = 256): DataFrame = {
    require(targetMB > 0)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = BigInt(targetMB) * 1024 * 1024
    val parts = ((bytes + target - 1) / target).max(1).min(1 << 20).toInt
    df.repartition(parts)
  }

  /** Spread the low `bits` bits of a non-negative long across the even
    * bit positions (the magic-number Morton step; 5 shift-mask rounds,
    * pure codegen arithmetic).
    */
  private def spreadBits(x: Column): Column = {
    val m1 = lit(0x0000FFFF0000FFFFL)
    val m2 = lit(0x00FF00FF00FF00FFL)
    val m3 = lit(0x0F0F0F0F0F0F0F0FL)
    val m4 = lit(0x3333333333333333L)
    val m5 = lit(0x5555555555555555L)
    val s1 = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(m1)
    val s2 = (s1.bitwiseOR(shiftleft(s1, 8))).bitwiseAND(m2)
    val s3 = (s2.bitwiseOR(shiftleft(s2, 4))).bitwiseAND(m3)
    val s4 = (s3.bitwiseOR(shiftleft(s3, 2))).bitwiseAND(m4)
    (s4.bitwiseOR(shiftleft(s4, 1))).bitwiseAND(m5)
  }

  /** 2-D Morton (Z-order) key of two integer columns, each clamped to
    * `[0, 2^bits)` (bits ≤ 16; scale or bucket wider domains first —
    * quantile bin ids from `Binning.quantileBins` are the natural
    * input). Bit i of `a` lands at position 2i, of `b` at 2i+1, so
    * proximity in EITHER dimension implies proximity in the key.
    */
  def zorderValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1, 16], got $bits")
    val cap = lit((1L << bits) - 1)
    def clamp(c: Column): Column =
      least(greatest(c.cast("long"), lit(0L)), cap)
    spreadBits(clamp(a))
      .bitwiseOR(shiftleft(spreadBits(clamp(b)), 1))
  }

  /** Z-order data layout: range-partition + sort by the Morton key of
    * (a, b) so every output file covers a small RECTANGLE of the
    * 2-D space — parquet min/max stats then prune file reads for
    * selective filters on EITHER column (a single-column sort gives
    * that for one column and nothing for the other; OutputSpec
    * measures the difference). The linear-sort machinery is reused
    * as-is: one range exchange on the key, no new operator — the
    * layout is the optimization, which is exactly how engines ship
    * Z-ordering (Delta/Iceberg OPTIMIZE ZORDER).
    *
    * `alignFiles = false` (default): file cuts at z-POPULATION
    * quantiles — balanced file sizes, but a cut can land mid-way
    * through a Morton quadrant, so a file's (a, b) rectangle may
    * straddle two quadrants and widen its min/max stats.
    * `alignFiles = true`: cuts at FIXED-WIDTH z buckets
    * (`z * nFiles >> 2*bits`) — every file covers exactly one aligned
    * Morton rectangle (the tightest possible min/max stats, exact
    * deterministic pruning counts; OutputSpec pins them), at the cost
    * of file sizes tracking the data's density per rectangle. Skewed
    * data → skewed files; prefer the default unless the columns are
    * near-uniform (or pre-bucketed by `Binning.quantileBins`, which
    * makes them uniform by construction).
    */
  def zorderLayout(df: DataFrame, a: Column, b: Column, nFiles: Int,
                   bits: Int = 16, alignFiles: Boolean = false)
      : DataFrame = {
    require(nFiles >= 1, "nFiles must be positive")
    val keyed = df.withColumn("__z", zorderValue(a, b, bits))
    val parted =
      if (alignFiles) {
        // bucket id is a monotone function of z, so range-partitioning
        // on it (exhaustively cut) puts exactly one bucket per file
        // when every bucket is populated
        keyed
          .withColumn("__zb",
            (col("__z") * nFiles / lit(1L << (2 * bits))).cast("int"))
          .repartitionByRange(nFiles, col("__zb"))
          .drop("__zb")
      } else keyed.repartitionByRange(nFiles, col("__z"))
    parted.sortWithinPartitions("__z").drop("__z")
  }
}
