package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical file layout for data skipping — the lakehouse write-side
  * optimization the read-side pruning assertions (PlanSpec) depend
  * on: range-repartition + sort-within-partitions on the filter key
  * gives every output file a DISJOINT min/max range, so a point or
  * range predicate touches one file's row groups instead of all of
  * them. On a 100 TB table this is the difference between a scan and
  * a seek; the same write shape is what Delta OPTIMIZE ZORDER does
  * for one dimension.
  */
object Layout {

  /** Write `df` with `nFiles` disjoint ranges of `key` (global range
    * partitioning, then a within-file sort so row groups are ordered
    * too).
    */
  def writeRangeLayout(df: DataFrame, dir: String, key: String,
                       nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** 16-bit Morton (Z-order) interleave of two bucketized dims — bit i
    * of x lands at 2i, bit i of y at 2i+1, so curve-adjacent values
    * are close in BOTH dims. Pure bit arithmetic (codegen'd shifts),
    * no UDF.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Two-dimensional Z-order layout — the multi-dim extension of
    * writeRangeLayout (what Delta OPTIMIZE ZORDER BY (x, y) does):
    * each dim is bucketized to 16 bits by integer cell division
    * (cell = span div 2¹⁶ + 1 — divide-first, so microsecond-scale
    * spans can't overflow a long), the Morton value range-partitions
    * the files, and a within-file sort orders the row groups. A
    * file's rows then occupy a compact 2-D box, so a predicate
    * selective in EITHER dim skips most files — the 1-D layout can
    * only skip on its single key. Bounds are one broadcast row.
    */
  def writeZOrderLayout(df: DataFrame, dir: String, xKey: String,
                        yKey: String, nFiles: Int): Unit = {
    val b = df.agg(min(col(xKey)).as("zb_x0"), max(col(xKey)).as("zb_x1"),
      min(col(yKey)).as("zb_y0"), max(col(yKey)).as("zb_y1"))
    df.crossJoin(broadcast(b)) // 1-row bounds
      .withColumn("zx",
        expr(s"($xKey - zb_x0) div (((zb_x1 - zb_x0) div 65536) + 1)"))
      .withColumn("zy",
        expr(s"($yKey - zb_y0) div (((zb_y1 - zb_y0) div 65536) + 1)"))
      .withColumn("z", zValue(col("zx"), col("zy")))
      .repartitionByRange(nFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .drop("zb_x0", "zb_x1", "zb_y0", "zb_y1", "zx", "zy", "z")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Per-file min/max of `key` — the skipping metadata a reader (or a
    * spec) inspects to prove the layout holds.
    */
  def fileRanges(spark: SparkSession, dir: String, key: String): DataFrame =
    spark.read.parquet(dir)
      .select(input_file_name().as("file"), col(key).as("k"))
      .groupBy(col("file"))
      .agg(min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        count(lit(1)).as("n_rows"))

  /** Small-file compaction — the maintenance pass every streaming or
    * micro-batch sink needs: thousands of KB-sized files per day ruin
    * scan throughput (one task + one open per file) and overwhelm the
    * driver's file index at 100 TB. Rewrites `dir` into
    * ceil(bytes / targetBytes) files via coalesce (no shuffle — file
    * stitching, not repartitioning), staged and swapped in through
    * StoreOps (an earlier attempt's crash is recovered first).
    *
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    StoreOps.recover(spark, Seq(dir))
    val parts = StoreOps.list(spark, dir)
      .filter(f => f.getPath.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    StoreOps.stage(spark, dir)(
      spark.read.parquet(dir).coalesce(nOut).write.parquet(_))
    StoreOps.swap(spark, Seq(dir))
    (parts.length, nOut)
  }

  final case class LayoutHealth(n_files: Long, total_bytes: Long,
                                min_bytes: Long, max_bytes: Long,
                                avg_bytes: Long, n_small: Long,
                                small_share_ppm: Long,
                                target_files: Long)

  /** S21's monitor: the file-layout health report that DECIDES when
    * compaction runs — small-file count against the byte target,
    * size extremes, and the file count a compaction would produce.
    * Pure filesystem LISTING (O(files), zero data read — the
    * Retention device), so it is safe to run on every table every
    * hour at 100 TB. A file counts as small below half the target
    * (Delta's OPTIMIZE heuristic).
    */
  def layoutReport(spark: SparkSession, dir: String,
                   targetBytes: Long = 128L * 1024 * 1024): LayoutHealth = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = fs.listStatus(path)
      .filter(f => f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen)
    if (sizes.isEmpty) return LayoutHealth(0, 0, 0, 0, 0, 0, 0, 0)
    val total = sizes.sum
    val small = sizes.count(_ < targetBytes / 2).toLong
    LayoutHealth(sizes.length.toLong, total, sizes.min, sizes.max,
      total / sizes.length, small,
      small * 1000000L / sizes.length,
      math.max(1, math.ceil(total.toDouble / targetBytes).toLong))
  }
}
