package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, lit, max, min,
  shiftleft, shiftright}

/** Write-side of the engine: layouts that make the NEXT read fast.
  *
  * The reference hands storage to Postgres (/root/reference/database.py);
  * a Spark-native engine owns its file layout instead, and at 100 TB the
  * layout IS the index:
  *
  *  - sorted+zstd parquet: range-partition then sort within partitions on
  *    the probe keys → parquet row-group min/max stats become a coarse
  *    index (scans with key predicates prune whole files/row groups), and
  *    sorted columns compress far better under zstd;
  *  - bucketed table: hash-bucket + sort by the join key → joins and
  *    aggregations on that key read co-located buckets with NO shuffle
  *    exchange on either side.
  */
object Sinks {

  /** Range-partitioned, partition-sorted, zstd-compressed parquet. */
  def writeSortedParquet(df: DataFrame, path: String, sortCols: Seq[String],
      numPartitions: Int = 0): Unit = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val cols = sortCols.map(col)
    df.repartitionByRange(n, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(path)
  }

  /** Hive-style partitioned parquet (e.g. by day/hour): a time or tenant
    * predicate becomes directory pruning — the scan never opens
    * non-matching partitions. Low-cardinality partition keys only; a
    * high-cardinality key here is the classic small-files bomb.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .option("compression", "zstd")
      .parquet(path)

  /** The deduping append of a persisted store: the rows of `fresh` whose
    * `key` the store at `path` lacks land as new zstd files, sorted
    * within themselves on `sort` or partitioned by `partition`; existing
    * files are never rewritten, so a repeated or overlapping append is a
    * no-op. `fresh` is checkpointed (it is read twice) and the store
    * scan is pruned map-side to the batch's `prune` values by a
    * batch-sized broadcast semi-join before the batch-bounded anti-join.
    */
  def appendNew(fresh: DataFrame, path: String, prune: String,
      key: Seq[String], sort: Seq[String] = Nil,
      partition: Seq[String] = Nil): Unit = {
    val batch = fresh.localCheckpoint()
    val existing = Tables.read(batch.sparkSession, path)
      .join(broadcast(batch.select(col(prune)).distinct()), Seq(prune),
        "left_semi")
      .select(key.map(col): _*)
    val rows = batch.join(existing, key, "left_anti")
    val w = (if (sort.isEmpty) rows
      else rows.sortWithinPartitions(sort.map(col): _*))
      .write.mode("append").option("compression", "zstd")
    // an empty partitionBy still adds a write option
    (if (partition.isEmpty) w else w.partitionBy(partition: _*)).parquet(path)
  }

  /** Hash-bucketed (optionally bucket-sorted) parquet table — the CTAS
    * that pre-pays the shuffle of every future join on `bucketCol`.
    */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Bit width of each z-order dimension: non-negative keys < 2^21
    * (interleaved key stays in a long with room to spare). Callers with
    * wider keys bucket them first — z-order is a LAYOUT device, and
    * bucketed coordinates preserve its locality.
    */
  val ZBits = 21

  /** The Morton (z-order) key of two non-negative int columns: bit i of
    * `a` lands at position 2i+1, bit i of `b` at 2i — a static
    * [[ZBits]]-term shift/mask expression, fully codegen'd.
    */
  private[graft] def zKey(a: Column, b: Column): Column =
    (0 until ZBits).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)) +
        (shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ + _)

  /** Z-ordered (Morton-curve) parquet: range-partition + sort on the
    * interleaved key of TWO probe dimensions, so file and row-group
    * min/max stats prune on EITHER column — the multi-dimensional
    * counterpart of [[writeSortedParquet]] (which perfects one
    * dimension at the total expense of the other: under a sort on `a`,
    * every file spans `b`'s whole range; under the z-curve both span
    * ~√(files) of their range). The standard lakehouse layout move
    * (Delta/Iceberg OPTIMIZE ZORDER) expressed with plain Spark
    * primitives.
    *
    * Both dimensions are MSB-ALIGNED to [[ZBits]] bits from their
    * write-time min/max before interleaving (one cheap agg — this is a
    * write-once layout). Raw interleaving only works for dims of equal
    * bit width: a 16-bit doc_id against a 10-bit n_chars leaves the
    * id's top 6 bits uncontested, the curve degenerates to a plain
    * doc_id sort, and the second dim prunes NOTHING (measured on the
    * 10× corpus — 64/64 files read; aligned: see BASELINE.md). The
    * alignment is two power-of-two shifts (exact, overflow-free,
    * codegen'd literals): down-shift ranges wider than ZBits, then
    * up-shift so both top bits land at position ZBits−1.
    */
  def writeZOrdered(df: DataFrame, path: String, a: String, b: String,
      numPartitions: Int = 0): Unit = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val r = df.agg(
      min(col(a)).cast("long"), max(col(a)).cast("long"),
      min(col(b)).cast("long"), max(col(b)).cast("long")).head()
    def aligned(c: Column, lo: Long, hi: Long): Column = {
      val range = hi - lo
      val bits = 64 - java.lang.Long.numberOfLeadingZeros(range)
      val down = math.max(0, bits - ZBits)
      val up = ZBits - math.min(bits, ZBits)
      shiftleft(shiftright(c.cast("long") - lit(lo), down), up)
    }
    df.withColumn("__z", zKey(
        aligned(col(a), r.getLong(0), r.getLong(1)),
        aligned(col(b), r.getLong(2), r.getLong(3))))
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(path)
  }
}
