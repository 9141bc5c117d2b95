package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Scalable rank-family window functions over a LOW-CARDINALITY
  * partition key.
  *
  * `Window.partitionBy(k)` puts each key's ENTIRE partition in one
  * task: fine when the key is high-cardinality (per-group rows bounded
  * — q_window_rank's per-customer windows), a hard scale cliff when it
  * is not. With 5 distinct keys, parallelism is 5 forever and per-task
  * rows grow linearly with data — the round-12 100× probe measured
  * q_window_rank_family at 17.9× (worst entry of 38) for exactly this
  * reason, and at 1000 executors the cliff only deepens.
  *
  * [[withPositions]] removes the cliff for the functions that are
  * derivable from a row's global POSITION within its key under a
  * UNIQUE total order (rank/row_number, percent_rank, cume_dist,
  * ntile, nth_value): the classic two-phase distributed ranking —
  *
  *  1. range-repartition on (key, order) and sort WITHIN partitions —
  *     a parallel global sort, every partition bounded by
  *     `spark.sql.shuffle.partitions` sizing, no per-key task;
  *  2. count rows per (spark partition, key) — a BOUNDED aggregate
  *     (numPartitions × |keys| rows, the contract of "low
  *     cardinality") collected once, prefix-summed into per-(partition,
  *     key) offsets on the driver;
  *  3. within-group row numbers WITHOUT a window (round 19): the
  *     checkpoint freezes each partition in sorted order, so a row's
  *     0-based in-partition index (monotonically_increasing_id's low
  *     bits, stored at checkpoint time) minus its (partition, key)
  *     group's minimum index — collected by the same bounded aggregate
  *     as the offsets — IS row_number − 1. The broadcast offsets then
  *     give each row its exact global per-key position `pos` and key
  *     total `n` with no exchange after the checkpoint (the old
  *     row_number window re-shuffled the whole frame per execution:
  *     a checkpoint reads back as UnknownPartitioning under AQE).
  *
  * The sorted frame is eagerly localCheckpointed between the count job
  * and the position job so both read the SAME materialized partitions
  * (range-boundary sampling must not re-run between passes).
  *
  * Determinism contract: `orderCols` must be a TOTAL order within each
  * key (callers append a unique tiebreaker — the repo-wide posture).
  * Under a total order, rank = row_number = pos, percent_rank =
  * (pos−1)/(n−1), cume_dist = pos/n, and nth_value(v, i) over the full
  * frame is the value at pos = i — which is how callers reconstruct
  * the rank family without any per-key single-task window
  * (AnalyticQueries.q_window_rank_family; DistributedRankSpec pins
  * frame equality against the plain Window formulation).
  */
object DistributedRank {

  // Output + working column names the two-phase plumbing claims. An
  // input frame already carrying one would hit an ambiguous-reference
  // failure (or a silently wrong join on __pid/__off) deep in the
  // plan; reject it at the API edge with the contract spelled out.
  // Matching is case-insensitive, like Spark's default resolution.
  private val Reserved =
    Seq("pos", "n", "cum", "__pid", "__idx", "__off", "__soff", "__st")
  private val GlobalReserved = Reserved :+ "__gkey"

  private def requireNoReserved(df: DataFrame, reserved: Seq[String],
                                method: String): Unit = {
    val clash = df.columns.filter(c => reserved.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"DistributedRank.$method: input columns ${clash.mkString(", ")} " +
        s"collide with reserved output/working columns " +
        s"(${reserved.mkString(", ")}); rename them before calling")
  }

  /** Input columns plus `pos` (1-based global position of the row
    * within its key under `orderCols`) and `n` (key row count). With
    * `sumCol` set (an INTEGRAL column), additionally `cum` — the exact
    * inclusive global running sum of that column within the key under
    * the same order: the two-phase prefix sum that replaces a
    * single-task `sum().over(Window.orderBy(...))` (per-partition
    * subtotals ride the same bounded count pass and prefix-sum into
    * offsets on the driver).
    */
  def withPositions(df: DataFrame, keyCol: String, orderCols: Seq[Column],
                    numPartitions: Int = 0,
                    sumCol: String = null): DataFrame = {
    requireNoReserved(df, Reserved, "withPositions")
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val rangeCols = col(keyCol) +: orderCols
    // __idx = the row's 0-based index within its (frozen) partition —
    // monotonically_increasing_id's low 33 bits, computed on the sorted
    // stage and STORED by the checkpoint, so every later read sees the
    // same indices. Within a (partition, key) group the rows are
    // consecutive in sort order, so row_number = __idx − min(__idx of
    // the group) + 1 — which removes the row_number WINDOW (and its
    // full (__pid, key) re-shuffle: the checkpoint reads back without
    // partitioning info under AQE, so that window re-exchanged the
    // whole frame on every execution — OPTIMIZATION_r19.md §2: the
    // readout was 9 jobs / ~2.5 s, larger than the positioned
    // build itself). The group minimum rides the SAME bounded
    // per-(partition, key) aggregate the offsets already collect, and
    // `checkIndexTiling` verifies on those rows that the groups tile
    // each partition's index range and that the range fits 33 bits.
    val sorted = df
      .repartitionByRange(p, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__idx",
        monotonically_increasing_id().bitwiseAND(lit(IndexLimit - 1)))
      .localCheckpoint(true)
    // Bounded by contract: numPartitions × |distinct keys| rows.
    val cnts = sorted.groupBy(col("__pid"), col(keyCol))
      .agg(count(lit(1)).as("__c"),
        min(col("__idx")).as("__st"),
        (if (sumCol == null) lit(0L) else sum(col(sumCol))).as("__s"))
      .collect()
      .map(r => (r.getInt(0), r.get(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) 0L else r.getLong(4)))
    checkIndexTiling(cnts.toSeq.map { case (pid, _, c, st, _) => (pid, st, c) })
    val byKey = cnts.groupBy(_._2)
    val offRows = cnts.map { case (pid, k, _, st, _) =>
      val before = byKey(k).filter(_._1 < pid)
      Row(pid, k, before.map(_._3).sum, before.map(_._5).sum, st)
    }
    val totRows = byKey.toSeq.map { case (k, rows) =>
      Row(k, rows.map(_._3).sum)
    }
    val keyField = df.schema(keyCol)
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows.toSeq, 1),
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        keyField, StructField("__off", LongType, nullable = false),
        StructField("__soff", LongType, nullable = false),
        StructField("__st", LongType, nullable = false))))
    val totDf = spark.createDataFrame(
      spark.sparkContext.parallelize(totRows, 1),
      StructType(Seq(keyField,
        StructField("n", LongType, nullable = false))))
    val positioned = sorted
      .join(broadcast(offDf), Seq("__pid", keyCol))
      .withColumn("pos", col("__off") + (col("__idx") - col("__st")) + 1L)
    val summed =
      if (sumCol == null) positioned
      else {
        // the exact running sum still needs a per-group ordered pass —
        // only the sumCol callers pay this window (group size ≤ the
        // range partition's row count, never key cardinality)
        val within = Window.partitionBy(col("__pid"), col(keyCol))
          .orderBy(orderCols: _*)
        positioned.withColumn("cum",
          col("__soff") + sum(col(sumCol)).over(
            within.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      }
    summed
      .join(broadcast(totDf), Seq(keyCol))
      .drop("__pid", "__idx", "__off", "__soff", "__st")
  }

  /** Index bound: `__idx` keeps 33 bits, so a partition holds < 2^33 rows. */
  private[graft] val IndexLimit: Long = 1L << 33

  /** The invariants `pos = __off + (__idx − __st) + 1` rests on, checked
    * on the bounded per-(partition, key) rows `(pid, st, c)`: within each
    * partition the key groups, sorted by `st`, start at index 0 and tile
    * it without gap or overlap (each group is one consecutive run of the
    * sorted partition), and the last run ends below [[IndexLimit]] (a
    * longer partition would wrap `__idx` back to 0).
    * Throws `IllegalStateException` naming the partition otherwise.
    */
  private[graft] def checkIndexTiling(groups: Seq[(Int, Long, Long)]): Unit =
    groups.groupBy(_._1).foreach { case (pid, runs) =>
      val end = runs.sortBy(_._2).foldLeft(0L) { case (next, (_, st, c)) =>
        if (st != next)
          throw new IllegalStateException(
            s"DistributedRank: partition $pid has a key run starting at " +
              s"index $st where $next was expected; key groups must tile " +
              "the sorted partition contiguously from 0")
        st + c
      }
      if (end >= IndexLimit)
        throw new IllegalStateException(
          s"DistributedRank: partition $pid holds $end rows, past the " +
            s"33-bit index bound ($IndexLimit); raise numPartitions")
    }

  /** [[withPositions]] over the WHOLE frame (no partition key): exact
    * global positions — and with `sumCol`, the exact global running
    * sum — under a unique total order, without the single-task stage a
    * partition-less `Window.orderBy` plans. The bounded driver pass is
    * numPartitions rows.
    */
  def globalPositions(df: DataFrame, orderCols: Seq[Column],
                      numPartitions: Int = 0,
                      sumCol: String = null): DataFrame = {
    requireNoReserved(df, GlobalReserved, "globalPositions")
    withPositions(df.withColumn("__gkey", lit(1)), "__gkey", orderCols,
      numPartitions, sumCol)
      .drop("__gkey")
  }

  /** ntile(k) reconstructed from the [[withPositions]] output columns
    * `pos` and `n` with the SQL-standard bucket fill (first n mod k
    * buckets take one extra row) — bit-equal to `ntile(k).over(w)`
    * under a unique ordering. Pure integer arithmetic (the exact
    * integral `div`, via expr — Spark's Column API has no div operator,
    * the Kmv.scala:136 precedent), so both engines agree exactly; the
    * larger-bucket branch guards the ELSE's `div (n div k)` from the
    * n < k case (where n div k = 0) because pos ≤ n = cut always takes
    * the THEN branch there.
    */
  def ntileFromPos(k: Int): Column = {
    require(k >= 1, s"ntileFromPos: k must be >= 1, got $k")
    expr(s"""CAST(CASE
      WHEN pos <= (n % $k) * ((n div $k) + 1)
      THEN (pos - 1) div ((n div $k) + 1) + 1
      ELSE (n % $k) + (pos - (n % $k) * ((n div $k) + 1) - 1) div (n div $k) + 1
      END AS INT)""")
  }
}
