package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Reusable corpus-curation operators (the round-8 curation registry's
  * extracted library surface — each function is the exact dataflow its
  * gated query runs, exposed for composition).
  *
  * Scale stance (shared by everything here): per-group windows, bounded
  * aggregated tables broadcast back, scan-local arithmetic — never a
  * global sort or an unconfined self-join. See docs/SCALING.md
  * "Round-8 curation surface".
  */
object Curation {

  /** 2-D Pareto frontier on two maximize-criteria: rows not strictly
    * dominated on BOTH `x` and `y`. Scale-first: per-x group max (one
    * bounded-key shuffle), strictly-greater-x running max over the TINY
    * aggregated table, broadcast back (q178).
    *
    * @param df  input with integer-valued `x` and `y` columns
    * @return rows of `df` on the frontier (original columns preserved)
    */
  def paretoFrontier2D(df: DataFrame, x: String, y: String): DataFrame = {
    val perX = df.groupBy(x).agg(max(y).as("ym"))
    val w = Window.orderBy(col(x).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val thr = perX.withColumn("y_gt", max("ym").over(w)).drop("ym")
    df.join(broadcast(thr), Seq(x))
      .filter(col("y_gt").isNull || col("y_gt") <= col(y))
      .drop("y_gt")
  }

  /** Rendezvous (highest-random-weight) shard for a key: the shard id in
    * `shards` maximizing the salted md5→u32 draw (q189). Deterministic,
    * engine-reproducible, scan-local; removing a shard from `shards`
    * moves ONLY the keys that mapped to it (HRW's minimal-disruption
    * guarantee, certificate-asserted in CurationCertificatesSpec).
    */
  def rendezvousShard(key: Column, shards: Seq[Int]): Column = {
    require(shards.nonEmpty)
    val hs = shards.map { i =>
      struct(
        Dedup.hexHash32(md5(concat(lit(s"shard$i:"), key.cast("string")))).as("h"),
        lit(i.toLong).as("s"))
    }
    array_max(array(hs: _*)).getField("s")
  }

  /** Median/MAD deviation with exact floor-index medians (q186, q234): two
    * aggregation passes, the per-group scalars broadcast back. Output =
    * input columns plus `med`, `adev` (|value − med|) and `mad`.
    */
  def madDeviation(df: DataFrame, group: String, value: String): DataFrame = {
    import graft.functions.ExactPercentile
    val med = df.groupBy(group)
      .agg(element_at(ExactPercentile(col(value), Seq(0.5)), 1).as("med"))
    val dev = df.join(broadcast(med), group)
      .withColumn("adev", abs(col(value) - col("med")))
    val mad = dev.groupBy(group)
      .agg(element_at(ExactPercentile(col("adev"), Seq(0.5)), 1).as("mad"))
    dev.join(broadcast(mad), group)
  }

  /** Robust outliers by MAD: rows where |value − median| > k·MAD within
    * their group (q186). Output = input columns plus `med` and `mad`.
    */
  def madOutliers(df: DataFrame, group: String, value: String,
      k: Double): DataFrame =
    madDeviation(df, group, value)
      .filter(col("adev") > lit(k) * col("mad"))
      .drop("adev")

  /** Exact per-column COUNT(DISTINCT), dedupe-first (q134, q293): distinct
    * (col_name, value-string) pairs, then count(v) per column (NULLs
    * excluded). Parity needs each cast injective under COUNT(DISTINCT)'s
    * equality, so floating columns get `+ 0.0` first: −0.0 and 0.0 render
    * differently but count once. Timestamps render in the UTC session zone.
    * Output: (col_name, n_distinct) for columns with a non-null value.
    */
  def distinctCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(explode(array(cols.map { c =>
        val v = df.schema(c).dataType match {
          case DoubleType | FloatType => col(c) + lit(0.0)
          case _                      => col(c)
        }
        struct(lit(c).as("c"), v.cast("string").as("v"))
      }: _*)).as("p"))
      .select(col("p.c").as("col_name"), col("p.v").as("v"))
      .distinct()
      .groupBy("col_name").agg(count(col("v")).as("n_distinct"))

  /** Per-group fraction-trimmed mean via exact decimal sums (q195):
    * drops the lowest/highest ⌊n·frac⌋ by rank, averages the core.
    * `tieBreak` must make the rank deterministic.
    */
  def trimmedMean(df: DataFrame, group: String, value: String,
      tieBreak: String, tenths: Int = 1): DataFrame = {
    import graft.functions.StableAgg
    require(tenths >= 0 && tenths <= 4)
    val w = Window.partitionBy(group).orderBy(value, tieBreak)
    val wc = Window.partitionBy(group)
    df.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wc))
      .filter(col("rn") > expr(s"(n * $tenths) div 10")
        && col("rn") <= col("n") - expr(s"(n * $tenths) div 10"))
      .groupBy(group).agg(
        count(lit(1)).as("n_core"),
        StableAgg.davg(col(value)).as("trimmed_mean"))
  }

  /** CUSUM change-point per group (q201): running exact-decimal sum of
    * deviations from the group mean in `order` sequence; returns one row
    * per group at the |CUSUM| peak. `order` columns must be a
    * deterministic total order within a group.
    */
  def cusumChangepoint(df: DataFrame, group: String, value: String,
      order: Seq[String]): DataFrame = {
    import graft.functions.StableAgg
    val stats = df.groupBy(group).agg(StableAgg.davg(col(value)).as("mu"))
    val w = Window.partitionBy(group).orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Tie-break the peak by the FULL order vector: |CUSUM| ties are common
    // (symmetric deviations), and order columns may be only jointly unique.
    val wRank = Window.partitionBy(group)
      .orderBy(desc("abs_cusum") +: order.map(asc): _*)
    df.join(broadcast(stats), group)
      .withColumn("cusum", StableAgg.dsumOver(col(value) - col("mu"), w))
      .withColumn("abs_cusum", abs(col("cusum")))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === 1)
      .drop("rn", "mu")
  }
}
