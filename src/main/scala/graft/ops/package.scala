package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

package object ops {

  /** Every operator in the contract is a (session, sfDir) => DataFrame. */
  type Q = (SparkSession, String) => DataFrame

  /** Decimal-exact SUM (SURVEY.md §2.1 R2): floating sums are order-dependent
    * across engines; decimal sums are exact and associative, so partial/final
    * aggregation (map-side combine) stays deterministic at any parallelism —
    * the property that makes these queries reproducible on a 1000-executor
    * cluster, not just on local[32]. The exact decimal result is final-cast
    * to DOUBLE: equal decimals convert to bit-equal doubles on every engine,
    * whereas a DECIMAL output column renders scale-dependently
    * ("383775.00" vs "383775.0") across parquet readers — the r1 hash gate
    * failed exactly the queries whose decimal outputs had trailing zeros.
    *
    * Bound: "equal decimals convert to bit-equal doubles" is guaranteed
    * while the unscaled sum stays within 2^53 ≈ 9.0e15 (at scale 2 that
    * is a summed VALUE below ~9.0e13). Beyond that, correctly-rounded
    * BigDecimal→double (JVM) and decimal→double (DuckDB) can still differ
    * in the last ulp after double rounding. All fixture SFs sit orders of
    * magnitude below the bound; a driver that hashes at larger SFs should
    * hash a rounded/decimal-string form instead. The bound is empirically
    * TIGHT: `tools/strictdiff.py --selftest-decimal` probes a magnitude
    * ladder and finds DuckDB's scale-2 decimal→double cast diverging from
    * correctly-rounded starting at unscaled 2^53+1, and never below.
    */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).cast("double")

  /** R2 average: exact decimal sum, one deterministic double division. */
  def davg(c: Column): Column = (dsum(c) / count(lit(1)))

  /** Integer-valued exact SUM: decimal accumulation, BIGINT output (exact
    * at any magnitude the fixtures reach; no floating rendering at all).
    */
  def lsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 0))).cast("long")

  /** Materialize an intermediate consumed more than once (or whose
    * lineage must be truncated), with cluster-selectable durability.
    *
    * Default is `localCheckpoint(eager)`: blocks live on executor
    * local storage only — fast, no HDFS round-trip, the right call on
    * local[32] and for fixture-scale intermediates. The trade
    * (docs/SCALE.md "Checkpoint durability"): localCheckpoint is NOT
    * fault-tolerant — losing an executor loses its blocks AND the
    * truncated lineage, failing the job where reliable `checkpoint`
    * would recompute. On a real cluster set
    * `spark.graft.reliableCheckpoint=true` (plus
    * `spark.graft.checkpointDir=<fault-tolerant path>` if no
    * `sparkContext.setCheckpointDir` was issued) and every graft
    * materialization point switches to reliable `checkpoint` — same
    * plans, executor-loss survivable.
    */
  def ckpt(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf
      .getOption("spark.graft.reliableCheckpoint").exists(_.toBoolean)
    if (reliable) {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        spark.conf.getOption("spark.graft.checkpointDir")
          .foreach(sc.setCheckpointDir)
      require(sc.getCheckpointDir.nonEmpty,
        "spark.graft.reliableCheckpoint=true needs a checkpoint dir " +
          "(sparkContext.setCheckpointDir or spark.graft.checkpointDir)")
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
  }

  /** Postfix spelling of [[ckpt]] for fluent chains. */
  implicit class GraftCkpt(private val df: DataFrame) {
    def graftCkpt(eager: Boolean = true): DataFrame = ckpt(df, eager)
  }
}
