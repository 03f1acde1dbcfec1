package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** "Small enough to hold on the driver?" — every such gate in the
  * library sizes itself from Spark's own broadcast-join threshold, so a
  * deployment turns one setting, not a dial per module.
  */
object Gate {
  /** `spark.sql.autoBroadcastJoinThreshold` in bytes (10 MiB by
    * default; ≤ 0 turns broadcasts off) — the one place the library
    * reads it: [[join]] and the components gate
    * ([[graft.ops.Graph.driverEdgeBudget]]) both start here.
    */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** A join's build side with its row count, taken once and carried to
    * every join that reads it. `fits` when the rows at Spark's own
    * per-row size for the schema (8 bytes + the columns' default
    * sizes: 16 for one `long`, so 655,360 rows at the default
    * threshold) stay within [[broadcastThreshold]]; never when
    * broadcasts are off.
    */
  final class Measured(val df: DataFrame, val rows: Long) {
    val fits: Boolean = {
      val threshold = broadcastThreshold(df.sparkSession)
      threshold > 0 && rows <= threshold / (8L + df.schema.defaultSize)
    }
  }

  /** Count `df` (one Spark job) — the emptiness probe and the size
    * evidence at once; the count also materializes a lazy checkpoint.
    */
  def measure(df: DataFrame): Measured = new Measured(df, df.count())

  /** Join `left` to a measured build side on `key`: broadcast when it
    * fits, else shuffled under a merge hint, so Spark's own size
    * estimate cannot re-broadcast a frame measured over budget. Semi
    * and anti joins return the same rows either way — the deletion
    * path's takedown sets are small, but a mass purge or one
    * mega-cluster is corpus-order and must not ride the driver.
    */
  def join(left: DataFrame, right: Measured, key: String,
      how: String): DataFrame =
    if (right.fits) left.join(broadcast(right.df), Seq(key), how)
    else left.join(right.df.hint("merge"), Seq(key), how)
}
