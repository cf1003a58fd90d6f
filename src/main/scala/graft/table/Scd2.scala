package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Slowly-Changing-Dimension Type 2 maintenance over an icelite table —
  * the warehouse pattern the reference's upsert path (design.md R1,
  * last-writer-wins) deliberately does NOT give you: instead of
  * overwriting a key's row, every attribute change CLOSES the current
  * version (`eff_to` = change seq) and OPENS a new one, so the table
  * holds the full validity history and any past state is one
  * predicate away.
  *
  * Row shape: `keyCols ++ trackedCols ++ (eff_from BIGINT, eff_to
  * BIGINT nullable)`; the current version is `eff_to IS NULL`. The
  * physical table key is the composite `(keyCols, eff_from)` — a close
  * is an UPSERT of the existing open row with `eff_to` filled, an open
  * is a brand-new composite key, so one icelite upsert commit (equality
  * delete + data file) applies a whole batch atomically.
  *
  * Scale shape (100 TB dimension, batch-sized updates): the ONLY
  * full-table touch is one broadcast LEFT-SEMI filter that cuts the
  * open-version scan down to the update keys (at Iceberg scale the
  * per-file key blooms [[IceliteTable.planFiles]] reads prune the same
  * scan to ~|keys| files); every subsequent join is batch×batch and
  * broadcastable, and the closing MERGE is key-range pruned. No-op
  * resends (a row whose tracked attributes all match the open version,
  * null-safely) produce NO new version and NO write amplification.
  */
final class Scd2(
    val table: IceliteTable,
    keyCols: Seq[String],
    trackedCols: Seq[String]) {

  private def compositeKey: Seq[String] = keyCols :+ "eff_from"

  /** Open (current) versions. */
  def current(): DataFrame = table.read().filter(col("eff_to").isNull)

  /** Full version history. */
  def history(): DataFrame = table.read()

  /** The dimension as of sequence `seq`: the version whose validity
    * interval `[eff_from, eff_to)` contains it.
    */
  def asOf(seq: Long): DataFrame =
    table.read().filter(col("eff_from") <= seq &&
      (col("eff_to").isNull || col("eff_to") > seq))

  /** Apply one update batch effective at `seq` (one row per key;
    * duplicates within the batch are dropped arbitrarily — callers
    * wanting LWW dedupe upstream on their own order column). Returns
    * the committed snapshot seq, or -1 when the whole batch was a
    * no-op (nothing changed — no commit is made).
    */
  def apply(updates: DataFrame, seq: Long): Long = {
    val u = updates.dropDuplicates(keyCols).alias("u")
    // one pass over the open versions, semi-filtered to the batch keys
    // (broadcast: the update batch is the small side by construction)
    val hit = current().alias("c")
      .join(broadcast(u.select(keyCols.map(col): _*)), keyCols, "left_semi")
      .alias("c")
    val on = keyCols.map(k => col(s"u.$k") === col(s"c.$k")).reduce(_ && _)
    val j = u.join(broadcast(hit), on, "left")
    val isNew = col("c.eff_from").isNull
    val differs = trackedCols.map(tc => !(col(s"u.$tc") <=> col(s"c.$tc"))).reduce(_ || _)
    val changed = j.filter(isNew || differs).localCheckpoint()

    if (changed.isEmpty) return -1L

    val opens = changed.select(
      keyCols.map(k => col(s"u.$k").as(k)) ++
        trackedCols.map(tc => col(s"u.$tc").as(tc)) ++
        Seq(lit(seq).as("eff_from"), lit(null).cast(LongType).as("eff_to")): _*)
    val closes = changed.filter(!isNew).select(
      keyCols.map(k => col(s"c.$k").as(k)) ++
        trackedCols.map(tc => col(s"c.$tc").as(tc)) ++
        Seq(col("c.eff_from").as("eff_from"), lit(seq).as("eff_to")): _*)
    table.upsert(closes.unionByName(opens), compositeKey)
  }
}

object Scd2 {

  /** Create the backing icelite table for a dimension shaped like
    * `prototype` (keys + tracked attributes) and wrap it for SCD2
    * maintenance.
    */
  def create(
      spark: SparkSession,
      warehouse: String,
      namespace: String,
      name: String,
      prototype: DataFrame,
      keyCols: Seq[String],
      trackedCols: Seq[String]): Scd2 = {
    val proto = prototype
      .select((keyCols ++ trackedCols).map(col): _*)
      .withColumn("eff_from", lit(0L))
      .withColumn("eff_to", lit(null).cast(LongType))
    val table = IceliteTable.create(spark, warehouse, namespace, name, proto.schema)
    new Scd2(table, keyCols, trackedCols)
  }

  def load(
      spark: SparkSession,
      warehouse: String,
      namespace: String,
      name: String,
      keyCols: Seq[String],
      trackedCols: Seq[String]): Scd2 =
    new Scd2(IceliteTable.load(spark, warehouse, namespace, name), keyCols, trackedCols)
}
