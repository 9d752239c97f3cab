package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC-shaped upsert: apply a key'd update stream to a base table with
  * last-write-wins semantics. The reference pipeline overwrites whole
  * sinks (`/root/reference/utils/load.py` always replaces); this is the
  * incremental form a 100 TB deployment needs — only the changed keys
  * move.
  *
  * Scale shape: [[latestPerKey]] is ONE shuffle keyed on the update key
  * (rank-1 window = CDC log compaction); the merge join shuffles on the
  * same key, so the exchange is reused, and when the compacted update set
  * is dim-sized Catalyst/AQE broadcasts it. At production scale the final
  * write lands via an ACID table format's MERGE (Iceberg/Delta); the
  * parquet-rewrite of the streaming twin
  * ([[graft.streaming.StreamingOps.applyUpsertBatch]], driven by
  * [[graft.streaming.StreamingOps.upsertStream]]) is the offline
  * stand-in with identical merge semantics.
  */
object Upsert {

  /** Insert-only delta maintenance of a JOIN view (classic IVM algebra):
    * V_new = A_new ⋈ B_new decomposes as
    *
    *   V_old  ∪  (ΔA ⋈ B_old)  ∪  (A_old ⋈ ΔB)  ∪  (ΔA ⋈ ΔB)
    *
    * — the three delta quadrants are disjoint from V_old and from each
    * other (each row lands in exactly one quadrant by which side of its
    * inputs is new), so plain UNION ALL is exact. Returns the maintained
    * view; `cond` is the join predicate. Scale shape: the nightly refresh
    * scans ONLY the deltas against the old sides — each quadrant join is
    * delta-sized on at least one input, `shuffle_hash`-pinned so a
    * data-dependent delta can never blow a broadcast build. (Deletes /
    * updates need keyed retraction — [[merge]] territory — this is
    * the append-only form an immutable-fact pipeline uses.) */
  def deltaJoinView(vOld: DataFrame, aOld: DataFrame, dA: DataFrame,
      bOld: DataFrame, dB: DataFrame, cond: Column): DataFrame = {
    def q(a: DataFrame, b: DataFrame) = a.join(b.hint("shuffle_hash"), cond)
    vOld.unionByName(q(dA, bOld))
      .unionByName(q(aOld, dB))
      .unionByName(q(dA, dB))
  }

  /** Latest update per key: rank-1 `row_number` under `orderCols`
    * (DESC-first, with a unique tiebreaker column last for determinism).
    * This is CDC log compaction — O(updates) with one key shuffle,
    * independent of base-table size. */
  def latestPerKey(updates: DataFrame, keyCols: Seq[String],
      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    updates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full-outer last-write-wins merge: keys present in `updates` carry the
    * latest update payload (UPDATE, or INSERT when absent from `base`);
    * keys only in `base` pass through unchanged. The USING-style key join
    * coalesces the key columns, so callers see one key column regardless
    * of which side matched. */
  def merge(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
      orderCols: Seq[Column]): DataFrame =
    base.join(latestPerKey(updates, keyCols, orderCols), keyCols, "full_outer")

  /** SCD Type-2 dimension build: compress a key'd change log into
    * validity-interval versions. Consecutive rows (per key, ordered by
    * `(tsCol, tiebreakCol)`) with an UNCHANGED `attrCol` collapse into one
    * version; each surviving change opens an interval `[valid_from,
    * valid_to)` closed by the next change (`valid_to IS NULL` = current).
    *
    * This is the warehouse-side complement of [[merge]]: merge keeps only
    * the latest state, SCD2 keeps full history queryable by as-of joins.
    *
    * Scale shape: both window passes (change detection, then
    * lead/row_number over the survivors) partition on the SAME key, so
    * the plan carries ONE hash exchange on `keyCol` with two Window
    * operators above it — O(changelog) with per-key sort, no joins. */
  def scd2(updates: DataFrame, keyCol: String, attrCol: String,
      tsCol: String, tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tiebreakCol))
    val changes = updates
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col(attrCol))
      .drop("__prev")
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("version", row_number().over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col(attrCol), col("valid_from"), col("valid_to"),
        col("version"), col("is_current"))
  }
}
