package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermark-driven incremental maintenance (reference: etl-dag.sql).
  *
  * The reference's tasks use Snowflake `MERGE ... WHEN NOT MATCHED THEN
  * INSERT` keyed on (smba_id, exposure_start_ts) with a watermark filter
  * `metadata_date > last_successful_run_date`. On Spark the same
  * semantics are a LEFT ANTI join of the new batch against the target's
  * keys followed by a UNION — insert-only merge. At 100 TB the target
  * is a table bucketed by the FULL merge key
  * (`bucketBy(n, "smba_id", "exposure_start_ts")` — a key subset
  * cannot satisfy the join's required distribution and the planner
  * falls back to a shuffled scan), so the anti join reads the target's
  * buckets in place and shuffles only the (small) new batch —
  * demonstrated and pinned in BucketedJoinSpec ("bucketed MERGE
  * target"). Delta/Iceberg MERGE INTO replaces the whole pattern where
  * a table format is available.
  */
object IncrementalMerge {

  /** Rows of `batch` whose `keys` do not appear in `target`, appended to
    * `target` (reference: etl-dag.sql:30-45 task_update_raw_events). */
  def insertOnly(target: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame = {
    val fresh = batch.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti")
    target.unionByName(fresh)
  }

  /** Full upsert MERGE (WHEN MATCHED UPDATE + WHEN NOT MATCHED
    * INSERT) — beyond the reference's insert-only form: batch rows
    * REPLACE target rows on key collision, and within the batch the
    * highest `versionCols` ordering wins (late re-deliveries carry
    * restated values). Scale shape: with `broadcastKeys` (default,
    * right for micro-batch / single-day batches whose key set is
    * bounded by the trigger) the batch's distinct keys broadcast for
    * the anti join, so the 100-TB target never shuffles. For bulk
    * backfills whose key set can exceed driver broadcast limits, pass
    * `broadcastKeys = false`: no hint is planted and AQE picks the
    * join from the key set's ACTUAL size — broadcast when it fits, a
    * shuffled anti join when the batch is itself lake-scale (then
    * unavoidable). `versionCols` must totally order rows within a key
    * (include a unique id) or the surviving duplicate is
    * nondeterministic. */
  def upsert(target: DataFrame, batch: DataFrame, keys: Seq[String],
      versionCols: Seq[String], broadcastKeys: Boolean = true,
      evolveSchema: Boolean = false): DataFrame = {
    val latest = latestPerKey(batch, keys, versionCols)
    val keySet = latest.select(keys.map(col): _*).distinct()
    val keep = target.join(
      if (broadcastKeys) broadcast(keySet) else keySet, keys, "left_anti")
    // evolveSchema = the MERGE side of C61's schema-evolution UNION:
    // a batch carrying NEW columns widens the result (pre-evolution
    // rows read NULL), a batch missing retired columns keeps them
    // (its rows read NULL). OPT-IN — the strict default makes a
    // typo'd column a loud analysis error, not a silent new column.
    keep.unionByName(latest, allowMissingColumns = evolveSchema)
  }

  /** CDC apply — the full Snowflake MERGE including `WHEN MATCHED …
    * THEN DELETE`: `changes` carries an `opCol` ('upsert' or 'delete',
    * a CDC tombstone). Per key the HIGHEST `versionCols` change wins
    * (a delete followed by a later re-insert resurrects the row);
    * winning deletes remove the key from the target, winning upserts
    * replace-or-insert. Same scale shape as [[upsert]]: the change
    * set's distinct keys drive the target anti join (broadcast for
    * micro-batches, AQE-sized otherwise), the target never shuffles.
    * Apply is idempotent: replaying the same change set converges.
    *
    * A NULL or unrecognized `opCol` value FAILS the job (raise_error,
    * evaluated distributed at scan speed) instead of being silently
    * treated as a delete: `=!= 'delete'` evaluates NULL for a NULL op,
    * so the row would vanish from the upsert set while its key was
    * already anti-joined out of the target — a malformed change record
    * must fail fast, not erase a row. */
  def applyCdc(target: DataFrame, changes: DataFrame, keys: Seq[String],
      versionCols: Seq[String], opCol: String,
      broadcastKeys: Boolean = true): DataFrame = {
    val validated = changes.withColumn(opCol,
      when(col(opCol).isin("upsert", "delete"), col(opCol))
        .otherwise(raise_error(concat(
          lit(s"applyCdc: $opCol must be 'upsert' or 'delete', got '"),
          coalesce(col(opCol).cast("string"), lit("NULL")), lit("'")))))
    val latest = latestPerKey(validated, keys, versionCols)
    val keySet = latest.select(keys.map(col): _*).distinct()
    val keep = target.join(
      if (broadcastKeys) broadcast(keySet) else keySet, keys, "left_anti")
    // full-row-image CDC contract: changes carry every target column
    // (plus version/op metadata, projected away here)
    val upserts = latest.filter(col(opCol) =!= "delete")
      .select(target.columns.map(col): _*)
    keep.unionByName(upserts)
  }

  /** One row per key: the highest `versionCols` ordering wins — the
    * version-dedupe half of [[upsert]], also used alone on a first
    * batch with no target yet. */
  def latestPerKey(df: DataFrame, keys: Seq[String],
      versionCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(versionCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The sessions-stage incremental pattern (reference: etl-dag.sql:92-120
    * task_update_viewing_sessions): find the group keys touched by the
    * new batch, DELETE those groups from the target, and recompute them
    * from the full event set — groups are the unit of consistency
    * because a late event can re-split an existing session. Returns the
    * affected-keys frame; callers semi-join events on it and rebuild. */
  def affectedKeys(batch: DataFrame, groupKeys: Seq[String]): DataFrame =
    batch.select(groupKeys.map(col): _*).distinct()

  /** Watermark computation (reference: etl-dag.sql:125-140
    * task_update_control_table): per-source MAX(date) coalesced to an
    * epoch floor, then LEAST across sources — the `min` over the union
    * of the one-row maxes, which plans no nested-loop join and no
    * broadcast. */
  def watermark(sources: Seq[DataFrame], dateCol: String): DataFrame = {
    val floorDate = to_date(lit("1900-01-01"))
    sources.map(_.agg(coalesce(max(col(dateCol)), floorDate).as("d")))
      .reduce(_.union(_))
      .agg(min("d").as("last_successful_run_date"))
  }

  /** The FULL control table (reference: etl-dag.sql:126-145): one row
    * per task watermark — `raw_events_update` holds LEAST of the raw
    * feeds' maxes (an event is only safe once EVERY feed has delivered
    * past it), `panel_windows_update` holds the panel feed's own max
    * (panels advance independently). */
  def controlTable(
      rawSources: Seq[DataFrame],
      panelSource: DataFrame,
      dateCol: String): DataFrame = {
    val floorDate = to_date(lit("1900-01-01"))
    watermark(rawSources, dateCol)
      .withColumn("task_name", lit("raw_events_update"))
      .unionByName(panelSource
        .agg(coalesce(max(col(dateCol)), floorDate).as("last_successful_run_date"))
        .withColumn("task_name", lit("panel_windows_update")))
      .select(col("task_name"), col("last_successful_run_date"))
  }
}
