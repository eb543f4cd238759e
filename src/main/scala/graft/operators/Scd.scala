package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension operators — the core of the reference
  * pipeline (reference: notebooks/pipeline_core.py:83-268 and
  * notebooks/Load & SCD-Merge.py MERGE INTO), re-expressed as pure
  * declarative Spark plans.
  *
  * Where the reference mutates a Delta table in place (MERGE), we
  * compute the post-merge state as a DataFrame: same semantics,
  * engine-agnostic persistence, and the whole plan stays visible to
  * Catalyst (one shuffle on the business key; no driver-side
  * `count()` control flow like the reference's
  * `if keys_changed.count() > 0`, which would add a full extra job
  * per merge at 100 TB).
  */
object Scd {

  /** Latest row per business key, by a monotonic "recency" ordering —
    * the reference's `transform_dim` dedup
    * (reference: notebooks/pipeline_core.py:101-110). Tie-broken
    * deterministically by the extra order columns. */
  def latestPerKey(df: DataFrame, key: Seq[String],
                   orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(orderBy.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Trim/normalize string columns — `transform_dim`'s cleanup
    * (reference: notebooks/pipeline_core.py:96-98). */
  def cleanStrings(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, trim(col(c))))

  /** Build a full SCD2 dimension from a change history.
    *
    * Input: one row per observed state `(key, ts, attrs…)`.
    * Output: one row per *version* with `valid_from`, `valid_to`
    * (null = open) and `is_current`, i.e. exactly the shape the
    * reference maintains incrementally via Delta MERGE
    * (reference: notebooks/pipeline_core.py:119-268). Consecutive
    * identical attribute states collapse into one version (the
    * reference's "unchanged → do nothing" branch).
    *
    * Single hash-partition-by-key plan: lag() to detect changes,
    * filter to version starts, lead() to close them. Scales linearly
    * in history size; no self-join.
    */
  def scd2FromHistory(history: DataFrame, key: Seq[String], tsCol: String,
                      attrs: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(key.map(col): _*).orderBy(ord: _*)
    val changed = attrs
      .map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _)
    val starts = history
      .withColumn("__chg", when(lag(col(tsCol), 1).over(w).isNull, lit(true))
        .otherwise(changed))
      .filter(col("__chg"))
    val w2 = Window.partitionBy(key.map(col): _*).orderBy(ord: _*)
    starts
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .select((key.map(col) ++ attrs.map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current"))): _*)
  }

  /** Current-version slice of an SCD2 dimension. */
  def scd2Current(dim: DataFrame): DataFrame =
    dim.filter(col("is_current"))

  /** Point-in-time slice: the dimension exactly as it stood at `ts` —
    * the version whose [valid_from, valid_to) interval covers it.
    * Map-only filter over the dimension (partition-prunable when the
    * dim is stored partitioned on valid_from date). */
  def scd2AsOf(dim: DataFrame, ts: java.sql.Timestamp): DataFrame =
    dim.filter(col("valid_from") <= lit(ts) &&
      (col("valid_to").isNull || col("valid_to") > lit(ts)))

  /** SCD1 upsert (last-writer-wins): apply `updates` onto `base` by
    * key — update matched rows' attrs, insert unmatched keys. The
    * reference's MERGE WHEN MATCHED UPDATE / NOT MATCHED INSERT with
    * Type-1 semantics, as a single full-outer join + coalesce. */
  def scd1Upsert(base: DataFrame, updates: DataFrame, key: Seq[String],
                 attrs: Seq[String]): DataFrame = {
    val b = base.select((key ++ attrs).map(col): _*)
    val u = updates.select((key ++ attrs).map(col): _*)
      .toDF(key ++ attrs.map("__u_" + _): _*)
      .withColumn("__upd", lit(true))
    b.join(u, key, "full_outer")
      .select((key.map(col) ++ attrs.map(a =>
        when(col("__upd").isNotNull, col("__u_" + a))
          .otherwise(col(a)).as(a))): _*)
  }

  /** Classify incoming latest-state rows vs the current dimension:
    * `new` (key absent), `changed` (any compare column differs,
    * null-safe), `unchanged` — the reference's merge_scd
    * split (reference: notebooks/pipeline_core.py:186-204), minus the
    * three driver-side count() jobs. */
  def changeDetect(incoming: DataFrame, current: DataFrame, key: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    val cur = current.select((key ++ compareCols).map(col): _*)
      .toDF(key ++ compareCols.map("__c_" + _): _*)
      .withColumn("__present", lit(true))
    val anyChange = compareCols
      .map(c => !(col(c) <=> col("__c_" + c)))
      .reduce(_ || _)
    incoming.join(cur, key, "left")
      .withColumn("change_type",
        when(col("__present").isNull, lit("new"))
          .when(anyChange, lit("changed"))
          .otherwise(lit("unchanged")))
      .drop("__present")
      .drop(compareCols.map("__c_" + _): _*)
  }

  /** Apply one SCD2 merge increment: given the dimension's current
    * state and a batch of latest-per-key rows, emit the new dimension
    * content (closed old versions + inserted new versions +
    * untouched rows) — the full MERGE INTO semantics of
    * reference: notebooks/Load & SCD-Merge.py:24-38 as a pure
    * function of (dim, batch, batchTs). */
  def scd2Merge(dim: DataFrame, batch: DataFrame, key: Seq[String],
                attrs: Seq[String],
                batchTs: java.sql.Timestamp): DataFrame = {
    val classified = changeDetect(batch, scd2Current(dim), key, attrs)
    val inserts = classified
      .filter(col("change_type") =!= "unchanged")
      .select((key.map(col) ++ attrs.map(col)): _*)
      .withColumn("valid_from", lit(batchTs))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    val changedKeys = classified.filter(col("change_type") === "changed")
      .select(key.map(col): _*).distinct()
    closeAndUnion(dim, changedKeys, key, batchTs, inserts)
  }

  /** Shared close-versions leg: every dim row rides through ONE left
    * join against the closing-key set, with the current version of a
    * closing key rewritten in place (valid_to := batchTs, is_current
    * := false). One pass over the dimension — closed and untouched
    * rows were previously produced by separate semi/left joins, which
    * recomputed the (window-built) dimension once per leg. */
  private def closeAndUnion(dim: DataFrame, closeKeys: DataFrame,
                            key: Seq[String], batchTs: java.sql.Timestamp,
                            inserts: DataFrame): DataFrame = {
    val closing = col("is_current") && col("__cur").isNotNull
    dim.join(closeKeys.withColumn("__cur", lit(true)), key, "left")
      .withColumn("valid_to", when(closing, lit(batchTs))
        .otherwise(col("valid_to")))
      .withColumn("is_current", col("is_current") && col("__cur").isNull)
      .drop("__cur")
      .unionByName(inserts)
  }

  /** Full-snapshot SCD2 merge WITH delete detection — the fourth CDC
    * quadrant the reference's incremental merge can't see (an
    * incremental batch says nothing about keys it omits; a full
    * snapshot does): keys present in the dimension but absent from
    * the snapshot get their current version closed at `batchTs`,
    * alongside the usual new/changed/unchanged handling.
    *
    * Plan shape: one key-partitioned classification join + one
    * anti-join for deletes; all legs shuffle on the business key so
    * AQE plans them as one exchange family. No driver-side counts. */
  def scd2ApplySnapshot(dim: DataFrame, snapshot: DataFrame,
                        key: Seq[String], attrs: Seq[String],
                        batchTs: java.sql.Timestamp): DataFrame = {
    val cur = scd2Current(dim)
    val classified = changeDetect(snapshot, cur, key, attrs)
    val deletedKeys = cur.select(key.map(col): _*)
      .join(snapshot.select(key.map(col): _*), key, "left_anti")
    val closeKeys = classified.filter(col("change_type") === "changed")
      .select(key.map(col): _*)
      .unionByName(deletedKeys)
      .distinct()
    val inserts = classified
      .filter(col("change_type") =!= "unchanged")
      .select((key.map(col) ++ attrs.map(col)): _*)
      .withColumn("valid_from", lit(batchTs))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    closeAndUnion(dim, closeKeys, key, batchTs, inserts)
  }

  /** Change data feed between two committed snapshots of a table —
    * the `table_changes` surface of log-based lakehouse formats,
    * computed set-theoretically so it works over ANY two immutable
    * snapshots (e.g. `LogTable.load(spark, Some(v))` pairs).
    * `keys` must uniquely identify a row within a snapshot (for an
    * SCD2 dim: business key + valid_from). Emits Delta-CDF-shaped
    * rows: the input schema plus `_change_type` ∈ insert / delete /
    * update_preimage / update_postimage; unchanged rows emit
    * nothing.
    *
    * Scale design: ONE full-outer keyed join; the attr comparison is
    * a map-side 8-byte hash computed before the shuffle, so the join
    * carries (key, hash, packed row) and the unchanged majority is
    * dropped immediately after the match — no second pass, no
    * re-read of either snapshot. */
  def changeFeed(pre: DataFrame, post: DataFrame,
                 keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val attrs = post.columns.filterNot(keys.contains).toSeq
    def hashed(df: DataFrame, tag: String): DataFrame =
      df.select(keys.map(col) ++ Seq(
        xxhash64(concat_ws("\u0000",
          attrs.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*))
          .as(s"__h$tag"),
        struct(df.columns.map(col).toSeq: _*).as(s"__row$tag")): _*)
    hashed(pre, "a").join(hashed(post, "b"), keys, "full_outer")
      .filter(col("__rowa").isNull || col("__rowb").isNull ||
        col("__ha") =!= col("__hb"))
      .select(explode(
        when(col("__rowa").isNull, array(
          struct(lit("insert").as("_change_type"), col("__rowb").as("row"))))
        .when(col("__rowb").isNull, array(
          struct(lit("delete").as("_change_type"), col("__rowa").as("row"))))
        .otherwise(array(
          struct(lit("update_preimage").as("_change_type"),
            col("__rowa").as("row")),
          struct(lit("update_postimage").as("_change_type"),
            col("__rowb").as("row"))))).as("__c"))
      .select(col("__c.row.*") +: Seq(col("__c._change_type")): _*)
  }
}
