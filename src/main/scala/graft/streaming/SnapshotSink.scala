package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ops.Layout

/** Exactly-once streaming appends COMMITTED AS TABLE SNAPSHOTS.
  *
  * [[graft.ctran.Load.ingest]] with a batch id gets exactly-once from
  * one atomic directory RENAME to `ingest_batch=<id>` — correct on
  * HDFS/POSIX, but rename is exactly the primitive S3-class stores lack,
  * and its committed layout is a bare partitioned directory: readers see
  * whatever files exist, with no versioning and no incremental scan.
  * This sink commits every micro-batch through
  * [[Layout.snapshotAppend]] instead, so one call buys exactly-once
  * with no rename, plus three properties a directory rename cannot give:
  *
  *  - **exactly-once under replay**: the batchId travels IN the
  *    manifest (a `batch=<id>` metadata line). `foreachBatch` replays
  *    a batch only after a failure, and structured streaming batchIds
  *    are monotonically increasing per query, so "this batchId ≤ the
  *    newest committed one" ⇔ replay — the batch is skipped. A crash
  *    BEFORE the manifest PUT leaves an orphan data directory readers
  *    never see (swept by [[Layout.snapshotExpire]]'s grace-period
  *    orphan collection); a crash AFTER means the commit happened and
  *    the replay no-ops. No rename anywhere.
  *  - **torn-read-free versioned reads**: downstream readers use
  *    [[graft.Tables.snapshot]] semantics — a long analytics job pins
  *    one version's file list and is never torn across in-flight
  *    commits.
  *  - **an incremental feed for free**: each micro-batch is one
  *    snapshot version, so [[Layout.snapshotChanges]](lastSeen, latest)
  *    hands downstream consumers (vector-index append, corpus-index
  *    dedup, sketch merges) exactly the new files.
  *  - **bounded metadata**: expire old versions on any cadence without
  *    breaking newer appends (their manifests carry the file list
  *    forward).
  *
  * Contract: ONE streaming query owns the table (the same single-writer
  * contract a checkpointed query already implies) — the replay check
  * compares against the newest committed `batch=` marker, which is only
  * meaningful when all markers come from one monotonically-numbered
  * query. Mixed use with plain [[Layout.snapshotAppend]] (no marker) by
  * the SAME owner is fine: marker-less versions are skipped when
  * resolving the newest batchId.
  */
object SnapshotSink {

  private val BatchTag = "batch="

  /** Commit `batch` as one append snapshot of `dir` exactly once.
    * Returns false iff this batchId is already committed (a replay).
    * Use directly as a `foreachBatch` body:
    * {{{
    *   .foreachBatch((b: DataFrame, id: Long) =>
    *     SnapshotSink.appendOnce(b, id, dir): Unit)
    * }}}
    *
    * The newest committed marker is resolved by
    * [[Layout.snapshotNewestMeta]]'s descending lazy probe — O(1)
    * manifest GETs per commit on a sink-owned table, where the previous
    * eager validation of every historical manifest made per-batch
    * metadata I/O grow quadratically over a long-running stream
    * (manifests grow O(total files), versions grow one per batch).
    *
    * Failure containment for a RESET checkpoint: structured streaming
    * replays at most the one in-flight batch, so a batchId more than one
    * below the newest committed marker cannot come from the engine's
    * normal recovery — it means the query's checkpoint was deleted or
    * forked (batchIds restarted at 0) or a second query is writing the
    * table. Silently treating that as "replay" would drop every future
    * batch as a duplicate; this throws instead. (A reset can still
    * shadow batches while the restarted counter is within 1 of the
    * newest marker — ids 0..newest-1 re-deliver DIFFERENT data under
    * replayed ids; exactly-once is only meaningful against one
    * checkpoint lineage. Recovery from a genuine reset: start the new
    * query against a fresh table, or snapshotExpire + bootstrap.) */
  /** `statsCols` forwards to [[Layout.snapshotAppend]]'s manifest
    * column stats, so a STREAMED table is born skippable: each
    * micro-batch's files carry min/max for the given columns and
    * [[Layout.snapshotReadWhere]] prunes them at planning time —
    * no separate "optimize" pass to retrofit stats later.
    *
    * `branch`: stage the stream's commits on a write-audit-publish
    * branch ([[Layout.snapshotBranchAppend]]) instead of main — the
    * staged-ingest shape: micro-batches accumulate invisibly, an audit
    * validates the branch read, and one
    * [[Layout.snapshotFastForward]] publishes the whole window
    * atomically (or [[Layout.snapshotDropBranch]] walks away). The
    * replay probe then resolves `batch=` markers against the BRANCH's
    * own staged commits (the base copy's inherited marker is main's
    * lineage and is excluded), so the branch query keeps its own
    * batchId sequence. Same single-writer contract, per ref: one
    * query owns the branch; dropping a live query's branch is the
    * checkpoint-deletion failure class. */
  def appendOnce(batch: DataFrame, batchId: Long, dir: String,
      statsCols: Seq[String] = Nil,
      branch: Option[String] = None): Boolean =
    unlessReplay(batch.sparkSession, batchId, dir, branch) { _ =>
      branch match {
        case Some(b) =>
          Layout.snapshotBranchAppend(batch, dir, b,
            meta = Seq(s"$BatchTag$batchId"), statsCols = statsCols): Unit
        case None =>
          Layout.snapshotAppend(batch, dir,
            meta = Seq(s"$BatchTag$batchId"),
            statsCols = statsCols): Unit
      }
    }

  /** Exactly-once streaming UPSERT: commit `batch` into the keyed table
    * at `dir` through [[Layout.snapshotMergeInto]] — rows whose
    * `keyCols` match an existing row replace it, the rest insert — with
    * [[appendOnce]]'s replay contract (the batchId travels in the
    * manifest; a replayed micro-batch no-ops). The `foreachBatch` body
    * for applying a CDC/change-feed stream as a continuously-upserted
    * materialized table:
    * {{{
    *   .foreachBatch((b: DataFrame, id: Long) =>
    *     SnapshotSink.mergeOnce(b, id, dir, Seq("key"),
    *       seqCol = Some("seq")): Unit)
    * }}}
    *
    * `seqCol`: a micro-batch may fold SEVERAL upstream versions of the
    * same key (AvailableNow drains a whole backlog into one batch; the
    * change-feed source spans `(checkpointed, latest]`), and
    * [[Layout.snapshotMergeInto]] rightly refuses ambiguous duplicate
    * keys. A CDC batch therefore names its ordering column — the
    * upstream sequence/timestamp — and the batch is folded
    * last-writer-wins per key BEFORE the merge. Ties on (key, seq)
    * still refuse: genuinely ambiguous. Without `seqCol`, duplicates
    * refuse (the strict contract, right for streams whose batches are
    * unique-keyed by construction).
    *
    * `deleteCol`: a boolean TRANSPORT column marking CDC tombstones —
    * a row with it true DELETES its key instead of upserting. The fold
    * happens first (so insert→…→tombstone resolves to the delete, and
    * tombstone→re-insert resolves to the insert), then tombstoned keys
    * go to [[Layout.snapshotMergeInto]]'s delete side and the column is
    * DROPPED from the upserted rows (it describes the change stream,
    * not the table — the table schema never carries it). A tombstone
    * for a key the table never held no-ops, including in the bootstrap
    * batch.
    *
    * `preImages`: passed through to [[Layout.snapshotMergeInto]] —
    * the maintained table's own typed feed then serves keyed updates
    * as `update_preimage`/`update_postimage` pairs
    * (`snapshotChangesTyped(updateImages = true)`), at the cost of one
    * extra touched-file scan per micro-batch. Default off: merge-apply
    * latency is the CDC pipeline's tracked floor.
    *
    * The FIRST batch against a nonexistent table bootstraps it as an
    * append commit (a merge into nothing is a pure insert); every later
    * batch merges. Returns false iff the batchId was already
    * committed. */
  def mergeOnce(batch: DataFrame, batchId: Long, dir: String,
      keyCols: Seq[String], seqCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      deleteCol: Option[String] = None,
      preImages: Boolean = false): Boolean = {
    val spark = batch.sparkSession
    unlessReplay(spark, batchId, dir) { marked =>
      val folded0 = seqCol match {
        case None => batch
        case Some(seq) =>
          import org.apache.spark.sql.expressions.Window
          import org.apache.spark.sql.functions.{col, count, lit, row_number}
          val w = Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col(seq).desc)
          val ranked = batch
            .withColumn("_rn", row_number().over(w))
            .withColumn("_nTop", count(lit(1)).over(
              Window.partitionBy(keyCols.map(col) :+ col(seq): _*)))
          // a (key, seq) tie is genuinely ambiguous — refuse, never pick
          val dup = ranked.filter(col("_rn") === 1 && col("_nTop") > 1)
          require(dup.isEmpty,
            s"SnapshotSink.mergeOnce at $dir: batch $batchId holds rows " +
              s"tied on (${keyCols.mkString(", ")}, $seq) — last-writer-" +
              "wins needs a strict order; disambiguate the sequence " +
              "column upstream")
          ranked.filter(col("_rn") === 1).drop("_rn", "_nTop")
      }
      // split the folded change set into its upsert and tombstone sides;
      // the tombstone marker is transport metadata, never table schema
      val (folded, dels) = deleteCol match {
        case None => (folded0, None)
        case Some(dc) =>
          import org.apache.spark.sql.functions.{coalesce, col, lit}
          val isDel = coalesce(col(dc), lit(false))
          (folded0.filter(!isDel).drop(dc),
            Some(folded0.filter(isDel)
              .select(keyCols.map(col): _*)))
      }
      // a committed batch marker proves the table exists: only an
      // unmarked table pays a second lookup to tell bootstrap from merge
      if (!marked && Layout.snapshotLatestVersion(spark, dir).isEmpty) {
        // the bootstrap append must uphold the merge's unique-key
        // contract — a duplicate admitted here would silently persist
        // until some later batch happens to touch the key
        if (seqCol.isEmpty) {
          import org.apache.spark.sql.functions.{col, count, lit}
          val dup = folded.groupBy(keyCols.map(col): _*)
            .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
          require(dup.isEmpty,
            s"SnapshotSink.mergeOnce at $dir: bootstrap batch $batchId " +
              s"holds duplicate (${keyCols.mkString(", ")}) keys and no " +
              "seqCol to fold them last-writer-wins")
          // mirror snapshotMergeInto's updates∩deletes refusal: with no
          // seqCol a key appearing as BOTH a live row and a tombstone is
          // genuinely ambiguous — later batches refuse it in the merge,
          // and silently keeping the insert here would let the ambiguity
          // bootstrap itself into the table
          dels.foreach { dk =>
            require(folded.join(dk, keyCols, "left_semi").isEmpty,
              s"SnapshotSink.mergeOnce at $dir: bootstrap batch $batchId " +
                s"holds a key as BOTH a live row and a tombstone and no " +
                "seqCol to order them — disambiguate upstream")
          }
        }
        // a bootstrap tombstone deletes from an empty table: a no-op
        Layout.snapshotAppend(folded, dir,
          meta = Seq(s"$BatchTag$batchId"), statsCols = statsCols): Unit
      }
      else
        Layout.snapshotMergeInto(spark, dir, folded, keyCols,
          meta = Seq(s"$BatchTag$batchId"), deletes = dels,
          preImages = preImages): Unit
    }
  }

  /** The shared replay gate: resolve the newest committed `batch=`
    * marker (descending lazy probe, O(1) GETs), no-op a replay, fail
    * loudly on a batchId regression deeper than engine recovery can
    * produce, and run `commit` (which must attach `batch=<batchId>` to
    * its manifest) otherwise, telling it whether a marker was found. */
  private def unlessReplay(spark: org.apache.spark.sql.SparkSession,
      batchId: Long, dir: String,
      branch: Option[String] = None)(commit: Boolean => Unit): Boolean = {
    val newest = Layout.snapshotNewestMeta(spark, dir, BatchTag, branch)
      .map(_.stripPrefix(BatchTag).toLong)
    newest match {
      case Some(n) if batchId < n - 1 =>
        throw new IllegalStateException(
          s"SnapshotSink at $dir: batchId $batchId is ${n - batchId} " +
            s"behind the newest committed marker $n — engine recovery " +
            "replays at most one batch, so this is a deleted/forked " +
            "checkpoint or a second writer; refusing to silently drop " +
            "the batch as a replay")
      case Some(n) if batchId <= n => false
      case _ => commit(newest.isDefined); true
    }
  }
}
