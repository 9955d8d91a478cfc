package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The sink-directory protocol of every streaming registry: exactly-once
  * parquet appends for foreachBatch sinks, plus the one aside-swap that
  * compacts or replaces a sink dir in place. This is the only module
  * that knows a sink dir's on-disk layout:
  *
  *   dir/b<id>-part-….parquet     batch-tagged data files
  *   dir/_b<id>.done              done-markers (the commit points)
  *   dir/_<name>                  other registry metadata (`_nplanes`)
  *   dir__staging_b<id>_<nonce>   a writer-private append staging dir
  *   dir__compacting              the swap's temp
  *   dir__precompact              the swap's aside
  *
  * Structured Streaming re-runs a failed micro-batch with the SAME
  * batchId (the offset log commits before execution), so a plain
  * `mode("append")` is at-least-once: a crash after the write but before
  * the checkpoint re-appends the batch — and worse, a flow whose LATER
  * stages read a registry its EARLIER replay already mutated recomputes
  * against poisoned state (measured: segment-dedup replay after a full
  * batch marks every segment "known" and appends garbage survivors).
  *
  * Protocol, per (sink dir, batchId):
  *  1. [[rollback]] on batch entry: heal a crashed swap ([[recover]]),
  *     then delete this batch's tagged data files when no done-marker
  *     exists (a crashed partial append) — the registry is then exactly
  *     its pre-batch content before ANY reads.
  *  2. [[append]]: skip when the marker exists (the step already
  *     committed); otherwise write to a side staging dir, MOVE the part
  *     files in under a `b<id>-` name tag, then create the `_b<id>.done`
  *     marker (a single atomic create — the commit point). Underscore
  *     files are invisible to Spark readers.
  *
  * Every window: crash before the marker → rollback undoes the partial
  * files and the step re-runs on identical pre-batch state; crash after
  * → the step is skipped on replay. Recomputed-but-skipped stages are
  * safe because each flow orders its writes so a stage's CONTENT only
  * depends on registries whose this-batch delta lands in the same or a
  * later step. This is the same idea as Delta's txn-version dedup for
  * foreachBatch sinks, over plain parquet dirs.
  *
  * Rewrites ([[compact]], [[replace]]) write the new content to the
  * temp, carry the live dir's metadata into it, rename the live dir
  * aside, rename the temp in and delete the aside. A crash anywhere in
  * that window leaves the live dir, a committed temp or the aside, and
  * [[recover]] — run by [[rollback]] and [[readOr]], so every flow heals
  * by construction — restores whichever survives. A table format
  * (Delta/Iceberg) makes the whole swap atomic in production.
  */
object BatchCommit {

  /** Files a compaction leaves (and the default of [[compact]]). */
  private[streaming] val CompactFiles = 4

  private val Temp = "__compacting"
  private val Aside = "__precompact"
  private val StagingTag = "__staging_b"

  private[streaming] def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** A data file Spark readers see (metadata and checksums are hidden). */
  private[streaming] def visibleParquet(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  private def markerPath(dir: String, batchId: Long) =
    new Path(dir, f"_b$batchId%06d.done")
  private[streaming] def filePrefix(batchId: Long) = f"b$batchId%06d-"

  def isDone(spark: SparkSession, dir: String, batchId: Long): Boolean =
    fsFor(spark, dir).exists(markerPath(dir, batchId))

  /** A WRITER-PRIVATE staging dir for (dir, batchId): the batch-id key
    * alone is not enough — two live writers mis-pointed at one registry
    * dir would share a staging path, and one could move the OTHER's
    * partially-committed staging files and claim them under its own
    * marker: a holed batch that passes the integrity check (every file
    * it moved survived — they were just never the whole batch). A
    * per-invocation nonce makes each append's staged content provably
    * its own complete write; [[sweepStaging]] clears abandoned nonces.
    * A crashed attempt's staging can only exist pre-claim (the staging
    * dir is deleted before the marker create), and streaming always
    * replays the failed batch — so the replaying [[append]]'s entry
    * sweep is the one cleanup point needed. */
  private def newStaging(dir: String, batchId: Long): Path =
    new Path(dir + f"$StagingTag$batchId%06d_" +
      java.util.UUID.randomUUID().toString.substring(0, 8))

  /** Delete every staging dir any writer left for (dir, batchId) — a
    * crashed attempt's leftovers, or (two live writers) the other
    * flow's in-flight staging write, whose Spark job then fails LOUDLY
    * and retries; it can never silently lose rows because its commit
    * point is still the marker claim. Called at append entry, before
    * each staging write. */
  private def sweepStaging(fs: FileSystem, dir: String, batchId: Long): Unit = {
    val d = new Path(dir)
    val parent = d.getParent
    if (parent == null || !fs.exists(parent)) return
    val prefix = d.getName + f"$StagingTag$batchId%06d"
    fs.listStatus(parent).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(prefix)) {
        fs.delete(st.getPath, true); ()
      }
    }
  }

  /** Batch entry: [[recover]] a crashed swap, then delete this batch's
    * tagged data files when its marker is absent — the undo of a crashed
    * partial append. Idempotent, and a no-op (beyond the heal) once the
    * marker exists. Also sweeps ONE level of partition subdirs
    * (`cell=3/…`) so the same undo covers [[appendPartitioned]] sinks;
    * flat registries have no subdirs, so the recursion is free there. */
  def rollback(spark: SparkSession, dir: String, batchId: Long): Unit = {
    val fs = fsFor(spark, dir)
    recover(fs, dir)
    val d = new Path(dir)
    if (!fs.exists(d) || fs.exists(markerPath(dir, batchId))) return
    val pre = filePrefix(batchId)
    fs.listStatus(d).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith(pre)) {
        fs.delete(st.getPath, false); ()
      } else if (st.isDirectory && st.getPath.getName.contains("=")) {
        fs.listStatus(st.getPath).foreach { sub =>
          if (sub.isFile && sub.getPath.getName.startsWith(pre)) {
            fs.delete(sub.getPath, false); ()
          }
        }
      }
    }
  }

  /** Exactly-once append of `df` into `dir` for `batchId` (see protocol
    * above). The caller must have [[rollback]]ed this (dir, batchId) at
    * batch entry, before reading any registry this write feeds.
    *
    * The marker create doubles as a PUT-IF-ABSENT CLAIM on (dir,
    * batchId): when two writers (two pipelines mis-pointed at one
    * registry dir — their independent checkpoints reuse the same batch
    * ids) race the same append, exactly one creates the marker; the
    * loser removes precisely the part files it moved in (part names are
    * write-UUID-unique, so the winner's files are untouched) and throws
    * [[java.util.ConcurrentModificationException]]. A loser that races
    * the other way — its [[rollback]] deleting the winner's not-yet-
    * committed moves — is caught by the post-claim integrity check: a
    * commit only stands if every file it moved survived to the marker,
    * otherwise the marker is withdrawn and the batch fails loudly for
    * replay. Concurrent flows therefore serialize per batch id or fail
    * loudly; they never commit a merged or holed batch. (A loser that
    * arrives AFTER the winner's marker skips like a self-replay — id-
    * based idempotence cannot tell foreign writers apart without a flow
    * identity, which is why one registry dir still wants one flow.) */
  def append(df: DataFrame, dir: String, batchId: Long): Unit =
    commitBatch(df, dir, batchId, None)

  /** Exactly-once append of a PARTITIONED `df` into `dir`: same protocol
    * as [[append]], but the staging write is `partitionBy(partitionCol)`
    * and each staged `col=value/part.parquet` moves into the matching
    * `dir/col=value/` subdir under the batch tag — the "append new days'
    * codes into the same cell dirs" layout [[graft.similarity.IvfPq]]
    * promises, kept partition-prunable for readers. ONE root done-marker
    * commits the whole batch across all partitions ([[rollback]] sweeps
    * the subdirs), so claim/skip stays atomic per (dir, batchId). */
  def appendPartitioned(df: DataFrame, dir: String, batchId: Long,
                        partitionCol: String): Unit =
    commitBatch(df, dir, batchId, Some(partitionCol))

  /** The body of [[append]]/[[appendPartitioned]]: stage, move every
    * staged part file in under the batch tag (flat, or into the matching
    * partition subdir), then [[claim]]. */
  private def commitBatch(df: DataFrame, dir: String, batchId: Long,
                          partitionCol: Option[String]): Unit = {
    val fs = fsFor(df.sparkSession, dir)
    if (fs.exists(markerPath(dir, batchId))) return
    sweepStaging(fs, dir, batchId)
    val staging = newStaging(dir, batchId)
    partitionCol.fold(df.write)(df.write.partitionBy(_))
      .mode("overwrite").parquet(staging.toString)
    Failpoints.hit("commit:staged", dir)
    val d = new Path(dir)
    if (!fs.exists(d)) { fs.mkdirs(d); () }
    val moves = partitionCol match {
      case None => Seq(staging -> d)
      case Some(c) => fs.listStatus(staging).toSeq
        .filter(p => p.isDirectory && p.getPath.getName.startsWith(c + "="))
        .map(p => p.getPath -> new Path(d, p.getPath.getName))
    }
    val pre = filePrefix(batchId)
    val moved = moves.flatMap { case (from, to) =>
      if (!fs.exists(to)) { fs.mkdirs(to); () }
      fs.listStatus(from).toSeq.filter(visibleParquet).map { st =>
        val target = new Path(to, pre + st.getPath.getName)
        if (!fs.rename(st.getPath, target))
          throw new java.io.IOException(
            s"batch commit: move ${st.getPath} -> $to failed")
        Failpoints.hit("commit:moved-one", dir)
        target
      }
    }
    fs.delete(staging, true)
    claim(fs, dir, batchId, moved)
  }

  /** The commit point of [[commitBatch]]: create the done-marker as a
    * put-if-absent claim, then verify every moved file survived to the
    * claim. */
  private def claim(fs: FileSystem, dir: String, batchId: Long,
                    moved: Seq[Path]): Unit = {
    Failpoints.hit("commit:pre-marker", dir)
    val marker = markerPath(dir, batchId)
    // the commit point: a single atomic create = the put-if-absent claim.
    // Only an explicit ALREADY-EXISTS from the create decides the claim
    // was lost — that is the one signal that cannot mean our own create
    // half-succeeded. Any other IOException with the marker present is
    // ambiguous (on HDFS/object stores the create can succeed server-side
    // and still throw client-side on a timeout, in which case the standing
    // marker is OURS): deleting the moved files there would commit an
    // EMPTY batch under our own marker, so instead fail loudly WITHOUT
    // touching them — entry rollback replays the batch cleanly.
    val out =
      try fs.create(marker, false)
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          moved.foreach { p => fs.delete(p, false); () }
          throw new java.util.ConcurrentModificationException(
            s"batch commit claim lost: $dir batch $batchId was committed by " +
              "a concurrent writer — one registry dir must have one flow", e)
        case e: java.io.IOException if fs.exists(marker) =>
          throw new java.io.IOException(
            s"batch commit: marker create for $dir batch $batchId failed " +
              "ambiguously with a marker present (ours or foreign — " +
              "undecidable); batch left for replay, moved files untouched", e)
      }
    Failpoints.hit("commit:marker-created", dir)
    // A close() failure must NOT be read as a lost claim (the old
    // single-expression form did, and deleted this batch's data files
    // while leaving our own marker behind — a committed EMPTY batch).
    // The marker is empty, so once create() returned the claim is ours
    // and the marker's existence alone is the commit; if the close
    // somehow left no marker behind, fail the batch loudly WITHOUT
    // touching the moved files — entry rollback undoes them on replay.
    try out.close()
    catch {
      case e: java.io.IOException if !fs.exists(marker) =>
        throw new java.io.IOException(
          s"batch commit: marker create for $dir batch $batchId did not " +
            "survive — batch left uncommitted for replay", e)
      case _: java.io.IOException => // marker exists: the commit stands
    }
    // post-claim integrity: a concurrent writer's entry rollback may have
    // deleted this append's moves before the claim landed — withdraw the
    // marker so the hole is never committed, and fail loudly for replay
    if (moved.exists(p => !fs.exists(p))) {
      fs.delete(marker, false)
      moved.foreach { p => fs.delete(p, false); () }
      throw new java.util.ConcurrentModificationException(
        s"batch commit integrity lost: $dir batch $batchId files were " +
          "rolled back by a concurrent writer before the claim landed")
    }
  }

  /** Read a sink dir that may not exist yet, may hold only markers (all
    * data rolled back), or may be mid-swap: [[recover]]s a crashed swap
    * first, then falls back to an empty frame of `schema` when no
    * visible parquet data exists. */
  def readOr(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val fs = fsFor(spark, dir)
    recover(fs, dir)
    val d = new Path(dir)
    if (fs.exists(d) && fs.listStatus(d).exists(visibleParquet))
      spark.read.parquet(dir)
    else spark.createDataFrame(new java.util.ArrayList[Row](), schema)
  }

  private val MarkerName = """_b(\d+)\.done""".r

  /** Prune committed done-markers a replay can no longer consult. A
    * marker for batch `b` is only read by a replay OF batch `b`, and
    * Structured Streaming replays at most the newest batch this sink has
    * seen: the flow appending batch N at all proves batch N-1's
    * checkpoint commit completed, so every marker below this dir's
    * newest is already dead. We keep the top `keep` (default 2) marker
    * ids — one id of margin beyond that argument — and delete the rest.
    * Without pruning, a minutes-cadence flow gains one marker file per
    * micro-batch forever: unbounded small-file metadata growth in
    * exactly the dirs [[maybeCompact]] keeps bounded. Returns the number
    * of markers removed. */
  def pruneMarkers(spark: SparkSession, dir: String, keep: Int = 2): Int = {
    val fs = fsFor(spark, dir)
    val d = new Path(dir)
    if (!fs.exists(d)) return 0
    val ids = fs.listStatus(d).flatMap { st =>
      st.getPath.getName match {
        case MarkerName(id) if st.isFile => Some(id.toLong)
        case _ => None
      }
    }.sorted
    if (ids.length <= keep) return 0
    val dead = ids.dropRight(keep)
    dead.foreach { id => fs.delete(markerPath(dir, id), false); () }
    dead.length
  }

  /** Opportunistic registry maintenance: [[compact]] `dir` to
    * [[CompactFiles]] files when its visible data-file count exceeds
    * `maxFiles` — the self-compaction the 50-drop growth probe demanded
    * (per-drop appends accumulate one small file each; listing + footer +
    * one task per file eventually dominates the probe). Runs AFTER a
    * batch's own writes. Dead markers below the newest two batch ids are
    * [[pruneMarkers pruned]] here so TOTAL file count (data and markers)
    * stays bounded. `foldKeys`/`sortKeys` as in [[compact]]. */
  def maybeCompact(spark: SparkSession, dir: String, maxFiles: Int,
                   foldKeys: Seq[String] = Nil,
                   sortKeys: Seq[String] = Nil): Boolean = {
    val fs = fsFor(spark, dir)
    val d = new Path(dir)
    if (!fs.exists(d)) return false
    pruneMarkers(spark, dir)
    if (fs.listStatus(d).count(visibleParquet) <= maxFiles) false
    else { compact(spark, dir, CompactFiles, foldKeys, sortKeys); true }
  }

  /** Compact an append-only sink dir to `numFiles` files — the
    * maintenance the 50-drop curve of docs/ROUND9_NOTES.md demands: daily
    * appends accumulate one small file per drop, and at toy scale the
    * probe's cost growth IS the file-count overhead (listing + footer
    * reads + one task per file). Content-preserving by construction
    * (read → repartition → [[swapIn]]); batch done-markers ride the swap,
    * so replay skip/rollback decisions stay correct for the in-flight
    * batch. A missing dir is a no-op.
    *
    * `foldKeys` turns on SUM-BY-KEY folding for delta-shaped registries
    * (every non-key column is an additive delta whose per-key SUM is the
    * value — the driftHist/sourceCensus/packing-totals/dedupImpact
    * convention): instead of preserving rows verbatim (which leaves the
    * registry O(batches) rows forever — a minutes-cadence year is ~500k
    * delta rows per key), compaction folds them to one row per key.
    * Read semantics are unchanged because every consumer of a delta
    * registry sums by key anyway. Exactly-once is unchanged too: compact
    * only ever sees COMMITTED rows (it runs after the batch's claim,
    * single-writer per dir), and replay skip rests on the carried
    * `_b*.done` markers, not on the folded rows — the compactEveryBatch
    * crash rows pin exactly that window (a lost marker would re-append a
    * batch whose rows are already folded in: double-count). */
  def compact(spark: SparkSession, dir: String, numFiles: Int = CompactFiles,
              foldKeys: Seq[String] = Nil,
              sortKeys: Seq[String] = Nil): Unit = {
    val fs = fsFor(spark, dir)
    recover(fs, dir)
    if (!fs.exists(new Path(dir))) return
    val data = spark.read.parquet(dir)
    val folded =
      if (foldKeys.isEmpty) data
      else {
        val deltas = data.columns.toSeq.filterNot(foldKeys.contains)
        require(deltas.nonEmpty, s"compact fold: $dir has only key columns")
        data.groupBy(foldKeys.map(col): _*)
          .agg(sum(col(deltas.head)).as(deltas.head),
            deltas.tail.map(c => sum(col(c)).as(c)): _*)
          .select(data.columns.map(col).toSeq: _*) // original column order
      }
    // sortKeys lays the compacted registry out RANGE-PARTITIONED and
    // sorted by the key (content registries probed by point lookups, e.g.
    // the dedupImpact fingerprint registry): each parquet row group then
    // covers a narrow key range, so at deployment scale a probe's pushed
    // key predicates skip most row groups via min/max stats instead of
    // scanning the whole registry.
    swapIn(fs, dir,
      if (sortKeys.isEmpty) folded.repartition(numFiles)
      else folded.repartitionByRange(numFiles, sortKeys.map(col): _*)
        .sortWithinPartitions(sortKeys.map(col): _*))
  }

  /** Rewrite `dir` in place with `df` — for state that is rewritten, not
    * appended (a cluster merge relabels old rows). `df` may read `dir`
    * itself: it is written out in full before the live dir moves. */
  def replace(dir: String, df: DataFrame): Unit = {
    val fs = fsFor(df.sparkSession, dir)
    recover(fs, dir)
    swapIn(fs, dir, df)
  }

  /** The one rewrite step: write `content` to the temp, carry the live
    * dir's metadata into it, rename the live dir aside, rename the temp
    * in, delete the aside. Callers [[recover]] first, so no stale aside
    * is in the way. */
  private def swapIn(fs: FileSystem, dir: String, content: DataFrame): Unit = {
    val live = new Path(dir)
    val tmp = new Path(dir + Temp)
    val aside = new Path(dir + Aside)
    fs.delete(tmp, true)
    content.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(live)) {
      carryMetadata(fs, live, tmp)
      if (!fs.rename(live, aside))
        throw new java.io.IOException(s"swap: aside $live -> $aside failed")
    }
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"swap: rename $tmp -> $live failed")
    fs.delete(aside, true)
    ()
  }

  /** Copy every underscore-prefixed regular file except `_SUCCESS` —
    * done-markers, `_nplanes`, any later registry metadata — from `from`
    * into `to`: the metadata a swap or a segment seal must not lose (a
    * lost marker would make a replay of the in-flight batch re-append
    * rows the rewrite already holds; a lost `_nplanes` pin would let a
    * mismatched restart slip past [[EmbStreams.checkNPlanes]]). `to`
    * keeps its own `_SUCCESS`, the temp's commit mark. */
  private[streaming] def carryMetadata(fs: FileSystem, from: Path, to: Path): Unit =
    fs.listStatus(from).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith("_") && n != "_SUCCESS") {
        FileUtil.copy(fs, st.getPath, fs, new Path(to, n), false, fs.getConf); ()
      }
    }

  /** Crash recovery for the swap: if the live dir is missing, restore it
    * from a COMMITTED temp (`_SUCCESS`; the crash hit between the two
    * renames — same content, fewer files) or else from the aside; stale
    * leftovers beside an intact live dir are cleared. Idempotent. */
  private def recover(fs: FileSystem, dir: String): Unit = {
    val live = new Path(dir)
    val tmp = new Path(dir + Temp)
    val aside = new Path(dir + Aside)
    if (!fs.exists(live)) {
      // a partially-written temp is never promoted
      if (fs.exists(new Path(tmp, "_SUCCESS")) && fs.rename(tmp, live)) ()
      else if (fs.exists(aside) && !fs.rename(aside, live))
        throw new java.io.IOException(s"swap recovery $aside -> $dir failed")
    }
    // live intact → leftovers are stale
    if (fs.exists(live)) { fs.delete(tmp, true); fs.delete(aside, true); () }
  }

  /** [[recover]] `dir` — for readers of a sink dir that neither
    * [[rollback]] nor [[readOr]] (a rolled sink's segments, per-cell
    * partition dirs). */
  def recover(spark: SparkSession, dir: String): Unit =
    recover(fsFor(spark, dir), dir)

  /** The sink dirs under `root` by their live names: a child caught
    * mid-swap (only its temp or aside left) is listed under the name
    * [[recover]] restores; append staging dirs are left out. Sorted. */
  private[streaming] def sinkNames(fs: FileSystem, root: Path): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).iterator
      .filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.contains(StagingTag))
      .map(_.stripSuffix(Aside).stripSuffix(Temp))
      .toSeq.distinct.sorted
}

/** Test seam: a hook invoked between a streaming twin's write steps so a
  * crash-recovery spec can kill the batch at every window. No-op in
  * production (the default). The second argument is a directory unique
  * to the run (a sink/registry dir), so a spec arming the global hook
  * kills only ITS OWN streams — suites run in parallel in one JVM. */
private[graft] object Failpoints {
  @volatile var hook: (String, String) => Unit = (_, _) => ()
  def hit(label: String, dir: String): Unit = hook(label, dir)
}
