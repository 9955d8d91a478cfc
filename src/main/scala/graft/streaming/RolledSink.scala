package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import BatchCommit.{fsFor, visibleParquet}

/** Segment-rolled layout for append-only CONTENT sinks — the shape whose
  * compaction cost is independent of stream age.
  *
  * A flat sink dir under [[BatchCommit.maybeCompact]] rewrites its WHOLE
  * accumulated content every ~compactAfterFiles drops: O(history) per
  * fire, so amortized per-drop maintenance grows linearly with stream
  * age (the r13 soak's mt-adjusted cellLabel trend, ≈1.35 over 100
  * drops; delta registries escape this because sum-folding keeps them
  * O(keys), but labels and packed items are output ROWS — nothing
  * folds). Rolling the sink bounds the rewrite unit:
  *
  *   root/seg-00000/   sealed — immutable, never rewritten again
  *   root/seg-00001/   sealed
  *   root/seg-00002/   OPEN — appends, compaction, marker pruning
  *
  * Each segment is a plain [[BatchCommit]] sink dir, so the exactly-once
  * replay protocol and its swap healing apply unchanged WITHIN the open
  * segment. When the open segment's visible bytes exceed the roll
  * threshold it is sealed: one final compaction, then the next segment
  * dir is staged beside it with the live segment's metadata (its
  * done-markers) carried in by [[BatchCommit.carryMetadata]] and
  * published by a single rename — the commit point of the roll. The
  * marker carry is load-bearing: replay consults the CURRENT open
  * segment, and a committed batch whose marker stayed behind in a sealed
  * segment would re-append its rows into the new one. A crash anywhere
  * in the seal window leaves either the old open segment intact (staging
  * dirs are swept at the next entry) or the new segment committed;
  * segment names come from [[BatchCommit.sinkNames]], so a segment
  * mid-compaction-swap is still found and recovered rather than shadowed
  * by a freshly created sibling.
  *
  * At deployment scale the analogue is date/size-partitioned table
  * segments (or a table format's partition spec); readers union the
  * segment dirs — [[read]]/[[readOr]].
  */
object RolledSink {

  val SegPrefix = "seg-"

  /** Default seal threshold: one compaction rewrites at most this many
    * bytes, whatever the stream's age. */
  val DefaultRollBytes: Long = 256L * 1024 * 1024

  private def segName(idx: Int): String = f"$SegPrefix$idx%05d"

  /** Committed segment names under `root` (a segment whose live dir
    * vanished mid-swap is still a segment), seal stagings excluded.
    * Sorted ascending; the last is the open segment. */
  private def segNames(fs: FileSystem, root: Path): Seq[String] =
    BatchCommit.sinkNames(fs, root)
      .filter(n => n.startsWith(SegPrefix) && !n.contains(".tmp-"))

  private def visibleBytes(fs: FileSystem, seg: Path): Long =
    if (!fs.exists(seg)) 0L
    else fs.listStatus(seg).iterator.filter(visibleParquet).map(_.getLen).sum

  /** Entry-time maintenance for a rolled sink, returning the open
    * segment dir this batch's writes go to. Order matters:
    *  1. sweep stale seal stagings (a crashed roll's leftovers);
    *  2. find/create the open segment and [[BatchCommit.rollback]] this
    *     batch in it (which heals a crashed compaction swap first) — a
    *     crashed partial append is always in the CURRENT open segment
    *     (rolls happen here, before any append, so a replayed batch
    *     cannot have partial files in a segment sealed since);
    *  3. roll if the open segment is over `rollBytes`: final compaction
    *     (skipped when the segment is already compact), then stage the
    *     next segment with the live metadata carried in and publish it by
    *     rename. The rollback MUST precede the roll — sealing first
    *     would fold a crashed batch's partial files into an immutable
    *     segment. */
  def prepare(spark: SparkSession, rootDir: String, batchId: Long,
              rollBytes: Long = DefaultRollBytes): String = {
    val root = new Path(rootDir)
    val fs = fsFor(spark, rootDir)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(SegPrefix) &&
          st.getPath.getName.contains(".tmp-")) {
        fs.delete(st.getPath, true); ()
      }
    }
    val names = segNames(fs, root)
    val openName = names.lastOption.getOrElse {
      fs.mkdirs(new Path(root, segName(0))); segName(0)
    }
    val open = new Path(root, openName)
    BatchCommit.rollback(spark, open.toString, batchId)
    if (visibleBytes(fs, open) <= rollBytes) open.toString
    else {
      BatchCommit.maybeCompact(spark, open.toString, BatchCommit.CompactFiles)
      val nextIdx = openName.stripPrefix(SegPrefix).toInt + 1
      val next = new Path(root, segName(nextIdx))
      val staging = new Path(root,
        segName(nextIdx) + ".tmp-" +
          java.util.UUID.randomUUID().toString.take(8))
      fs.mkdirs(staging)
      // carry the LIVE done-markers (pruneMarkers keeps the newest two)
      // into the segment replay will consult
      BatchCommit.carryMetadata(fs, open, staging)
      if (!fs.rename(staging, next)) {
        fs.delete(staging, true)
        throw new java.io.IOException(
          s"rolled sink: sealing $open failed to publish $next")
      }
      next.toString
    }
  }

  /** All committed segment dirs currently holding visible data, healed
    * first — what a reader unions. */
  def dataPaths(spark: SparkSession, rootDir: String): Seq[String] = {
    val root = new Path(rootDir)
    val fs = fsFor(spark, rootDir)
    segNames(fs, root).map { n =>
      val seg = new Path(root, n)
      BatchCommit.recover(spark, seg.toString)
      seg
    }.filter(seg => fs.exists(seg) &&
        fs.listStatus(seg).exists(visibleParquet))
      .map(_.toString)
  }

  /** Read the whole rolled sink (all segments). Fails like any parquet
    * read if no segment holds data — use [[readOr]] when the sink may
    * be empty. */
  def read(spark: SparkSession, rootDir: String): DataFrame =
    spark.read.parquet(dataPaths(spark, rootDir): _*)

  /** [[read]], or an empty frame of `schema` when no segment holds data. */
  def readOr(spark: SparkSession, rootDir: String,
             schema: StructType): DataFrame = {
    val paths = dataPaths(spark, rootDir)
    if (paths.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else spark.read.parquet(paths: _*)
  }
}
