package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.BucketPairs
import graft.multimodal.Multimodal

/** Multimodal-column queries. m01 is oracle-backed (byte-level metadata is
  * plain arithmetic both engines agree on). m02 runs the REAL ImageIO
  * codec end-to-end and is oracle-backed too: each document's byte length
  * seeds a deterministic pixel pattern that is PNG-encoded then DECODED
  * back through `javax.imageio`, and because PNG is lossless the decoded
  * integer channel sums must equal the closed-form sums DuckDB computes
  * without any image library. A wrong pixel anywhere in encode OR decode
  * breaks the hash match. */
object MultimodalQ {

  /** (doc_id, byte-length) seed pairs for the synthetic codec queries,
    * REPARTITIONED by doc_id before the heavy per-row decode: the
    * testdata parquet is a single row group, so its scan is ONE task and
    * codec work chained directly on it runs serially on one core. The
    * seed rows are 16 bytes each — shuffling them costs nothing — and
    * the decode then runs at full core parallelism. The partition count
    * must be EXPLICIT (`repartition(n, col)` → REPARTITION_BY_NUM):
    * `repartition(col)` leaves AQE free to coalesce the ~80 KB shuffle
    * back to one partition, serializing the decode again — partition
    * sizing by BYTES is exactly wrong for CPU-bound stages. The same
    * move applies at 100 TB whenever CPU-heavy per-row work sits on a
    * few-file or skewed input: repartition the tiny projection that
    * FEEDS the decode, never the decoded output. */
  private def docSeeds(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    import s.implicits._
    Tables.spread(
      Tables(s, dir).documents
        .select(col("doc_id"), length(col("text").cast("binary")).as("n")),
      "doc_id")
      .as[(Long, Long)]
  }

  /** The image dHash surface: one 24-bit dHash row per synthetic
    * document image. Shared by [[imagePhash]] (m06), [[imageNearDup]]
    * (m12) and [[imageDrift]] (m16) — same single-source convention as
    * [[videoFrameHashes]] (docs/ROUND10_NOTES.md) — so a derivation change can never
    * make one consumer see a different hash distribution than the
    * others pair, cluster, or histogram on. */
  private[graft] def imageHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docSeeds(s, dir).mapPartitions(_.flatMap { case (id, n) =>
      val w = (n % 13).toInt + 4
      val h = ((n / 13) % 11).toInt + 4
      Multimodal.CompressedImage.dhash(id,
        Multimodal.CompressedImage.renderPattern(n, w, h))
    }).toDF()
  }

  /** Binary payload metadata: byte length, checksum, pseudo format tag. */
  def binaryMeta(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.attachPayload(Tables(s, dir).documents, "doc_id", "text")
    payloads.select(
      col("doc_id"),
      length(col("payload")).as("n_bytes"),
      md5(col("payload")).as("checksum"),
      element_at(typedLit(Seq("jpeg", "png", "wav")),
        (length(col("payload")) % 3 + 1).cast("int")).as("fmt"),
      // Spark base64 is MIME (CRLF every 76 chars); strip to RFC4648 basic
      regexp_replace(base64(col("payload")), "\r\n", "").as("b64"))
  }

  /** Real image decode: synth pattern → PNG bytes → `javax.imageio`
    * decode → exact integer channel sums. The PNG bytes stand in for
    * stored media payloads; dimensions derive from the document's byte
    * length so every row exercises a different shape. */
  def imageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeded = docSeeds(s, dir)
    val decoded = seeded.mapPartitions(_.flatMap { case (id, n) =>
      val w = (n % 13).toInt + 4
      val h = ((n / 13) % 11).toInt + 4
      val png = Multimodal.CompressedImage.renderPattern(n, w, h)
      Multimodal.CompressedImage.decode(id, png)
    })
    decoded.toDF().select("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Real compressed-audio decode: synth G.711 WAV → `javax.sound`
    * ULAW/ALAW expansion → exact integer PCM stats. Alternating docs carry
    * µ-law and A-law payloads; sample counts derive from the document's
    * byte length so every row exercises a different stream shape. G.711
    * expansion is an exact 256-entry integer mapping (AudioCodecSpec pins
    * the JDK converters to the published formulas), so the oracle replays
    * the same expansion in SQL without any audio library. */
  def audioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeded = docSeeds(s, dir)
    val decoded = seeded.mapPartitions(_.flatMap { case (id, n) =>
      val ns = (n % 50).toInt + 20
      val wav = Multimodal.CompressedAudio.renderG711Wav(
        n, ns, 8000, aLaw = n % 2 == 1)
      Multimodal.CompressedAudio.decode(id, wav)
    })
    decoded.toDF().select("doc_id", "encoding", "sample_rate", "n_samples",
      "sum_pcm", "min_pcm", "max_pcm")
  }

  /** Real image RESIZE: synth pattern → PNG → `javax.imageio` decode →
    * 4×4 box-average feature patch, all integer (floor means). The
    * resize/feature-extract stage of a multimodal pipeline, exact against
    * a SQL oracle because PNG is lossless and the means are floors. */
  def imageResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeded = docSeeds(s, dir)
    val tiles = seeded.mapPartitions(_.flatMap { case (id, n) =>
      val w = (n % 13).toInt + 4
      val h = ((n / 13) % 11).toInt + 4
      val png = Multimodal.CompressedImage.renderPattern(n, w, h)
      Multimodal.CompressedImage.decodeTiles(id, png, grid = 4)
    })
    tiles.toDF().select("doc_id", "tile_y", "tile_x", "n_px", "r", "g", "b")
  }

  /** Perceptual image dedup: decode → 24-bit dHash over the 4×4 luma
    * grid → exact-hash clusters (cluster id = min doc_id sharing the
    * hash — one window, no pair join; the hamming-tolerant variant is
    * [[graft.dedup.SimHash.hammingNearDuplicates]] on the same column,
    * exercised in MultimodalSpec). The image-side twin of d03/d07. */
  def imagePhash(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    imageHashes(s, dir)
      .withColumn("cluster_id",
        min(col("doc_id")).over(Window.partitionBy(col("dhash"))))
      .select("doc_id", "width", "height", "dhash", "cluster_id")
  }


  /** Image perceptual drift (m16) — the visual-modality row of the
    * drift family (d39 surface stats, e17 semantic cells, d40 tokenizer
    * budget): old-crawl vs new-drop occupancy of 16 fixed dHash-residue
    * buckets per source, Laplace-smoothed PSI via the shared
    * [[graft.ops.Drift]]. Catches a shift in what the images LOOK like
    * (photos giving way to screenshots, renders, charts) that no text
    * statistic sees — the alarm a multimodal mixture planner reads next
    * to d39 before trusting m06's dedup rates or d38's weights forward.
    * Scale shape: the decode+dHash pass is m06's measured-linear scan;
    * the histogram is a (source × 16)-bucket groupBy with map-side
    * partials; the doc_id join is two skinny projections of the same
    * table (co-partitionable at 100 TB); PSI windows run over
    * ≤ sources × 16 rows. Bucket = dhash % 16 — a FIXED B = 16 bin
    * space (the smoothing constant), deliberately coarse so every
    * bucket is populated enough for PSI to be stable at small sources. */
  def imageDrift(s: SparkSession, dir: String): DataFrame = {
    val src = Tables(s, dir).documents.select(col("doc_id"), col("source"))
    val h = imageHashes(s, dir).select("doc_id", "dhash")
      .join(src, Seq("doc_id"))
      .groupBy(col("source"), pmod(col("dhash"), lit(16L)).as("hash_bin"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("n_new"))
    graft.ops.Drift.psi(h, Seq("source"), bins = 16)
      .select("source", "hash_bin", "n_old", "n_new", "psi_term", "psi_total")
  }

  /** Audio fingerprint dedup: G.711 decode → 15-bit energy-profile
    * fingerprint (frame-to-frame energy rises over 16 equal slices of
    * the exactly-expanded PCM) → exact-fingerprint clusters. The audio
    * twin of m06; oracle-exact because G.711 expansion is a fixed
    * integer mapping the SQL replays formula-for-formula. */
  def audioFingerprint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val seeded = docSeeds(s, dir)
    val fps = seeded.mapPartitions(_.flatMap { case (id, n) =>
      val ns = (n % 50).toInt + 20
      val wav = Multimodal.CompressedAudio.renderG711Wav(
        n, ns, 8000, aLaw = n % 2 == 1)
      Multimodal.CompressedAudio.fingerprint(id, wav)
    })
    fps.toDF()
      .withColumn("cluster_id",
        min(col("doc_id")).over(Window.partitionBy(col("fingerprint"))))
      .select("doc_id", "encoding", "n_samples", "fingerprint", "cluster_id")
  }

  /** Second real compressed-audio codec: IMA ADPCM (4 bits/sample, 4:1) —
    * our own decoder (no JDK service provider exists), an integer
    * step-table state machine the oracle replays exactly with a
    * RECURSIVE CTE carrying (predictor, step index) per document. */
  def adpcmDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeded = docSeeds(s, dir)
    val decoded = seeded.mapPartitions(_.flatMap { case (id, n) =>
      val ns = (n % 50).toInt + 20
      val wav = Multimodal.ImaAdpcm.renderWav(n, ns, 8000)
      Multimodal.ImaAdpcm.decode(id, wav)
    })
    decoded.toDF().select("doc_id", "encoding", "sample_rate", "n_samples",
      "sum_pcm", "min_pcm", "max_pcm")
  }

  /** REAL video decode: deterministic Motion-PNG AVI per document
    * (frame count / dimensions derived from the byte length, frame f's
    * pixels from the m02 closed form at seed `n + 131*f`) → RIFF container
    * walk → per-frame `javax.imageio` decode → exact per-frame channel
    * sums. The genuine video path (container + frame codec both real);
    * only inter-frame codecs (H.264/MP3) remain behind [[Multimodal.DecodeStub]]. */
  def videoDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeded = docSeeds(s, dir)
    val frames = seeded.mapPartitions(_.flatMap { case (id, n) =>
      val w = (n % 13).toInt + 4
      val h = ((n / 13) % 11).toInt + 4
      val nf = (n % 5).toInt + 2
      val avi = Multimodal.MjpegAvi.renderAvi(n, nf, w, h)
      Multimodal.MjpegAvi.decode(id, avi)
    })
    frames.toDF().select("doc_id", "frame_idx", "width", "height",
      "sum_r", "sum_g", "sum_b")
  }

  /** Per-(doc, frame_idx) REAL-decode dHashes over the synthetic AVI
    * corpus (container walk + ImageIO + dHash per frame) — the
    * feature-extract stage shared by m11's set-level and m14's
    * sequence-level video dedup. */
  private[graft] def videoFrameHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docSeeds(s, dir).mapPartitions(_.flatMap { case (id, n) =>
      val w = (n % 13).toInt + 4
      val h = ((n / 13) % 11).toInt + 4
      val nf = (n % 5).toInt + 2
      Multimodal.MjpegAvi.frameHashes(id,
        Multimodal.MjpegAvi.renderAvi(n, nf, w, h))
    }).toDF()
  }

  /** REAL perceptual video dedup — the m09 shape at perceptual
    * resolution over genuinely decoded frames: each document's AVI is
    * container-walked, every frame ImageIO-decoded and dHashed
    * ([[Multimodal.MjpegAvi.frameHashes]]); a frame is SHARED when its
    * 24-bit dHash appears in more than one video (the re-used intro /
    * card / template detector, robust to re-encoding where m09's byte
    * checksums are not). Per video: frame count, shared count, shared
    * fraction. Distinct-doc counts per hash via aggregation, never an
    * O(docs) window set; no pair join — linear in total frames (measured
    * sf0.1→sf1 exponent 0.48, docs/SCALE.md). The
    * hamming-tolerant pair variant is
    * [[graft.dedup.SimHash.hammingNearDuplicates]] (bits = 24) on the
    * same hash column, exercised in MultimodalSpec. */
  def videoPhash(s: SparkSession, dir: String): DataFrame = {
    // cache: the per-hash doc count and the join-back both read the frame
    // hash table; uncached, the AVI render+decode seam ran twice (r15
    // plan audit). One small row per frame.
    val frames = videoFrameHashes(s, dir).cache()
    val docsPerHash = frames.select("dhash", "doc_id").distinct()
      .groupBy("dhash").agg(count(lit(1)).as("__docs"))
    frames.join(docsPerHash, Seq("dhash"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("__docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_frames").cast("double"), 9))
  }

  /** Sequence-level pair generation from a per-frame hash table: shingle
    * each video's ORDERED dHash stream into consecutive triples (two
    * `lead`s over one doc-partitioned window — no self-join to build the
    * shingles), dedup triples per video, join videos on the triple VALUE,
    * count distinct shared triples per pair. Never all-pairs: the join
    * key is the triple, so cost is Σ|triple bucket|² — a re-used
    * intro/credits sequence costs its bucket, not the corpus (cap hot
    * triples exactly like [[graft.dedup.MinHashLsh]]'s band buckets at
    * real scale). Shared by m14 and the clip-fixture spec. */
  private[graft] def clipPairs(hashes: DataFrame,
                               maxBucket: Option[Int] = None): DataFrame = {
    // hot-triple cap (the 100 TB dial, same shape as MinHashLsh's band
    // buckets): a black-card / station-ident triple carried by n videos
    // emits n² pairs — at cap, drop the bucket (recall only drops for
    // pairs whose EVERY shared triple is ubiquitous, i.e. pure boilerplate)
    val tri = BucketPairs.cap(frameTriples(hashes), TripleKeys, maxBucket)
      // cache: the triple self-join consumes this table on both sides —
      // uncached, the whole AVI render+decode+window chain ran twice and
      // the planner even BROADCAST one full copy (r15 plan audit: no
      // ReusedExchange fires across a BHJ probe side). A few triples per
      // video: tiny.
      .cache()
    BucketPairs.selfPairs(tri, TripleKeys, "doc_id")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** A triple bucket: videos meet in a pair join only on an equal triple. */
  private[graft] val TripleKeys = Seq("d0", "d1", "d2")

  /** Each video's distinct consecutive dHash triples (doc_id, d0, d1, d2)
    * from a per-frame hash table: two `lead`s over one doc-partitioned
    * window, no self-join to build the shingles. Shared by [[clipPairs]]
    * and its streaming twin [[graft.streaming.DocStreams.videoClipStream]]. */
  private[graft] def frameTriples(hashes: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    hashes
      .withColumn("d1", lead(col("dhash"), 1).over(w))
      .withColumn("d2", lead(col("dhash"), 2).over(w))
      .filter(col("d2").isNotNull)
      .select(col("doc_id"), col("dhash").as("d0"), col("d1"), col("d2"))
      .distinct()
  }

  /** TEMPORAL video near-dup (m14): videos sharing runs of consecutive
    * identical frames — the clip / re-cut / shared-intro detector. m11
    * asks "do these videos share frames AT ALL" (set semantics, order
    * blind); THIS asks "do they share SEQUENCES" (a 3-frame shingle over
    * the ordered per-frame dHash stream — d04's n-gram idea lifted from
    * word streams to frame streams). Frame hashes come from the same
    * genuine decode seam as m10/m11; MultimodalSpec proves the semantics
    * on real clipped AVIs (a video cut from another's exact frames
    * matches here, while frame-set overlap alone cannot localize the
    * run). Output: (id_a, id_b, n_shared) distinct shared triples.
    *
    * The registered query runs the CAPPED path (d04's convention): the
    * hot-triple cap is live so the production shape is what's benched,
    * sized not to bind on the oracle corpus (largest sf0.1 bucket is 708
    * docs, docs/ROUND10_NOTES.md), so the oracle is unchanged. At real scale the cap
    * is the dial that bounds a ubiquitous triple (black card, station
    * ident) to cap² pairs instead of corpus². Measured sf0.1→sf1
    * exponent 0.86 (docs/SCALE.md). */
  val HotTripleCap = 1024

  def videoClipDedup(s: SparkSession, dir: String): DataFrame =
    clipPairs(videoFrameHashes(s, dir), maxBucket = Some(HotTripleCap))

  /** Hamming-tolerant perceptual image near-dup — the banded chunk join
    * ([[graft.dedup.SimHash.hammingNearDuplicates]], bits = 24 so only
    * the dHash's populated bits band) as an ORACLE-BACKED query: pairs of
    * images whose 24-bit dHashes differ in 1..2 bits. m06 clusters
    * exact-equal hashes linearly (hamming-0 pairs would be quadratic in
    * cluster size for zero information, so they are excluded here); THIS
    * catches the re-encoded/brightness-shifted copies a bit apart.
    * Never all-pairs: candidates come from the
    * 4-chunk pigeonhole join (complete for hamming <= 2 < 4 chunks);
    * production adds the hot-chunk cap, documented at the callee.
    * The sf1 rehearsal measured this query's pre-cap exponent at 2.02
    * (one hash value carried 57% of the corpus — 41.6 s at sf1); the
    * per-value representative cap cut it to 0.09 / 0.79 s with CC
    * connectivity provably unchanged (docs/SCALE.md). */
  def imageNearDup(s: SparkSession, dir: String): DataFrame = {
    val hashes = imageHashes(s, dir)
    // exact-equal hashes are m06's clusters (one window, linear); this
    // query is the 1..2-bit NEIGHBOR surface, so the grouped variant —
    // banding over distinct hash VALUES, expanding hits to doc pairs —
    // applies: perceptual hashes collapse hard over near-dup corpora.
    // maxValueDocs = 8: pair only each value's 8 earliest members — the
    // sf1 rehearsal measured exponent 2.0 without it (one value carries
    // 57% of the corpus; the member×member fan-out IS the output). CC
    // connectivity over (m12 pairs ∪ m06 clusters) is unchanged
    // (MultimodalSpec's cap-connectivity test proves it): non-
    // representatives reach their
    // cross-value neighbors through their cluster's representatives.
    graft.dedup.SimHash.hammingNearDuplicatesGrouped(hashes, "doc_id", "dhash",
      maxDist = 2, chunks = 4, bits = 24, maxValueDocs = Some(8))
  }

  /** Audio-fingerprint near-dup pairs (m13) — m12's shape on the 15-bit
    * energy-profile fingerprint, closing the hamming-pair triangle
    * (text d07, image m12, audio m13) with full oracles: pairs of docs
    * whose fingerprints differ in 1..2 bits (re-encoded / slightly
    * re-leveled audio; hamming-0 stays m07's linear cluster surface).
    * Grouped banding over distinct values (bits = 15 so only populated
    * bits band); the oracle's chunk table is GENERATED from the same
    * [[graft.dedup.SimHash.chunkExprs]] values the Spark path bands
    * with — one source, no drift. */
  def audioNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeded = docSeeds(s, dir)
    val fps = seeded.mapPartitions(_.flatMap { case (id, n) =>
      val ns = (n % 50).toInt + 20
      val wav = Multimodal.CompressedAudio.renderG711Wav(
        n, ns, 8000, aLaw = n % 2 == 1)
      Multimodal.CompressedAudio.fingerprint(id, wav)
    }).toDF()
    // maxValueDocs = 8: m12's representative cap — the 15-bit fingerprint
    // space collapses the same way the 24-bit dHash does, just later in
    // the growth curve; same connectivity argument (m07's equal-value
    // clusters are the linear surface)
    graft.dedup.SimHash.hammingNearDuplicatesGrouped(fps, "doc_id", "fingerprint",
      maxDist = 2, chunks = 4, bits = 15, maxValueDocs = Some(8))
  }

  /** Video frame sampling through the ONE frame source
    * ([[Multimodal.videoFrames]]): real AVI payloads yield their actual
    * container-walked frame chunks (the m10/m11 decode seam), anything
    * else rides the stub byte-slice arm (pure binary-substring column
    * ops, no UDF — the only remaining stub, for codecs whose libraries
    * are genuinely absent). The synthetic corpus's payloads are stub
    * text-bytes, so the oracle replays the slicing arithmetic; the AVI
    * arm is oracle-free here but spec-pinned against
    * [[Multimodal.MjpegAvi]] on real AVI fixtures (MultimodalSpec). */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.attachPayload(Tables(s, dir).documents, "doc_id", "text")
    Multimodal.videoFrames(payloads, s, frameBytes = 32, stride = 3)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).as("n_bytes"), md5(col("frame")).as("frame_md5"))
  }

  /** Interleaved multimodal sequence packing (m15) — q47's pack step for
    * a corpus whose documents carry sampled frames: each document becomes
    * the item run [frame_0 … frame_{n-1}, text, pad?], frames charged a
    * fixed `imgTok` tokens each, text its exact BPE-ish count, and the
    * per-source token stream is chunked into `capacity`-token packs.
    *
    * Text may split across pack boundaries (standard packed-sequence
    * training); an IMAGE must land whole inside one pack. That constraint
    * is met closed-form, not with a sequential scan: frames go FIRST in
    * each document, every document's cost is padded up to a multiple of
    * `imgTok` (the explicit 'pad' item), and each pack holds
    * `usable = floor(capacity / imgTok) * imgTok` content tokens (the
    * whole capacity when imgTok divides it — the default — otherwise the
    * physical tail is reserved pad) — so every document start, hence
    * every image start, is imgTok-aligned, and an imgTok-wide item at an
    * imgTok-aligned offset can never straddle a pack boundary, for ANY
    * (imgTok, capacity) pair. The whole packing stays two
    * windows + one join: no greedy stateful fold, no mapPartitions, and
    * the same plan shape at 100 TB (the per-source running sum is the
    * one inherently sequential step, shared with q47; sources are the
    * parallelism unit, as in any per-stream tokenizer shard).
    *
    * Frame counts ride the ONE frame source ([[Multimodal.videoFrames]])
    * — a real AVI row is charged its true container-walked frame count —
    * but only the (doc_id, count) aggregate leaves that stage; frame
    * bytes never shuffle. Output: one row per item (image/text/pad) with
    * its exact token charge, stream offset, and pack id. */
  def interleavedPacking(s: SparkSession, dir: String,
                         imgTok: Int = 64, capacity: Int = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val perDoc = packingCosts(s, Tables(s, dir).documents, imgTok)
      .withColumn("doc_start", coalesce(sum(col("doc_cost_pad")).over(w), lit(0L)))
    packItems(perDoc, imgTok, capacity)
  }

  /** m15's per-document cost stage, shared with the streaming twin
    * ([[graft.streaming.DocStreams.packingStream]] offsets these costs by
    * a stored per-source total instead of the corpus window): exact BPE
    * token count + true container-walked frame count, padded up to the
    * imgTok slot. Only (doc_id, count) leaves the frame stage. */
  private[graft] def packingCosts(s: SparkSession, docs: DataFrame,
                                  imgTok: Int): DataFrame = {
    val payloads = Multimodal.attachPayload(docs, "doc_id", "text")
    val nFrames = Multimodal.videoFrames(payloads, s, frameBytes = 32, stride = 3)
      .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
    docs
      .select(col("doc_id"), col("source"),
        graft.text.TextMetrics.bpeTokenCount(col("text")).cast("long").as("text_tok"))
      .join(nFrames, Seq("doc_id"))
      .withColumn("doc_cost", col("text_tok") + col("n_frames") * imgTok)
      .withColumn("doc_cost_pad",
        expr(s"((doc_cost + ${imgTok - 1}) div $imgTok) * $imgTok"))
  }

  /** m15's item-explode stage over a cost table that already carries
    * `doc_start` (however derived — corpus window or stored totals). One
    * array-of-item-structs per document, exploded ONCE — a union of
    * three per-modality branches would re-derive the whole
    * scan→frame-count→join→window subtree per branch (3x the work; the
    * toy plan showed exactly that before this shape). */
  private[graft] def packItems(perDoc: DataFrame, imgTok: Int,
                               capacity: Int): DataFrame = {
    // non-divisor generalization: pack content into the largest imgTok-
    // multiple that fits the physical capacity and RESERVE the remaining
    // (capacity mod imgTok) tail of every physical pack as padding. All
    // offsets below are CONTENT-stream positions (gapless, what the
    // loader consumes); physical position = (off div usable) * capacity
    // + (off mod usable). Chunk boundaries land on imgTok multiples of
    // the content stream, so the no-straddle law holds for ANY (imgTok,
    // capacity) with zero sequential state — the closed form survives.
    // When imgTok | capacity, usable == capacity and this is the
    // original layout bit-for-bit (m15's oracle pins that case).
    val usable = (capacity / imgTok) * imgTok
    require(usable > 0, s"capacity $capacity cannot fit one $imgTok-token image slot")
    def item(idx: org.apache.spark.sql.Column, mod: String,
             tok: org.apache.spark.sql.Column,
             off: org.apache.spark.sql.Column) =
      struct(idx.cast("int").as("item_idx"), lit(mod).as("modality"),
        tok.cast("long").as("n_tok"), off.cast("long").as("offset_in_stream"))
    val pad = col("doc_cost_pad") - col("doc_cost")
    val items = concat(
      transform(sequence(lit(0), col("n_frames").cast("int") - 1),
        i => item(i, "image", lit(imgTok.toLong),
          col("doc_start") + i.cast("long") * imgTok)),
      array(item(col("n_frames"), "text", col("text_tok"),
        col("doc_start") + col("n_frames") * imgTok)),
      // empty when the doc needs no padding: slice(_, 1, 0) = []
      slice(array(item(col("n_frames") + 1, "pad", pad,
          col("doc_start") + col("doc_cost"))),
        lit(1), when(pad > 0, 1).otherwise(0)))
    perDoc.select(col("doc_id"), col("source"), explode(items).as("item"))
      .select(col("doc_id"), col("source"), col("item.item_idx"),
        col("item.modality"), col("item.n_tok"), col("item.offset_in_stream"))
      .withColumn("chunk_id", expr(s"offset_in_stream div $usable"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m15_interleaved_packing" -> ((s, d) => interleavedPacking(s, d)),
    "m01_binary_meta" -> (binaryMeta _),
    "m02_image_decode" -> (imageDecode _),
    "m03_audio_decode" -> (audioDecode _),
    "m04_frame_sample" -> (frameSample _),
    "m05_image_resize" -> (imageResize _),
    "m06_image_phash" -> (imagePhash _),
    "m07_audio_fingerprint" -> (audioFingerprint _),
    "m08_adpcm_decode" -> (adpcmDecode _),
    "m09_frame_dedup" -> (frameDedup _),
    "m10_video_decode" -> (videoDecode _),
    "m11_video_phash" -> (videoPhash _),
    "m12_image_neardup" -> (imageNearDup _),
    "m13_audio_neardup" -> (audioNearDup _),
    "m14_video_clip_dedup" -> (videoClipDedup _),
    "m16_image_drift" -> (imageDrift _))

  /** Video frame-level dedup — the frame-granularity analog of d13's
    * segment dedup, over m04's sampled-frame table: a frame is SHARED
    * when its checksum appears in more than one document (the repeated
    * intro/outro/card detector of a video-corpus pipeline). Per doc:
    * frame count, shared-frame count, shared fraction. One frame-keyed
    * window (count of distinct docs per checksum) + one doc aggregation
    * — no pair join, linear in total frames (measured sf0.1→sf1
    * exponent 0.31, docs/SCALE.md). */
  def frameDedup(s: SparkSession, dir: String): DataFrame = {
    val payloads = Multimodal.attachPayload(Tables(s, dir).documents, "doc_id", "text")
    // cache: the per-frame doc count and the join-back both read this
    // table; uncached, the frame-slicing decode seam ran twice
    val frames = Multimodal.videoFrames(payloads, s, frameBytes = 32, stride = 3)
      .select(col("doc_id"), md5(col("frame")).as("frame_md5"))
      .cache()
    // distinct-doc count per frame via aggregation, NOT a window
    // collect_set — a hot frame (black card, standard intro) would hold
    // an O(docs) set in window state; the agg's partial combine keeps it
    // a counter
    val docsPerFrame = frames.select("frame_md5", "doc_id").distinct()
      .groupBy("frame_md5").agg(count(lit(1)).as("__docs"))
    frames.join(docsPerFrame, Seq("frame_md5"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("__docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_frames").cast("double"), 9))
  }

  /** m08's oracle: the IMA ADPCM state machine as a RECURSIVE CTE. Row i
    * of `dec` holds the state AFTER producing sample i (sample 0 = the
    * block header's predictor, 0); the recursive member consumes nibble i
    * (low nibble of data byte i/2, byte k = (5k+n) mod 256) and produces
    * sample i+1. The step-size table is interpolated from
    * [[Multimodal.ImaAdpcm.stepTable]] so both engines walk one array. */
  private def adpcmOracle: String = {
    val stepValues = Multimodal.ImaAdpcm.stepTable.zipWithIndex
      .map { case (st, i) => s"($i,$st)" }.mkString(", ")
    s"""WITH RECURSIVE dims AS (
       |  SELECT doc_id, octet_length(encode(text)) AS n,
       |         (octet_length(encode(text)) % 50) + 20 AS ns
       |  FROM documents),
       |steps(sidx, st) AS (VALUES $stepValues),
       |dec AS (
       |  SELECT doc_id, ns, n, 0 AS i, 0 AS pred, 0 AS sidx,
       |         CAST(0 AS BIGINT) AS sum_pcm, 0 AS mn, 0 AS mx
       |  FROM dims
       |  UNION ALL
       |  SELECT doc_id, ns, n, i + 1, np AS pred, nsi AS sidx,
       |         sum_pcm + np, LEAST(mn, np), GREATEST(mx, np)
       |  FROM (
       |    SELECT q0.*,
       |           GREATEST(-32768, LEAST(32767,
       |             CASE WHEN (code & 8) <> 0 THEN pred - diff
       |                  ELSE pred + diff END)) AS np,
       |           GREATEST(0, LEAST(88, sidx +
       |             CASE code & 7 WHEN 4 THEN 2 WHEN 5 THEN 4
       |                  WHEN 6 THEN 6 WHEN 7 THEN 8 ELSE -1 END)) AS nsi
       |    FROM (
       |      SELECT q.*,
       |             (st >> 3)
       |           + CASE WHEN (code & 4) <> 0 THEN st ELSE 0 END
       |           + CASE WHEN (code & 2) <> 0 THEN st >> 1 ELSE 0 END
       |           + CASE WHEN (code & 1) <> 0 THEN st >> 2 ELSE 0 END AS diff
       |      FROM (
       |        SELECT dec.doc_id, dec.ns, dec.n, dec.i, dec.pred, dec.sidx,
       |               dec.sum_pcm, dec.mn, dec.mx, steps.st,
       |               CASE WHEN dec.i % 2 = 0
       |                    THEN ((5 * (dec.i // 2) + dec.n) % 256) & 15
       |                    ELSE (((5 * (dec.i // 2) + dec.n) % 256) >> 4) & 15
       |               END AS code
       |        FROM dec JOIN steps ON steps.sidx = dec.sidx
       |        WHERE dec.i < dec.ns - 1) AS q) AS q0) AS q1)
       |SELECT doc_id, 'ima_adpcm' AS encoding, 8000 AS sample_rate,
       |       CAST(ns AS BIGINT) AS n_samples, sum_pcm,
       |       CAST(mn AS INT) AS min_pcm, CAST(mx AS INT) AS max_pcm
       |FROM dec WHERE i = ns - 1""".stripMargin
  }

  /** Shared per-frame dHash derivation for the video oracles (m11/m14):
    * the m02 closed-form pixels lifted per frame (seed n + 131·f, what
    * renderAvi encodes losslessly), 4×4 box cells, horizontal+vertical
    * gradient bits — one source so set-level and sequence-level video
    * dedup agree on the hash by construction. Yields
    * `hashes(doc_id, f, dhash)`. */
  private val videoHashCtes: String =
    """dims AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n,
      |         (octet_length(encode(text)) % 13) + 4 AS w,
      |         ((octet_length(encode(text)) // 13) % 11) + 4 AS h,
      |         (octet_length(encode(text)) % 5) + 2 AS nf
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, f, (y * 4) // h AS ty, (x * 4) // w AS tx,
      |         299 * ((3 * x + 7 * y + n + 131 * f) % 256)
      |       + 587 * ((3 * x + 7 * y + 11 + n + 131 * f) % 256)
      |       + 114 * ((3 * x + 7 * y + 22 + n + 131 * f) % 256) AS lum
      |  FROM dims,
      |       UNNEST(generate_series(0, nf - 1)) AS uf(f),
      |       UNNEST(generate_series(0, w - 1)) AS ux(x),
      |       UNNEST(generate_series(0, h - 1)) AS uy(y)),
      |cells AS (
      |  SELECT doc_id, f, ty, tx, SUM(lum) // count(*) AS c
      |  FROM px GROUP BY 1, 2, 3, 4),
      |hbits AS (
      |  SELECT a.doc_id, a.f,
      |         SUM(CASE WHEN b.c > a.c
      |             THEN CAST(1 AS BIGINT) << CAST(a.ty * 3 + a.tx AS INT)
      |             ELSE 0 END) AS hb
      |  FROM cells a
      |  JOIN cells b ON b.doc_id = a.doc_id AND b.f = a.f
      |               AND b.ty = a.ty AND b.tx = a.tx + 1
      |  GROUP BY 1, 2),
      |vbits AS (
      |  SELECT a.doc_id, a.f,
      |         SUM(CASE WHEN b.c > a.c
      |             THEN CAST(1 AS BIGINT) << CAST(12 + a.tx * 3 + a.ty AS INT)
      |             ELSE 0 END) AS vb
      |  FROM cells a
      |  JOIN cells b ON b.doc_id = a.doc_id AND b.f = a.f
      |               AND b.tx = a.tx AND b.ty = a.ty + 1
      |  GROUP BY 1, 2),
      |hashes AS MATERIALIZED (
      |  SELECT doc_id, f, CAST(hb + vb AS BIGINT) AS dhash
      |  FROM hbits JOIN vbits USING (doc_id, f))""".stripMargin

  val oracles: Map[String, String] = Map(
    // m15: the stub frame-count arithmetic (m04's slicing law: one frame
    // per 96 payload bytes), the q47 BPE-ish token regex, then the same
    // pad-to-64 / running-offset / div-2048 integer packing — windows and
    // floor division only, so both engines agree cell-exactly
    "m15_interleaved_packing" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         greatest((octet_length(encode(text)) - 1) // 96, 0) + 1 AS n_frames,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS text_tok
        |  FROM documents),
        |c AS (
        |  SELECT *, text_tok + n_frames * 64 AS doc_cost,
        |         ((text_tok + n_frames * 64 + 63) // 64) * 64 AS doc_cost_pad
        |  FROM d),
        |o AS (
        |  SELECT *, COALESCE(SUM(doc_cost_pad) OVER (PARTITION BY source ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS doc_start
        |  FROM c),
        |items AS (
        |  SELECT doc_id, source, CAST(i AS INT) AS item_idx, 'image' AS modality,
        |         CAST(64 AS BIGINT) AS n_tok, doc_start + i * 64 AS offset_in_stream
        |  FROM o, UNNEST(generate_series(0, CAST(n_frames - 1 AS INT))) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, source, CAST(n_frames AS INT), 'text',
        |         text_tok, doc_start + n_frames * 64
        |  FROM o
        |  UNION ALL
        |  SELECT doc_id, source, CAST(n_frames + 1 AS INT), 'pad',
        |         CAST(doc_cost_pad - doc_cost AS BIGINT), doc_start + doc_cost
        |  FROM o WHERE doc_cost_pad > doc_cost)
        |SELECT doc_id, source, item_idx, modality, n_tok,
        |       CAST(offset_in_stream AS BIGINT) AS offset_in_stream,
        |       CAST(offset_in_stream // 2048 AS BIGINT) AS chunk_id
        |FROM items""".stripMargin,
    "m08_adpcm_decode" -> adpcmOracle,
    // m09 replays m04's frame slicing (ASCII corpus: char slice == byte
    // slice), then distinct-doc counts per checksum and per-doc rollup
    "m09_frame_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS len
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, md5(substr(text, CAST(i * 96 + 1 AS INT), 32)) AS frame_md5
        |  FROM p, UNNEST(generate_series(0, greatest((len - 1) // 96, 0))) AS u(i)),
        |dc AS (
        |  SELECT frame_md5, count(DISTINCT doc_id) AS docs
        |  FROM fr GROUP BY 1)
        |SELECT fr.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(CASE WHEN dc.docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       round(CAST(SUM(CASE WHEN dc.docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 9) AS shared_frac
        |FROM fr JOIN dc USING (frame_md5)
        |GROUP BY 1""".stripMargin,
    "m01_binary_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       md5(text) AS checksum,
        |       (['jpeg', 'png', 'wav'])[octet_length(encode(text)) % 3 + 1] AS fmt,
        |       to_base64(encode(text)) AS b64
        |FROM documents""".stripMargin,
    // frame slicing replayed as blob-substring arithmetic: frame i is
    // bytes [i*96+1, i*96+32] (stride 3 of 32-byte frames), last frame
    // clamps — identical to Spark's binary substr semantics
    // DuckDB has no blob substring; the corpus is pure ASCII (verified in
    // the char inventory), so char slicing == byte slicing here
    "m04_frame_sample" ->
      """WITH p AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS len
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |       CAST(length(substr(text, CAST(i * 96 + 1 AS INT), 32)) AS INT) AS n_bytes,
        |       md5(substr(text, CAST(i * 96 + 1 AS INT), 32)) AS frame_md5
        |FROM p, UNNEST(generate_series(0, greatest((len - 1) // 96, 0))) AS u(i)""".stripMargin,
    // G.711 expansion replayed in SQL: stored byte -> linear PCM16 via the
    // published µ-law/A-law decode formulas (sign/exponent/mantissa unpack,
    // exact integer arithmetic — no audio library, no floats)
    "m03_audio_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         (octet_length(encode(text)) % 50) + 20 AS ns,
        |         octet_length(encode(text)) % 2 = 1 AS alaw
        |  FROM documents),
        |samples AS (
        |  SELECT doc_id, n, ns, alaw, (5 * x + n) % 256 AS b
        |  FROM dims, UNNEST(generate_series(0, ns - 1)) AS ux(x)),
        |pcm AS (
        |  SELECT doc_id, ns, alaw,
        |         CASE WHEN alaw THEN
        |           CASE WHEN (xor(b, 85) & 128) = 0 THEN -1 ELSE 1 END *
        |           CASE WHEN ((xor(b, 85) >> 4) & 7) = 0
        |                THEN ((xor(b, 85) & 15) << 4) + 8
        |                ELSE (((xor(b, 85) & 15) << 4) + 264) << (((xor(b, 85) >> 4) & 7) - 1) END
        |         ELSE
        |           CASE WHEN ((255 - b) & 128) <> 0 THEN -1 ELSE 1 END *
        |           ((((((255 - b) & 15) << 3) + 132) << (((255 - b) >> 4) & 7)) - 132)
        |         END AS s
        |  FROM samples)
        |SELECT doc_id,
        |       CASE WHEN alaw THEN 'alaw' ELSE 'ulaw' END AS encoding,
        |       8000 AS sample_rate,
        |       CAST(ns AS BIGINT) AS n_samples,
        |       CAST(SUM(s) AS BIGINT) AS sum_pcm,
        |       CAST(MIN(s) AS INT) AS min_pcm,
        |       CAST(MAX(s) AS INT) AS max_pcm
        |FROM pcm GROUP BY 1, 2, 3, 4""".stripMargin,
    // the audio fingerprint replayed in SQL: m03's G.711 expansion CTE,
    // frame (x*16)//ns, per-frame abs-energy sums, adjacent-frame
    // comparison bits, cluster = min doc_id per identical fingerprint
    // m13: m07's fingerprint CTEs + the pigeonhole chunk join whose
    // (shift, mask) table is GENERATED from SimHash.chunkExprs(15, 4) —
    // the exact values the Spark path bands with; one source, no drift
    "m13_audio_neardup" -> {
      val chunkVals = graft.dedup.SimHash.chunkExprs(15, 4).zipWithIndex
        .map { case ((lo, mask), c) => s"($c, $lo, $mask)" }.mkString(", ")
      s"""WITH dims AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         (octet_length(encode(text)) % 50) + 20 AS ns,
        |         octet_length(encode(text)) % 2 = 1 AS alaw
        |  FROM documents),
        |samples AS (
        |  SELECT doc_id, ns, alaw, x, (5 * x + n) % 256 AS b
        |  FROM dims, UNNEST(generate_series(0, ns - 1)) AS ux(x)),
        |pcm AS (
        |  SELECT doc_id, ns, alaw, (x * 16) // ns AS frame,
        |         CASE WHEN alaw THEN
        |           CASE WHEN (xor(b, 85) & 128) = 0 THEN -1 ELSE 1 END *
        |           CASE WHEN ((xor(b, 85) >> 4) & 7) = 0
        |                THEN ((xor(b, 85) & 15) << 4) + 8
        |                ELSE (((xor(b, 85) & 15) << 4) + 264) << (((xor(b, 85) >> 4) & 7) - 1) END
        |         ELSE
        |           CASE WHEN ((255 - b) & 128) <> 0 THEN -1 ELSE 1 END *
        |           ((((((255 - b) & 15) << 3) + 132) << (((255 - b) >> 4) & 7)) - 132)
        |         END AS s
        |  FROM samples),
        |energies AS (
        |  SELECT doc_id, frame, SUM(ABS(s)) AS e
        |  FROM pcm GROUP BY 1, 2),
        |fps AS MATERIALIZED (
        |  SELECT a.doc_id, CAST(SUM(CASE WHEN b.e > a.e
        |             THEN CAST(1 AS BIGINT) << CAST(a.frame AS INT)
        |             ELSE 0 END) AS BIGINT) AS fp
        |  FROM energies a
        |  JOIN energies b ON b.doc_id = a.doc_id AND b.frame = a.frame + 1
        |  GROUP BY 1),
        |reps AS MATERIALIZED (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp,
        |           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM fps)
        |  WHERE rn <= 8),
        |chunkdef(c, lo, mask) AS (VALUES $chunkVals),
        |ch AS MATERIALIZED (
        |  SELECT doc_id, fp, c, (fp >> lo) & mask AS cv FROM reps, chunkdef),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.fp AS fa, b.fp AS fb
        |  FROM ch a JOIN ch b ON b.c = a.c AND b.cv = a.cv AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(fa, fb)) BETWEEN 1 AND 2""".stripMargin
    },
    "m07_audio_fingerprint" ->
      """WITH dims AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         (octet_length(encode(text)) % 50) + 20 AS ns,
        |         octet_length(encode(text)) % 2 = 1 AS alaw
        |  FROM documents),
        |samples AS (
        |  SELECT doc_id, ns, alaw, x, (5 * x + n) % 256 AS b
        |  FROM dims, UNNEST(generate_series(0, ns - 1)) AS ux(x)),
        |pcm AS (
        |  SELECT doc_id, ns, alaw, (x * 16) // ns AS frame,
        |         CASE WHEN alaw THEN
        |           CASE WHEN (xor(b, 85) & 128) = 0 THEN -1 ELSE 1 END *
        |           CASE WHEN ((xor(b, 85) >> 4) & 7) = 0
        |                THEN ((xor(b, 85) & 15) << 4) + 8
        |                ELSE (((xor(b, 85) & 15) << 4) + 264) << (((xor(b, 85) >> 4) & 7) - 1) END
        |         ELSE
        |           CASE WHEN ((255 - b) & 128) <> 0 THEN -1 ELSE 1 END *
        |           ((((((255 - b) & 15) << 3) + 132) << (((255 - b) >> 4) & 7)) - 132)
        |         END AS s
        |  FROM samples),
        |energies AS (
        |  SELECT doc_id, frame, SUM(ABS(s)) AS e
        |  FROM pcm GROUP BY 1, 2),
        |fps AS (
        |  SELECT a.doc_id,
        |         SUM(CASE WHEN b.e > a.e
        |             THEN CAST(1 AS BIGINT) << CAST(a.frame AS INT)
        |             ELSE 0 END) AS fp
        |  FROM energies a
        |  JOIN energies b ON b.doc_id = a.doc_id AND b.frame = a.frame + 1
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       CASE WHEN d.alaw THEN 'alaw' ELSE 'ulaw' END AS encoding,
        |       CAST(d.ns AS BIGINT) AS n_samples,
        |       CAST(fp AS BIGINT) AS fingerprint,
        |       MIN(d.doc_id) OVER (PARTITION BY fp) AS cluster_id
        |FROM dims d JOIN fps USING (doc_id)""".stripMargin,
    // the resize replayed without any image library: closed-form pattern
    // pixels, tile (x*4)//w, floor-mean per channel — integer-exact
    "m05_image_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         (octet_length(encode(text)) % 13) + 4 AS w,
        |         ((octet_length(encode(text)) // 13) % 11) + 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |         CAST((y * 4) // h AS INT) AS tile_y,
        |         CAST((x * 4) // w AS INT) AS tile_x,
        |         (3 * x + 7 * y + n) % 256 AS r,
        |         (3 * x + 7 * y + 11 + n) % 256 AS g,
        |         (3 * x + 7 * y + 22 + n) % 256 AS b
        |  FROM dims,
        |       UNNEST(generate_series(0, w - 1)) AS ux(x),
        |       UNNEST(generate_series(0, h - 1)) AS uy(y))
        |SELECT doc_id, tile_y, tile_x,
        |       CAST(count(*) AS BIGINT) AS n_px,
        |       CAST(SUM(r) // count(*) AS INT) AS r,
        |       CAST(SUM(g) // count(*) AS INT) AS g,
        |       CAST(SUM(b) // count(*) AS INT) AS b
        |FROM px GROUP BY 1, 2, 3""".stripMargin,
    // dHash replayed in SQL: scaled-integer luma (299r+587g+114b, no
    // division), 4×4 floor-mean cells, horizontal bits y*3+x then
    // vertical 12+x*3+y (adjacent-cell joins), cluster = min doc_id per
    // identical hash
    "m06_image_phash" ->
      """WITH dims AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         (octet_length(encode(text)) % 13) + 4 AS w,
        |         ((octet_length(encode(text)) // 13) % 11) + 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, (y * 4) // h AS ty, (x * 4) // w AS tx,
        |         299 * ((3 * x + 7 * y + n) % 256)
        |       + 587 * ((3 * x + 7 * y + 11 + n) % 256)
        |       + 114 * ((3 * x + 7 * y + 22 + n) % 256) AS lum
        |  FROM dims,
        |       UNNEST(generate_series(0, w - 1)) AS ux(x),
        |       UNNEST(generate_series(0, h - 1)) AS uy(y)),
        |cells AS (
        |  SELECT doc_id, ty, tx, SUM(lum) // count(*) AS c
        |  FROM px GROUP BY 1, 2, 3),
        |hbits AS (
        |  SELECT a.doc_id,
        |         SUM(CASE WHEN b.c > a.c
        |             THEN CAST(1 AS BIGINT) << CAST(a.ty * 3 + a.tx AS INT)
        |             ELSE 0 END) AS hb
        |  FROM cells a
        |  JOIN cells b ON b.doc_id = a.doc_id AND b.ty = a.ty AND b.tx = a.tx + 1
        |  GROUP BY 1),
        |vbits AS (
        |  SELECT a.doc_id,
        |         SUM(CASE WHEN b.c > a.c
        |             THEN CAST(1 AS BIGINT) << CAST(12 + a.tx * 3 + a.ty AS INT)
        |             ELSE 0 END) AS vb
        |  FROM cells a
        |  JOIN cells b ON b.doc_id = a.doc_id AND b.tx = a.tx AND b.ty = a.ty + 1
        |  GROUP BY 1),
        |hashes AS (
        |  SELECT d.doc_id, d.w, d.h, CAST(hb + vb AS BIGINT) AS dhash
        |  FROM dims d
        |  JOIN hbits USING (doc_id)
        |  JOIN vbits USING (doc_id))
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       dhash, MIN(doc_id) OVER (PARTITION BY dhash) AS cluster_id
        |FROM hashes""".stripMargin,
    // m12: m06's dHash replay + the pigeonhole chunk join in SQL — 24
    // bits banded as 4 chunks of 6, candidates from chunk equality,
    // hamming via bit_count(xor)
    "m12_image_neardup" ->
      """WITH dims AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         (octet_length(encode(text)) % 13) + 4 AS w,
        |         ((octet_length(encode(text)) // 13) % 11) + 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, (y * 4) // h AS ty, (x * 4) // w AS tx,
        |         299 * ((3 * x + 7 * y + n) % 256)
        |       + 587 * ((3 * x + 7 * y + 11 + n) % 256)
        |       + 114 * ((3 * x + 7 * y + 22 + n) % 256) AS lum
        |  FROM dims,
        |       UNNEST(generate_series(0, w - 1)) AS ux(x),
        |       UNNEST(generate_series(0, h - 1)) AS uy(y)),
        |cells AS (
        |  SELECT doc_id, ty, tx, SUM(lum) // count(*) AS c
        |  FROM px GROUP BY 1, 2, 3),
        |hbits AS (
        |  SELECT a.doc_id,
        |         SUM(CASE WHEN b.c > a.c
        |             THEN CAST(1 AS BIGINT) << CAST(a.ty * 3 + a.tx AS INT)
        |             ELSE 0 END) AS hb
        |  FROM cells a
        |  JOIN cells b ON b.doc_id = a.doc_id AND b.ty = a.ty AND b.tx = a.tx + 1
        |  GROUP BY 1),
        |vbits AS (
        |  SELECT a.doc_id,
        |         SUM(CASE WHEN b.c > a.c
        |             THEN CAST(1 AS BIGINT) << CAST(12 + a.tx * 3 + a.ty AS INT)
        |             ELSE 0 END) AS vb
        |  FROM cells a
        |  JOIN cells b ON b.doc_id = a.doc_id AND b.tx = a.tx AND b.ty = a.ty + 1
        |  GROUP BY 1),
        |hashes AS MATERIALIZED (
        |  SELECT h.doc_id, CAST(hb + vb AS BIGINT) AS dhash
        |  FROM hbits h JOIN vbits USING (doc_id)),
        |reps AS MATERIALIZED (
        |  SELECT doc_id, dhash FROM (
        |    SELECT doc_id, dhash,
        |           row_number() OVER (PARTITION BY dhash ORDER BY doc_id) AS rn
        |    FROM hashes)
        |  WHERE rn <= 8),
        |chunks AS MATERIALIZED (
        |  SELECT doc_id, dhash, c, (dhash >> (c * 6)) & 63 AS cv
        |  FROM reps, UNNEST(generate_series(0, 3)) AS uc(c)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.dhash AS ha, b.dhash AS hb
        |  FROM chunks a
        |  JOIN chunks b ON b.c = a.c AND b.cv = a.cv AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(ha, hb)) BETWEEN 1 AND 2""".stripMargin,
    // m11: m06's per-image dHash replay lifted per FRAME (seed n+131f),
    // then the m09 shared-frame rollup keyed on the perceptual hash
    "m11_video_phash" ->
      s"""WITH $videoHashCtes,
        |counts AS (
        |  SELECT dhash, COUNT(DISTINCT doc_id) AS docs FROM hashes GROUP BY 1)
        |SELECT h.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(CASE WHEN c.docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       round(CAST(SUM(CASE WHEN c.docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 9) AS shared_frac
        |FROM hashes h JOIN counts c USING (dhash)
        |GROUP BY 1""".stripMargin,
    // m14: the same per-frame dHash CTEs, shingled into consecutive
    // triples per video — the sequence-level contract, one source with
    // m11's hash derivation so the two video-dedup semantics cannot
    // drift. The hot-triple cap is replayed exactly (whole-bucket drop at
    // > HotTripleCap docs — order-free, so plain HAVING): non-binding at
    // sf0.1, binding at sf1, identical rows either way
    "m14_video_clip_dedup" ->
      s"""WITH $videoHashCtes,
        |tri0 AS (
        |  SELECT DISTINCT a.doc_id, a.dhash AS d0, b.dhash AS d1, c.dhash AS d2
        |  FROM hashes a
        |  JOIN hashes b ON b.doc_id = a.doc_id AND b.f = a.f + 1
        |  JOIN hashes c ON c.doc_id = a.doc_id AND c.f = a.f + 2),
        |keep AS (
        |  SELECT d0, d1, d2 FROM tri0 GROUP BY 1, 2, 3
        |  HAVING COUNT(*) <= $HotTripleCap),
        |tri AS (
        |  SELECT tri0.* FROM tri0 JOIN keep USING (d0, d1, d2))
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM tri x JOIN tri y
        |  ON x.d0 = y.d0 AND x.d1 = y.d1 AND x.d2 = y.d2
        | AND x.doc_id < y.doc_id
        |GROUP BY 1, 2""".stripMargin,
    // m10: the m02 closed form lifted one level — per FRAME, with frame
    // f's seed shifted by 131*f (what renderAvi encodes losslessly)
    "m10_video_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         (octet_length(encode(text)) % 13) + 4 AS w,
        |         ((octet_length(encode(text)) // 13) % 11) + 4 AS h,
        |         (octet_length(encode(text)) % 5) + 2 AS nf
        |  FROM documents)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(SUM((3 * x + 7 * y + n + 131 * f) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((3 * x + 7 * y + 11 + n + 131 * f) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((3 * x + 7 * y + 22 + n + 131 * f) % 256) AS BIGINT) AS sum_b
        |FROM dims,
        |     UNNEST(generate_series(0, nf - 1)) AS uf(f),
        |     UNNEST(generate_series(0, w - 1)) AS ux(x),
        |     UNNEST(generate_series(0, h - 1)) AS uy(y)
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    "m02_image_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         (octet_length(encode(text)) % 13) + 4 AS w,
        |         ((octet_length(encode(text)) // 13) % 11) + 4 AS h
        |  FROM documents)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(SUM((3 * x + 7 * y + n) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((3 * x + 7 * y + 11 + n) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((3 * x + 7 * y + 22 + n) % 256) AS BIGINT) AS sum_b
        |FROM dims,
        |     UNNEST(generate_series(0, w - 1)) AS ux(x),
        |     UNNEST(generate_series(0, h - 1)) AS uy(y)
        |GROUP BY 1, 2, 3""".stripMargin,
    // m16: m06's dHash replay bucketed mod 16, per-source even/odd
    // histograms, then d39's PSI SQL with B = 16
    "m16_image_drift" ->
      """WITH dims AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         (octet_length(encode(text)) % 13) + 4 AS w,
        |         ((octet_length(encode(text)) // 13) % 11) + 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, (y * 4) // h AS ty, (x * 4) // w AS tx,
        |         299 * ((3 * x + 7 * y + n) % 256)
        |       + 587 * ((3 * x + 7 * y + 11 + n) % 256)
        |       + 114 * ((3 * x + 7 * y + 22 + n) % 256) AS lum
        |  FROM dims,
        |       UNNEST(generate_series(0, w - 1)) AS ux(x),
        |       UNNEST(generate_series(0, h - 1)) AS uy(y)),
        |cells AS (
        |  SELECT doc_id, ty, tx, SUM(lum) // count(*) AS c
        |  FROM px GROUP BY 1, 2, 3),
        |hbits AS (
        |  SELECT a.doc_id,
        |         SUM(CASE WHEN b.c > a.c
        |             THEN CAST(1 AS BIGINT) << CAST(a.ty * 3 + a.tx AS INT)
        |             ELSE 0 END) AS hb
        |  FROM cells a
        |  JOIN cells b ON b.doc_id = a.doc_id AND b.ty = a.ty AND b.tx = a.tx + 1
        |  GROUP BY 1),
        |vbits AS (
        |  SELECT a.doc_id,
        |         SUM(CASE WHEN b.c > a.c
        |             THEN CAST(1 AS BIGINT) << CAST(12 + a.tx * 3 + a.ty AS INT)
        |             ELSE 0 END) AS vb
        |  FROM cells a
        |  JOIN cells b ON b.doc_id = a.doc_id AND b.tx = a.tx AND b.ty = a.ty + 1
        |  GROUP BY 1),
        |hashes AS (
        |  SELECT d.doc_id, CAST(hb + vb AS BIGINT) AS dhash
        |  FROM dims d
        |  JOIN hbits USING (doc_id)
        |  JOIN vbits USING (doc_id)),
        |h AS (
        |  SELECT s.source, ha.dhash % 16 AS hash_bin,
        |         CAST(sum(CASE WHEN ha.doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |         CAST(sum(CASE WHEN ha.doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM hashes ha JOIN documents s USING (doc_id)
        |  GROUP BY 1, 2),
        |g AS (
        |  SELECT source, hash_bin, n_old, n_new,
        |         CAST(sum(n_old) OVER (PARTITION BY source) AS BIGINT) AS n_o,
        |         CAST(sum(n_new) OVER (PARTITION BY source) AS BIGINT) AS n_n
        |  FROM h),
        |t AS (
        |  SELECT source, hash_bin, n_old, n_new,
        |         round((CAST(n_new + 1 AS DOUBLE) / CAST(n_n + 16 AS DOUBLE)
        |              - CAST(n_old + 1 AS DOUBLE) / CAST(n_o + 16 AS DOUBLE))
        |               * ln(CAST(n_new + 1 AS DOUBLE) * CAST(n_o + 16 AS DOUBLE)
        |                  / (CAST(n_old + 1 AS DOUBLE) * CAST(n_n + 16 AS DOUBLE))), 6) + 0.0
        |           AS psi_term
        |  FROM g)
        |SELECT source, hash_bin, n_old, n_new, psi_term,
        |       CAST(sum(CAST(psi_term AS DECIMAL(18,6))) OVER (PARTITION BY source)
        |            AS DOUBLE) AS psi_total
        |FROM t""".stripMargin)
}
