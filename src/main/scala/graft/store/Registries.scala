package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Durable dedup/similarity registries — the stored state an incremental
  * curation deployment keeps between crawls (the reference's stance for
  * its pipeline queue: durable DB state, not per-query derivation —
  * pipelineadaptor.py:523–683).
  *
  * Each registry is materialized as parquet once per (JVM, source dir)
  * and re-read, exactly like [[graft.meta.MetadataStar]]'s hot star
  * tables: consumers get column-pruned parquet scans of the STORED
  * artifact, so the steady-state queries (d26b/e07b/q57b) bench the
  * probe cost — what a daily increment actually pays — not the one-off
  * registry build. At 100 TB each registry is an append-only bucketed
  * table (banding/bucket key for the sketch registries, shingle hash for
  * the n-gram registry); here the build step stands in for history.
  *
  * The split convention matches the incremental queries: even doc/vec ids
  * are "history" (in the registry), odd ids are "today's batch".
  *
  * These are the batch-built registries. The streaming twins keep their
  * own registries in sink dirs whose layout, compaction and crash healing
  * belong to [[graft.streaming.BatchCommit]].
  */
object Registries {

  /** Durable cross-JVM registry cache root. The registries are the
    * DURABLE state of an incremental deployment, so rebuilding them from
    * scratch in every JVM (the pre-r13 behavior: a fresh temp dir per
    * process) taxed every bench/rehearsal/probe run ~9 min of setup at
    * sf10 for state that had not changed. Entries are content-keyed
    * ([[contentKey]]) and committed atomically ([[materializedDir]]), so
    * a second JVM's `materialize` is read-only reuse.
    * `GRAFT_REGISTRY_CACHE` overrides the location (e.g. a per-test
    * scratch dir); the default lives under the build's target/ so it is
    * never committed and dies with a clean. */
  private lazy val cacheRoot: String = {
    // the "graft_registry" path component is load-bearing: the stored-
    // registry plan gates recognize a registry scan by it. An override
    // root without it (GRAFT_REGISTRY_CACHE=/tmp/regcache) would
    // silently break those gates, so the component is APPENDED under
    // any override that doesn't already carry it, never trusted to the
    // operator's naming.
    val base = sys.env.getOrElse("GRAFT_REGISTRY_CACHE",
      new java.io.File("target/graft_registry_cache").getAbsolutePath)
    val root =
      if (new java.io.File(base).getName.contains("graft_registry")) base
      else base + "/graft_registry"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    root
  }
  private val written = scala.collection.mutable.Set.empty[String]
  private val dirKeys = scala.collection.mutable.Map.empty[String, String]

  /** Cache key for a source dir: sanitized path tail (legibility) + a
    * SHA-256 over the raw path AND the dir's recursive file listing
    * (relative name, length, mtime). Path alone is not enough once the
    * cache outlives the JVM — a regenerated fixture at the same path
    * must MISS, not silently serve registries of the old data; the
    * listing digest makes the key follow the content. Computed once per
    * (JVM, dir) — within a process the first-materialization-wins
    * semantics are unchanged from the temp-dir era. Non-walkable dirs
    * (remote FS) fall back to path-only keying; a deployment on object
    * storage would key on the table format's snapshot id instead. */
  private def contentKey(dir: String): String = dirKeys.synchronized {
    dirKeys.getOrElseUpdate(dir, {
      // Listing lines are built FULLY before touching the digest, so any
      // walk failure (unreadable subdir, file deleted mid-walk by a
      // concurrent JVM, remote path) degrades to the documented
      // path-only key instead of a half-digested one that no other JVM
      // would ever reproduce. Each line also carries a 16-byte content
      // sample from the file's midpoint: name+size+mtime alone would
      // serve stale registries for a fixture regenerated with preserved
      // timestamps (cp -p, tar), and the sample makes that case miss.
      val listing: Seq[String] =
        try {
          val base = java.nio.file.Paths.get(dir)
          if (!java.nio.file.Files.isDirectory(base)) Nil
          else {
            val walk = java.nio.file.Files.walk(base)
            try {
              import scala.jdk.CollectionConverters._
              walk.iterator().asScala
                .filter(java.nio.file.Files.isRegularFile(_))
                .map { p =>
                  val size = java.nio.file.Files.size(p)
                  val sample = {
                    val ch = java.nio.channels.FileChannel.open(p,
                      java.nio.file.StandardOpenOption.READ)
                    try {
                      val buf = java.nio.ByteBuffer.allocate(16)
                      ch.read(buf, size / 2)
                      buf.array().take(buf.position())
                        .map("%02x".format(_)).mkString
                    } finally ch.close()
                  }
                  s"${base.relativize(p)}:$size:" +
                    s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}:" +
                    sample
                }
                .toSeq.sorted
            } finally walk.close()
          }
        } catch { case scala.util.control.NonFatal(_) => Nil }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      listing.foreach(s => md.update(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      val digest = md.digest().map("%02x".format(_)).mkString
      // keep the component under the 255-byte filename limit: the digest
      // carries uniqueness, the sanitized tail carries legibility
      dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(120) + "-" + digest
    })
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }

  @volatile private var sweptDeadEntries = false

  /** Garbage-collect the durable cache: entries whose recorded source
    * dir no longer exists (each entry carries a `_source` sidecar; test
    * fixtures in temp dirs die with their JVMs, their registries should
    * not outlive them), and crashed staging dirs older than a day (no
    * live build runs that long; a younger staging may belong to a
    * concurrent JVM and is left alone). Runs once per JVM from
    * [[materializedDir]]; only local absolute source paths are reaped —
    * a non-walkable path is never evidence of death. */
  private[graft] def reapDeadEntries(): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(cacheRoot)
    if (!java.nio.file.Files.isDirectory(root)) return
    val dayAgo = System.currentTimeMillis() - 24L * 3600 * 1000
    val ls = java.nio.file.Files.list(root)
    try ls.iterator().asScala.toSeq.foreach { entry =>
      val src = entry.resolve("_source")
      val dead = java.nio.file.Files.isRegularFile(src) && {
        val p = new String(java.nio.file.Files.readAllBytes(src),
          java.nio.charset.StandardCharsets.UTF_8).trim
        p.startsWith("/") &&
          !java.nio.file.Files.exists(java.nio.file.Paths.get(p))
      }
      if (dead) deleteRecursively(entry)
      else if (java.nio.file.Files.isDirectory(entry)) {
        val sub = java.nio.file.Files.list(entry)
        try sub.iterator().asScala.toSeq
          .filter(d => d.getFileName.toString.contains(".staging-") &&
            java.nio.file.Files.getLastModifiedTime(d).toMillis < dayAgo)
          .foreach(deleteRecursively)
        finally sub.close()
      }
    } finally ls.close()
    enforceCacheCap(cacheCapBytes)
  }

  /** Size cap on the durable cache (bytes). Live fixtures at four scales
    * accumulate entries indefinitely (the sf30 registry set alone is a
    * ~20-min build), so without a cap the cache grows without bound —
    * fine for a box-local target/ dir, not for anything shared. */
  private def cacheCapBytes: Long =
    sys.env.get("GRAFT_REGISTRY_CACHE_MAX_BYTES").map(_.toLong)
      .getOrElse(32L * 1024 * 1024 * 1024)

  /** Recency window inside which an entry is never evicted: a twin JVM
    * touches its entries' `_used` stamp on every materialize call, so an
    * entry this young is plausibly mid-run elsewhere. An eviction that
    * still races a long-quiet reader is recoverable — the loser rebuilds
    * through the same staging-rename machinery as any cold build. */
  private val EvictProtectMs = 60L * 60 * 1000

  private def usedStamp(entry: java.nio.file.Path): Long = {
    val used = entry.resolve("_used")
    try java.nio.file.Files.getLastModifiedTime(
      if (java.nio.file.Files.exists(used)) used else entry).toMillis
    catch { case scala.util.control.NonFatal(_) => 0L }
  }

  private def treeBytes(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(p)
    try walk.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => try java.nio.file.Files.size(f)
                catch { case scala.util.control.NonFatal(_) => 0L })
      .sum
    finally walk.close()
  }

  /** LRU eviction down to `maxBytes`: entries ordered by their `_used`
    * stamp (touched on every materialize — reuse keeps an entry warm),
    * oldest evicted first, recently-used entries protected outright.
    * Whole ENTRIES (all registries of one source dir) are the eviction
    * unit — a half-evicted entry would mix registry generations. */
  private[graft] def enforceCacheCap(maxBytes: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(cacheRoot)
    if (!java.nio.file.Files.isDirectory(root)) return
    val entries =
      try {
        val ls = java.nio.file.Files.list(root)
        try ls.iterator().asScala.toSeq
          .filter(java.nio.file.Files.isDirectory(_))
          .map(e => (e, treeBytes(e), usedStamp(e)))
        finally ls.close()
      } catch { case scala.util.control.NonFatal(_) => return }
    var total = entries.map(_._2).sum
    if (total <= maxBytes) return
    val now = System.currentTimeMillis()
    entries.sortBy(_._3).foreach { case (e, size, used) =>
      if (total > maxBytes && now - used > EvictProtectMs) {
        deleteRecursively(e)
        total -= size
      }
    }
  }

  /** Keep an entry's LRU stamp warm: called on EVERY materialize (reuse
    * included), so an entry in active use by any JVM reads recent. */
  private def touchUsed(entryDir: java.nio.file.Path): Unit =
    try {
      val used = entryDir.resolve("_used")
      if (java.nio.file.Files.exists(used)) {
        java.nio.file.Files.setLastModifiedTime(used,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
        ()
      } else if (java.nio.file.Files.isDirectory(entryDir)) {
        java.nio.file.Files.write(used, Array.empty[Byte]); ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Materialize `build` as parquet once per (cache, dir-content, name);
    * always returns the stored artifact's path. Commit protocol: the
    * build writes to a writer-private staging dir, then one atomic
    * rename publishes it — the final path either does not exist or is
    * COMPLETE, so the reuse check is bare existence and two JVMs racing
    * the same build resolve by rename atomicity (the loser discards its
    * staging and reads the winner's commit). A crashed build leaves only
    * an unreferenced staging dir, never a half-written registry. */
  private def materializedDir(dir: String, name: String)
                             (write: String => Unit): String = {
    if (!sweptDeadEntries) {
      sweptDeadEntries = true
      reapDeadEntries()
    }
    val path = s"$cacheRoot/${contentKey(dir)}/$name"
    written.synchronized {
      if (!written.contains(path)) {
        val target = java.nio.file.Paths.get(path)
        if (!java.nio.file.Files.exists(target)) {
          val staging = java.nio.file.Paths.get(
            path + ".staging-" + java.util.UUID.randomUUID().toString.take(8))
          write(staging.toString)
          java.nio.file.Files.createDirectories(target.getParent)
          val srcMark = target.getParent.resolve("_source")
          if (!java.nio.file.Files.exists(srcMark)) {
            java.nio.file.Files.write(srcMark,
              dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            ()
          }
          try {
            java.nio.file.Files.move(staging, target,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            ()
          } catch {
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.FileSystemException =>
              // concurrent builder committed first; its entry is complete
              deleteRecursively(staging)
          }
        }
        written += path
      }
    }
    touchUsed(java.nio.file.Paths.get(path).getParent)
    path
  }

  private def materialized(s: SparkSession, dir: String, name: String)
                          (build: => DataFrame): DataFrame =
    s.read.parquet(materializedDir(dir, name) { path =>
      build.write.mode("overwrite").parquet(path)
    })

  /** Stored MinHash signature table (even-id docs): what
    * [[graft.dedup.MinHashLsh.incrementalNearDupFromSig]] probes. The md5
    * hash source, so the d26b oracle replays it bit-for-bit. */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "minhash_sig") {
      graft.dedup.MinHashLsh.signaturesMd5(
        Tables(s, dir).documents.filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
    }

  /** Stored band INDEX over [[minhashSignatures]] — (doc_id, band,
    * band_sig), the durable banding the d26b probe joins so history is
    * never re-banded ([[graft.dedup.MinHashLsh.incrementalNearDupFromIndex]]).
    * literalKeys matches the oracle-backed md5 signature family. */
  def minhashBands(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "minhash_bands") {
      graft.dedup.MinHashLsh.bandIndex(
        minhashSignatures(s, dir), "doc_id", literalKeys = true)
    }

  /** Stored `(id, bucket)` LSH registry (even-id vectors, the e03 plane
    * family): what [[graft.similarity.Knn.incrementalBucketCandidates]]
    * probes. nPlanes must match the planes the new batch hashes with. */
  val EmbBucketPlanes = 6
  def embBuckets(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "emb_buckets") {
      graft.similarity.Knn.lshBuckets(
        Tables(s, dir).embeddings
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
          .filter(col("id") % 2 === 0),
        dim = 64, nPlanes = EmbBucketPlanes)
        .select(col("id"), col("bucket"))
    }

  /** Plane count for [[embBucketsAdaptive]]: the e18 law applied to the
    * HISTORY side — smallest p whose expected per-probe candidate load
    * nHist·(1 + p + C(p,2))/2^p stays under 512. Grows log-linearly with
    * the accumulated corpus, which is what keeps the e19 probe's
    * per-increment cost flat where [[EmbBucketPlanes]]'s fixed 64 buckets
    * grow n²/64 (the sf10 rehearsal measured the cliff). */
  private val histVecCounts = scala.collection.mutable.Map.empty[String, Long]

  def adaptiveEmbPlanes(s: SparkSession, dir: String): Int = {
    // the history count is frozen per (JVM, dir) like every other
    // registry decision — without the cache each adaptive-path call paid
    // a corpus count() BEFORE the materialization check, i.e. on reuse too
    val n = histVecCounts.synchronized {
      histVecCounts.getOrElseUpdate(dir,
        Tables(s, dir).embeddings.filter(col("vec_id") % 2 === 0).count())
    }
    graft.queries.SimilarityQ.adaptivePlanes(n)
  }

  /** The cache entry dir (all registries of one source dir) — exposed
    * for the cache-GC spec. */
  private[graft] def cacheEntryDir(dir: String): String =
    s"$cacheRoot/${contentKey(dir)}"

  /** The adaptive registry's committed cache path for `dir` at the
    * current plane law — exposed for the step-boundary spec, which
    * asserts rebuild-once and stale-sibling reaping against it. */
  private[graft] def embBucketsAdaptivePath(s: SparkSession, dir: String): String =
    s"$cacheRoot/${contentKey(dir)}/emb_buckets_adaptive_p${adaptiveEmbPlanes(s, dir)}"

  /** Stored `(id, bucket)` LSH registry at [[adaptiveEmbPlanes]] planes —
    * e19's probe target, the scale-true sibling of [[embBuckets]]. Same
    * plane family (prefix-stable seeded quantized hyperplanes), so the
    * DuckDB oracle replays any plane count from the shared 20-plane
    * matrix; the count itself is re-derived from the corpus by both
    * engines. History is hashed once at build; each increment appends
    * its own rows at the then-current plane count (a production deploy
    * re-hashes the registry only when the plane law steps, amortized
    * O(log) times over a corpus's life).
    *
    * The plane count is PART OF THE REGISTRY PATH (`..._p$p`): a probe
    * that hashes today's vectors at p can only ever read a registry built
    * at the same p, because both sides derive p from the same
    * [[adaptiveEmbPlanes]] law and the path keys on it. If the corpus
    * grows enough that the law steps p→p+1, the old-p registry is simply
    * not this path — the build fires again at p+1 (the amortized re-hash
    * above) instead of silently joining new-p hashes against old-p
    * signatures, which would break the hamming<=2 contract. */
  def embBucketsAdaptive(s: SparkSession, dir: String): DataFrame = {
    val p = adaptiveEmbPlanes(s, dir)
    val name = s"emb_buckets_adaptive_p$p"
    val path = materializedDir(dir, name) { stagingPath =>
      graft.similarity.Knn.lshBuckets(
        Tables(s, dir).embeddings
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
          .filter(col("id") % 2 === 0),
        dim = 64, nPlanes = p)
        .select(col("id"), col("bucket"))
        .write.mode("overwrite").parquet(stagingPath)
    }
    // the p-keyed path makes a stale-p join impossible, but once the
    // cache is durable a plane-law step would leave every superseded
    // emb_buckets_adaptive_p$N (and its crashed stagings) on disk
    // forever; reap siblings of other plane counts on each call. Safe
    // under concurrency: any live builder derives the SAME p from the
    // same corpus key, so a differently-suffixed sibling is never in use.
    val parent = java.nio.file.Paths.get(path).getParent
    if (java.nio.file.Files.isDirectory(parent)) {
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.list(parent)
      try ls.iterator().asScala.toSeq
        .filter { sib =>
          val n = sib.getFileName.toString
          n.startsWith("emb_buckets_adaptive") && n != name &&
            !n.startsWith(name + ".staging-")
        }
        .foreach(deleteRecursively)
      finally ls.close()
    }
    s.read.parquet(path)
  }

  /** Stored per-(source, 200-char bin) length histogram of the
    * accumulated crawl (even-id docs) — the frozen reference histogram
    * d39b's drift audit probes per drop, so history is never re-scanned:
    * a daily PSI read costs one scan of the DROP plus a ≤(sources × 25)-
    * row parquet read, regardless of how much history has accumulated.
    * The streaming twin ([[graft.streaming.DocStreams]]) maintains
    * exactly this table as append-only count deltas (sum by key = the
    * histogram). */
  def driftHistogram(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "drift_hist") {
      Tables(s, dir).documents.filter(col("doc_id") % 2 === 0)
        .groupBy(col("source"),
          least(expr("n_chars div 200"), lit(24L)).as("chars_bin"))
        .agg(count(lit(1)).as("n_old"))
    }

  /** Stored per-source corpus census — (source, n_chars_src, n_docs_src)
    * for the whole accumulated corpus, the ~20-row table every nightly
    * mixture re-plan (d38b) reads INSTEAD of a corpus scan: at 100 TB
    * the plan costs the same 20 rows it costs here. The streaming twin
    * ([[graft.streaming.DocStreams.sourceCensusStream]]) maintains it as
    * append-only deltas; consumers sum by key, so the stored single-row
    * and streamed delta-row layouts read identically. */
  def sourceCensus(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "source_census") {
      Tables(s, dir).documents.groupBy("source")
        .agg(sum(col("n_chars")).as("n_chars_src"),
          count(lit(1)).as("n_docs_src"))
    }

  /** Stored frozen cell model — the 8-row (cid, cq) centroid table of
    * e13's k-means cells ([[graft.queries.SimilarityQ.kmeansModel]]).
    * The model a production deployment trains once and serves for
    * months; persisting it is what lets a daily drop be assigned with a
    * broadcast argmax and NO access to the training vectors. */
  def kmeansCentroids(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "kmeans_cents") {
      graft.queries.SimilarityQ.kmeansModel(s, dir)
    }

  /** Stored (id, cell) labels of the accumulated (even-id) embedding
    * corpus under the frozen [[kmeansCentroids]] model — e17b's history
    * side: cell occupancy of history is a count over this table, never
    * a re-assignment of the vectors themselves. */
  def cellLabels(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "cell_labels") {
      graft.similarity.KMeansExact.assignIds(
        graft.similarity.KMeansExact.quantize(
          Tables(s, dir).embeddings
            .select(col("vec_id").as("id"), col("embedding").as("vec"))
            .filter(col("id") % 2 === 0)),
        kmeansCentroids(s, dir))
        .select(col("id"), col("cid").as("cell"))
    }

  /** Stored distinct 5-gram registry of the training corpus (q50/q57's
    * doc_id % 50 != 0 split): what the contamination audit probes per
    * eval drop, instead of re-shingling 98% of the corpus every run. The
    * streaming twin ([[graft.streaming.DocStreams]]) maintains exactly
    * this table incrementally. */
  def trainShingles(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "train_shingles5") {
      graft.dedup.Shingles.explodeShingles(
        Tables(s, dir).documents.filter(col("doc_id") % 50 =!= 0),
        "doc_id", "text", 5)
        .select("shingle").distinct()
    }

  /** Stored MinHash cluster labels over the accumulated (even-id)
    * corpus — the registry the d33 incremental cluster-maintenance step
    * updates: (doc_id, cluster_id) for every even doc in ≥ 1 even-even
    * MinHash pair, labels = min-id per component. A doc's signature (and
    * so every even-even pair) is corpus-independent, which is what makes
    * the stored labels composable with a new day's pairs. */
  def minhashClusters(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "minhash_clusters") {
      graft.ops.ConnectedComponents.clusters(
        graft.dedup.MinHashLsh.nearDuplicatesMd5(
          Tables(s, dir).documents.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", minEstJaccard = 0.5),
        "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
    }

  /** Stored SEMANTIC cluster labels over the accumulated (even-id)
    * embedding corpus — e12's registry: (vec_id, cluster_id) for every
    * even vector in ≥ 1 even-even exact-cosine pair (e02 semantics,
    * labels = min-id per component). Cosine between two vectors is
    * corpus-independent, so the stored labels compose with a new day's
    * pairs exactly like [[minhashClusters]] does for text. */
  def embClusters(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "emb_clusters") {
      val even = Tables(s, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .filter(col("id") % 2 === 0)
      graft.ops.ConnectedComponents.clusters(
        graft.similarity.Knn.nearDupPairs(even, minCos = 0.4), "id_a", "id_b")
        .withColumnRenamed("id", "vec_id")
    }

  /** Stored duplicate-cluster table — q48's (doc_id, cluster_id,
    * n_members) output materialized once, the artifact the dedup stage
    * of a production pipeline persists anyway. d31's soft-dedup weights
    * probe THIS instead of re-running pair generation + connected
    * components per consumer (q48 itself remains the benched
    * from-scratch build, the d26/d26b pairing). */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "dup_clusters") {
      graft.queries.PipelineQ.dupClusters(s, dir)
    }

  /** Stored IVF+PQ code lists, CELL-PARTITIONED parquet
    * ([[graft.similarity.IvfPq.writeCodes]], the e10 model parameters):
    * what [[graft.similarity.IvfPq.searchStored]] probes with a
    * partition-pruned read. Returns the table's directory. */
  def ivfPqCodesDir(s: SparkSession, dir: String): String =
    materializedDir(dir, "ivfpq_codes") { path =>
      val e = Tables(s, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = graft.similarity.IvfPq.seedCentroids(e, nCells = 8)
      val cb = graft.similarity.IvfPq.residualCodebook(e, cents, dims = 64,
        m = 8, seedFrom = 8)
      graft.similarity.IvfPq.writeCodes(
        graft.similarity.IvfPq.encode(e, cents, cb, dims = 64, m = 8), path)
    }

  /** Stored IVF+PQ codes for the HISTORY half of the corpus (even ids)
    * — what e15's incremental-maintenance probe merges a fresh delta
    * into. Same frozen centroids/codebook as [[ivfPqCodesDir]] (both are
    * seeded from fixed vector ids, so the model is identical whichever
    * slice is encoded); cell-partitioned like the full index so the
    * probe's partition pruning applies to history. */
  def ivfPqCodesHalfDir(s: SparkSession, dir: String): String =
    materializedDir(dir, "ivfpq_codes_half") { path =>
      val e = Tables(s, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = graft.similarity.IvfPq.seedCentroids(e, nCells = 8)
      val cb = graft.similarity.IvfPq.residualCodebook(e, cents, dims = 64,
        m = 8, seedFrom = 8)
      graft.similarity.IvfPq.writeCodes(
        graft.similarity.IvfPq.encode(e.filter(col("id") % 2 === 0),
          cents, cb, dims = 64, m = 8), path)
    }

  /** Force every bench-relevant registry for `dir` onto disk — benches
    * call this in their (untimed) setup, mirroring
    * [[graft.meta.MetadataStar.materialize]]: per-query timings then
    * reflect the stored-registry steady state a deployment runs in. */
  def materialize(s: SparkSession, dir: String): Unit = {
    minhashSignatures(s, dir).head(1)
    minhashBands(s, dir).head(1)
    embBuckets(s, dir).head(1)
    embBucketsAdaptive(s, dir).head(1)
    driftHistogram(s, dir).head(1)
    sourceCensus(s, dir).head(1)
    kmeansCentroids(s, dir).head(1)
    cellLabels(s, dir).head(1)
    trainShingles(s, dir).head(1)
    dupClusters(s, dir).head(1)
    minhashClusters(s, dir).head(1)
    // embClusters' PROVENANCE is the exact all-pairs baseline (e12's
    // contract: stored labels = exact even-even pairs) — quadratic by
    // definition, so above the exact builder's cap the registry cannot
    // exist at all and its consumers (e12/e12b) inherit the worst-case-
    // twin scale exclusion. Skip it loudly instead of failing the whole
    // warmup: every other registry build is banded/capped/linear.
    val nEven = Tables(s, dir).embeddings
      .filter(col("vec_id") % 2 === 0).count()
    if (nEven <= 200000) embClusters(s, dir).head(1)
    else println(s"registries: SKIP emb_clusters at $dir — $nEven even-id " +
      "vectors exceed the exact pair builder's 200k cap (quadratic " +
      "provenance; e12/e12b are worst-case twins at this scale)")
    ivfPqCodesDir(s, dir)
    ivfPqCodesHalfDir(s, dir)
    ()
  }
}
