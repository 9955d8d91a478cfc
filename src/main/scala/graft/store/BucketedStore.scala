package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-bucketed, manifest-versioned metadata store — the engine's one
  * versioned [[Store]], replacing the reference's 24-table SQLAlchemy
  * adaptor layer (baseadaptor.py, SURVEY.md §1.1, §2.9). The bucket count
  * is its only knob: one bucket is the snapshot store of dimension tables
  * ([[MetadataStore]]); many buckets give fact-sized tables (run / file /
  * *_attribute) a partition-pruned MERGE.
  *
  * Layout:
  * {{{
  *   root/<table>/v000001/__bucket=N/part-….parquet   bucket data files
  *   root/<table>/v000002/_MANIFEST                   bucket -> version map
  *   root/<table>/_CURRENT                            committed version ptr
  *   root/<table>/_SCHEMA, _KEYS                      schema, bucket keys
  * }}}
  *
  * Rows hash-partition on `pmod(xxhash64(keys), numBuckets)` over the key
  * columns `create` bucketed by, persisted in `_KEYS`. An op keyed on
  * exactly those columns rewrites ONLY the buckets its rows hash to; an op
  * on any other key set (a keyless append, a cascade's child FK) rewrites
  * every bucket, since the rows it matches may live in any of them. The
  * new version's manifest points untouched buckets at the PRIOR version's
  * files, which are never rewritten, copied, or moved — upsert I/O is
  * O(touched buckets), a reader resolving `_CURRENT` sees either the old
  * or the new manifest atomically, and old versions stay readable
  * ([[readAt]]) until [[vacuum]]. This is the same
  * manifest-plus-immutable-data-files shape Delta/Iceberg use for MERGE;
  * on a cluster deployment those replace this class 1:1
  * (pipelineadaptor.py:408-494 create_or_update; SURVEY §7.4).
  *
  * At 100 TB: numBuckets bounds both the per-commit rewrite amplification
  * (a single-row upsert rewrites 1/numBuckets of the table) and the
  * reader's parallelism floor — size it so a bucket is a few GB.
  *
  * Every write first drops empty strings to null ([[Store]]).
  */
class BucketedStore(spark: SparkSession, root: String, numBuckets: Int = 64) extends Store {
  require(numBuckets > 0)

  private val BucketCol = "__bucket"
  private val allBuckets = (0 until numBuckets).toSet

  private def tableDir(name: String) = Paths.get(root, name)
  private def pointer(name: String) = tableDir(name).resolve("_CURRENT")
  private def versionDir(name: String, v: Int) = tableDir(name).resolve(f"v$v%06d")
  private def manifestPath(name: String, v: Int) =
    versionDir(name, v).resolve("_MANIFEST")
  private def schemaPath(name: String) = tableDir(name).resolve("_SCHEMA")
  private def keysPath(name: String) = tableDir(name).resolve("_KEYS")

  override def exists(name: String): Boolean = Files.exists(pointer(name))

  /** Parse a directory name as a version number. `f"v$v%06d"` zero-pads to
    * SIX digits but widens past v999999, so match `v` + >=6 digits rather
    * than a fixed length — otherwise claims/garbage above 999999 silently
    * become invisible to versions/vacuum/recoverStaleClaims. */
  private def versionOf(fn: String): Option[Int] =
    // toIntOption: a digits-only name overflowing Int (foreign tooling,
    // corruption) must be SKIPPED like any other non-version dir, not
    // crash every maintenance path that lists the table
    if (fn.length >= 7 && fn.startsWith("v") && fn.drop(1).forall(_.isDigit))
      fn.drop(1).toIntOption
    else None

  /** Version numbers of the directories under the table, unsorted. */
  private def versionDirs(name: String): Seq[Int] =
    if (!Files.exists(tableDir(name))) Nil
    else {
      val it = Files.list(tableDir(name)).iterator()
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (it.hasNext) versionOf(it.next().getFileName.toString).foreach(out += _)
      out.toSeq
    }

  private def deleteTree(dir: Path): Unit =
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  private def currentVersion(name: String): Int =
    if (exists(name)) new String(Files.readAllBytes(pointer(name))).trim.toInt else 0

  /** bucket -> version number owning that bucket's files, as of `v`. */
  def manifestAt(name: String, v: Int): Map[Int, Int] = {
    require(Files.exists(manifestPath(name, v)),
      s"version $v of $name does not exist (vacuumed or never committed)")
    new String(Files.readAllBytes(manifestPath(name, v))).split("\n")
      .filter(_.nonEmpty)
      .map { l => val Array(b, ver) = l.split("="); b.toInt -> ver.toInt }
      .toMap
  }

  /** bucket -> version number owning that bucket's files (current). */
  def manifest(name: String): Map[Int, Int] = {
    val v = currentVersion(name)
    if (v == 0) Map.empty else manifestAt(name, v)
  }

  /** Committed versions still present on disk, oldest first. */
  def versions(name: String): Seq[Int] =
    versionDirs(name).filter(v => Files.exists(manifestPath(name, v))).sorted

  private def writeManifest(name: String, v: Int, m: Map[Int, Int]): Unit = {
    Files.createDirectories(versionDir(name, v))
    Files.writeString(manifestPath(name, v),
      m.toSeq.sorted.map { case (b, ver) => s"$b=$ver" }.mkString("\n"))
  }

  private def swapPointer(name: String, v: Int): Unit = {
    val tmp = tableDir(name).resolve("_CURRENT.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, pointer(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Optimistic concurrency control: atomically CLAIM the next version by
    * creating its directory (`Files.createDirectory` is exclusive — the
    * filesystem arbitrates). Two writers racing the same commit both
    * compute `currentVersion + 1`; exactly one creates the directory, the
    * other gets [[java.util.ConcurrentModificationException]] and must
    * retry from the new current version. Commits therefore serialize —
    * the lost-update window (both write v+1, last pointer swap silently
    * discards the first commit) is closed: a concurrent writer FAILS
    * LOUDLY, never wins silently. Same shape as Delta's
    * put-if-absent commit protocol on the _delta_log entry. */
  private def claimNextVersion(name: String): Int = {
    Files.createDirectories(tableDir(name))
    val v = currentVersion(name) + 1
    try { Files.createDirectory(versionDir(name, v)); v }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"table $name: version $v already claimed by a concurrent writer " +
            "(or left by a crashed one — see recoverStaleClaims); retry the commit")
    }
  }

  /** Run a commit body holding the claim on version `v`; on failure the
    * claim dir is removed (we own it — the pointer never referenced it)
    * so a failed write doesn't wedge every later writer into
    * [[recoverStaleClaims]]. A CRASH still leaves the claim — that is the
    * unavoidable half of optimistic locking without leases. */
  private def withClaimCleanup[A](name: String, v: Int)(body: => A): A =
    try body catch {
      case e: Throwable =>
        try deleteTree(versionDir(name, v))
        catch {
          case cleanup: java.io.IOException =>
            // a swallowed cleanup failure turns a transient write error into
            // a permanent writer wedge (every later commit sees the orphan
            // claim) with no trace of why — surface it on the real error
            e.addSuppressed(cleanup)
        }
        throw e
    }

  /** Remove UNCOMMITTED version directories (claim dirs above the current
    * pointer — a crashed writer's leftovers, including ones that wrote a
    * manifest but died before the pointer swap). Only run when no writer
    * is live: an in-flight commit's claim is indistinguishable from a
    * stale one without a lease. Returns the removed versions. */
  def recoverStaleClaims(name: String): Seq[Int] = {
    val cur = currentVersion(name)
    val doomed = versionDirs(name).filter(_ > cur).sorted
    doomed.foreach(v => deleteTree(versionDir(name, v)))
    doomed
  }

  /** The key columns `create` bucketed `name` by (none for a keyless
    * one-bucket table). */
  private def tableKeys(name: String): Seq[String] =
    if (!Files.exists(keysPath(name))) Nil
    else Files.readString(keysPath(name)).split("\n").filter(_.nonEmpty).toSeq

  private def bucketOf(keys: Seq[String]) =
    pmod(xxhash64(concat_ws("", keys.map(c => col(c).cast("string")): _*)),
      lit(numBuckets)).cast("int")

  /** Buckets an op keyed on `keys` rewrites: the ones `rows` hash to when
    * `keys` are the table's bucket keys, every bucket otherwise. At one
    * bucket that is `{0}`, known without a Spark job. */
  private def touched(name: String, rows: DataFrame, keys: Seq[String]): Set[Int] =
    if (numBuckets == 1 || keys != tableKeys(name)) allBuckets
    else rows.select(bucketOf(keys)).distinct().collect().map(_.getInt(0)).toSet

  /** Physical paths of a bucket's data under the manifest (for tests and
    * vacuum tooling). */
  def bucketFiles(name: String, bucket: Int): Seq[String] = {
    manifest(name).get(bucket).toSeq.flatMap { ver =>
      val dir = versionDir(name, ver).resolve(s"$BucketCol=$bucket")
      if (!Files.exists(dir)) Nil
      else {
        val it = Files.list(dir).iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) buf += p.toString
        }
        buf.toSeq.sorted
      }
    }
  }

  /** Empty frame carrying the table's persisted schema — what a reader of
    * an existing-but-empty table (empty create, delete-all) must see
    * instead of a schemaless DataFrame. */
  private def emptyWithSchema(name: String): DataFrame = {
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(new String(Files.readAllBytes(schemaPath(name))))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema)
  }

  private def readBuckets(name: String, buckets: Option[Set[Int]],
                          asOf: Option[Int] = None): DataFrame = {
    val m = asOf.map(manifestAt(name, _)).getOrElse(manifest(name))
    val wanted = buckets.map(bs => m.view.filterKeys(bs).toMap).getOrElse(m)
    val paths = wanted.toSeq.map { case (b, ver) =>
      versionDir(name, ver).resolve(s"$BucketCol=$b").toString
    }.filter(p => Files.exists(Paths.get(p)))
    if (paths.isEmpty) emptyWithSchema(name)
    else spark.read.parquet(paths: _*)
  }

  /** Current table contents (all buckets). */
  override def read(name: String): DataFrame = {
    require(exists(name), s"table $name does not exist under $root")
    readBuckets(name, None)
  }

  /** Time travel: the table as of commit `version` — resolved through that
    * commit's own manifest, whose data files are immutable, so this is a
    * zero-copy read exactly like Delta's `VERSION AS OF`. Available until
    * [[vacuum]] reclaims versions the CURRENT manifest no longer references.
    * Note `_SCHEMA` is not versioned: an empty historical read reports the
    * LATEST schema (only reachable when version `v` held zero rows). */
  def readAt(name: String, version: Int): DataFrame = {
    require(exists(name), s"table $name does not exist under $root")
    readBuckets(name, None, asOf = Some(version))
  }

  /** Write `rows`, bucketed by `keys`, as version `v`'s files and make `v`
    * current with manifest `m`. */
  private def publish(name: String, v: Int, rows: DataFrame, keys: Seq[String],
                      m: Map[Int, Int]): Unit = {
    // append into the freshly-claimed (empty) dir: an overwrite would
    // delete-and-recreate it, reopening the claim's exclusivity window.
    // One bucket writes its dir directly: partitionBy would add a sort on
    // a constant column to every snapshot commit
    if (numBuckets == 1)
      rows.write.mode("append").parquet(versionDir(name, v).resolve(s"$BucketCol=0").toString)
    else rows.withColumn(BucketCol, bucketOf(keys))
      .write.partitionBy(BucketCol).mode("append")
      .parquet(versionDir(name, v).toString)
    Files.writeString(schemaPath(name), rows.schema.json)
    Files.writeString(keysPath(name), keys.mkString("\n"))
    writeManifest(name, v, m)
    swapPointer(name, v)
  }

  /** Create (or replace) `name`, bucketed by `keys`. */
  def create(name: String, df: DataFrame, keys: Seq[String]): Unit = {
    val v = claimNextVersion(name)
    withClaimCleanup(name, v) {
      publish(name, v, Store.normalize(df), keys, allBuckets.map(_ -> v).toMap)
    }
  }

  /** Keyless create: one bucket only, since a multi-bucket table hashes
    * its rows by key columns. */
  override def create(name: String, df: DataFrame): Unit = {
    require(numBuckets == 1, s"table $name: a $numBuckets-bucket store needs " +
      "the key columns to bucket by — call create(name, df, keys)")
    create(name, df, Nil)
  }

  /** One commit: claim the next version, rebuild `buckets` from their
    * current rows with `rewrite`, and keep the prior files of every other
    * bucket. `rewrite` returning None commits nothing and drops the
    * claim. */
  private def commit(name: String, buckets: Set[Int])
                    (rewrite: DataFrame => Option[DataFrame]): Unit =
    if (buckets.nonEmpty) {
      require(exists(name), s"table $name does not exist under $root")
      // claim FIRST, read state after: a successful claim of v freezes
      // the pointer at v-1 (every competitor's own claim of v fails), so
      // the prior manifest and the bucket reads below are guaranteed
      // consistent with the base this commit builds on — reading them
      // pre-claim would race a competitor's commit
      val v = claimNextVersion(name)
      withClaimCleanup(name, v) {
        val prior = manifest(name)
        // a bucket may be empty on disk (partitionBy only writes non-empty
        // buckets): readBuckets then yields the schema-typed empty frame
        rewrite(readBuckets(name, Some(buckets))) match {
          case Some(rows) =>
            publish(name, v, rows, tableKeys(name), prior ++ buckets.map(_ -> v))
          case None => deleteTree(versionDir(name, v))
        }
      }
    }

  /** Keyless, so it rewrites every bucket. */
  override def append(name: String, df: DataFrame): Unit = {
    val fresh = Store.normalize(df)
    if (!exists(name)) create(name, fresh)
    else commit(name, allBuckets) { existing =>
      Some(existing.unionByName(fresh, allowMissingColumns = true))
    }
  }

  /** Insert-if-absent (collect_seqrun_fastq_to_db.py:515-757's anti-probe):
    * ONE anti-join replaces the reference's N+1 per-row existence checks.
    * Returns the number of rows actually inserted; none inserted commits
    * no version. */
  override def insertIfAbsent(name: String, df: DataFrame, keys: Seq[String]): Long = {
    val fresh = Store.normalize(df)
    if (!exists(name)) { create(name, fresh, keys); fresh.count() }
    else {
      var n = 0L
      commit(name, touched(name, fresh, keys)) { existing =>
        val novel = fresh.join(existing.select(keys.map(col): _*).distinct(),
          keys, "left_anti")
        n = novel.count()
        if (n > 0) Some(existing.unionByName(novel, allowMissingColumns = true))
        else None
      }
      n
    }
  }

  /** MERGE: matched rows are replaced by the incoming version, unmatched
    * are inserted (pipelineadaptor.py:408-494 create_or_update semantics,
    * collectionadaptor.py:101-260 attribute upsert when keyed on
    * (entity_id, attribute_name)). */
  override def upsert(name: String, df: DataFrame, keys: Seq[String]): Unit = {
    val fresh = Store.normalize(df)
    if (!exists(name)) create(name, fresh, keys)
    else commit(name, touched(name, fresh, keys)) { existing =>
      Some(existing.join(fresh.select(keys.map(col): _*).distinct(), keys, "left_anti")
        .unionByName(fresh, allowMissingColumns = true))
    }
  }

  /** DELETE by key set, as an anti-join rewrite (runadaptor.py:461-483). */
  override def delete(name: String, keysDf: DataFrame, keys: Seq[String]): Unit = {
    val doomed = keysDf.select(keys.map(col): _*).distinct()
    commit(name, touched(name, doomed, keys)) { existing =>
      Some(existing.join(doomed, keys, "left_anti"))
    }
  }

  /** FK-cascade delete (collectionadaptor.py:694-890): delete parents, then
    * each child row whose FK is in the DELETED key set. Scoped to the
    * passed keys — pre-existing orphans a caller didn't ask about are left
    * alone (they're a data-quality signal, not this call's business). */
  override def deleteCascade(parent: String, keysDf: DataFrame, keys: Seq[String],
                             children: Seq[(String, String)]): Unit = {
    val deleted = keysDf.select(col(keys.head)).distinct()
    delete(parent, keysDf, keys)
    children.foreach { case (child, fk) =>
      delete(child, deleted.select(col(keys.head).as(fk)), Seq(fk))
    }
  }

  /** Remove version directories no longer referenced by the CURRENT
    * manifest (superseded bucket rewrites). Keeps the live version chain
    * intact; gives up time travel to vacuumed versions, like Delta VACUUM.
    * Returns the deleted version numbers. */
  def vacuum(name: String): Seq[Int] = {
    val cur = currentVersion(name)
    val live = manifest(name).values.toSet + cur
    // never touch versions ABOVE the pointer: that is a concurrent
    // writer's claimed (in-flight) commit, not garbage —
    // recoverStaleClaims handles crashed ones explicitly
    val doomed = versionDirs(name).filter(v => !live.contains(v) && v < cur).sorted
    doomed.foreach(v => deleteTree(versionDir(name, v)))
    doomed
  }
}
