package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{BucketedStore, MetadataStore}

/** Partition-pruned MERGE: upserts rewrite ONLY buckets containing touched
  * keys; untouched buckets keep their exact prior files (same paths, same
  * bytes) via the manifest. */
class BucketedStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def newStore(): (BucketedStore, String) = {
    val dir = Files.createTempDirectory("bucketed_store").toString
    (new BucketedStore(spark, dir, numBuckets = 16), dir)
  }

  /** Buckets `op` rewrote: the ones whose manifest entry moved. */
  private def rewritten(st: BucketedStore, t: String)(op: => Unit): Set[Int] = {
    val before = st.manifest(t)
    op
    st.manifest(t).collect { case (b, v) if !before.get(b).contains(v) => b }.toSet
  }

  private val base = (1 to 500).map(i => (i.toLong, s"name_$i", s"v0"))
    .toDF("id", "name", "payload")

  test("create + read round-trips") {
    val (st, _) = newStore()
    st.create("t", base, Seq("id"))
    assert(st.read("t").count() == 500)
    assert(st.read("t").filter(col("id") === 42 && col("name") === "name_42").count() == 1)
  }

  test("upsert rewrites only touched buckets; untouched files are identical") {
    val (st, _) = newStore()
    st.create("t", base, Seq("id"))
    val before = (0 until 16).map(b => b -> st.bucketFiles("t", b)).toMap
    val beforeBytes = before.map { case (b, fs) =>
      b -> fs.map(f => Files.readAllBytes(Paths.get(f)).toSeq)
    }

    val incoming = Seq((42L, "name_42", "v1"), (9999L, "brand_new", "v1"))
      .toDF("id", "name", "payload")
    val touched = rewritten(st, "t")(st.upsert("t", incoming, Seq("id")))
    assert(touched.nonEmpty && touched.size <= 2)

    // untouched buckets: same physical files, byte-identical
    for (b <- (0 until 16).filterNot(touched)) {
      assert(st.bucketFiles("t", b) == before(b), s"bucket $b files moved")
      val nowBytes = st.bucketFiles("t", b)
        .map(f => Files.readAllBytes(Paths.get(f)).toSeq)
      assert(nowBytes == beforeBytes(b), s"bucket $b bytes changed")
    }
    // touched buckets DID move to a new version
    touched.foreach { b =>
      assert(st.bucketFiles("t", b) != before(b), s"bucket $b not rewritten")
    }
    // merge semantics: replacement + insert, no dup
    val after = st.read("t")
    assert(after.count() == 501)
    assert(after.filter(col("id") === 42).select("payload").head.getString(0) == "v1")
    assert(after.filter(col("id") === 9999).count() == 1)
    assert(after.filter(col("id") === 41).select("payload").head.getString(0) == "v0")
  }

  test("upsert is idempotent on replay") {
    val (st, _) = newStore()
    st.create("t", base, Seq("id"))
    val incoming = Seq((7L, "name_7", "v2")).toDF("id", "name", "payload")
    st.upsert("t", incoming, Seq("id"))
    st.upsert("t", incoming, Seq("id"))
    val after = st.read("t")
    assert(after.count() == 500)
    assert(after.filter(col("id") === 7 && col("payload") === "v2").count() == 1)
  }

  test("delete prunes to touched buckets and removes rows") {
    val (st, _) = newStore()
    st.create("t", base, Seq("id"))
    val before = (0 until 16).map(b => b -> st.bucketFiles("t", b)).toMap
    val touched = rewritten(st, "t")(st.delete("t", Seq(1L, 2L).toDF("id"), Seq("id")))
    assert(st.read("t").count() == 498)
    for (b <- (0 until 16).filterNot(touched))
      assert(st.bucketFiles("t", b) == before(b))
  }

  test("upsert into an empty bucket of an existing table inserts cleanly") {
    val (st, _) = newStore()
    // tiny table: most of the 16 buckets are empty on disk
    st.create("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    (2L to 40L).foreach { i =>
      st.upsert("t", Seq((i, s"v$i")).toDF("id", "v"), Seq("id"))
    }
    assert(st.read("t").count() == 40)
  }

  test("vacuum removes superseded versions and keeps the live chain") {
    val (st, root) = newStore()
    st.create("t", base, Seq("id"))
    // three upserts, each touching a few buckets -> several versions, the
    // earliest fully superseded once every bucket has been rewritten
    (1 to 3).foreach { i =>
      st.upsert("t", Seq((i.toLong, s"n$i", s"v$i")).toDF("id", "name", "payload"), Seq("id"))
    }
    val before = st.read("t").count()
    val deleted = st.vacuum("t")
    // live data unaffected
    assert(st.read("t").count() == before)
    assert(st.read("t").filter(col("id") === 2L).select("payload").head.getString(0) == "v2")
    // any deleted version is absent from disk
    deleted.foreach { v =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "t", f"v$v%06d")))
    }
    // vacuum is idempotent
    assert(st.vacuum("t").isEmpty)
  }

  test("time travel: readAt(v) sees the table as of commit v until vacuumed") {
    val (st, _) = newStore()
    st.create("t", base, Seq("id"))                       // v1
    st.upsert("t", Seq((42L, "name_42", "v1"), (9999L, "new", "v1"))
      .toDF("id", "name", "payload"), Seq("id"))          // v2
    st.delete("t", Seq(Tuple1(1L)).toDF("id"), Seq("id")) // v3

    assert(st.versions("t") == Seq(1, 2, 3))
    val v1 = st.readAt("t", 1)
    assert(v1.count() == 500)
    assert(v1.filter(col("id") === 42 && col("payload") === "v0").count() == 1)
    assert(v1.filter(col("id") === 9999).count() == 0)
    val v2 = st.readAt("t", 2)
    assert(v2.count() == 501)
    assert(v2.filter(col("id") === 42 && col("payload") === "v1").count() == 1)
    assert(st.read("t").count() == 500) // v3: 501 - deleted id=1
    assert(st.readAt("t", 3).count() == 500)

    // a full rewrite supersedes v1-v3 entirely; vacuum reclaims them and
    // time travel to them then fails loudly
    st.create("t", base, Seq("id"))                       // v4
    val dropped = st.vacuum("t")
    assert(dropped.nonEmpty)
    assert(st.versions("t") == Seq(4))
    intercept[IllegalArgumentException](st.readAt("t", 2))
  }

  test("null sort keys follow Spark's window null placement in TopKRows") {
    // asc: NULLS FIRST; desc: NULLS LAST — same rows as the window form
    val df = Seq[(String, java.lang.Double, Long)](
      ("g", null, 1L), ("g", 5.0, 2L), ("g", 9.0, 3L), ("g", null, 4L))
      .toDF("grp", "score", "id")
    val boundedDesc = graft.ops.WindowOps.topKBounded(
      df, Seq("grp"), Seq(("score", true), ("id", false)), k = 2)
    assert(boundedDesc.select("id").collect().map(_.getLong(0)).toSet == Set(3L, 2L))
    val boundedAsc = graft.ops.WindowOps.topKBounded(
      df, Seq("grp"), Seq(("score", false), ("id", false)), k = 2)
    assert(boundedAsc.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 4L))
  }

  test("empty create and delete-all keep the table schema readable") {
    val (st, _) = newStore()
    st.create("t", base.limit(0), Seq("id"))
    // schemaful empty read (was: schemaless emptyDataFrame)
    assert(st.read("t").columns.toSeq == Seq("id", "name", "payload"))
    assert(st.read("t").count() == 0)
    // upsert into the empty table works
    st.upsert("t", Seq((1L, "a", "v")).toDF("id", "name", "payload"), Seq("id"))
    assert(st.read("t").count() == 1)
    // delete every row: schema still survives
    st.delete("t", Seq(1L).toDF("id"), Seq("id"))
    assert(st.read("t").columns.toSeq == Seq("id", "name", "payload"))
    assert(st.read("t").count() == 0)
  }

  // the same race on the 16-bucket store and on the one-bucket snapshot
  // store, which shares its commit protocol
  for ((label, numBuckets) <- Seq("" -> 16, " (MetadataStore, one bucket)" -> 1))
  test(s"concurrent writers serialize or fail loudly — no lost update$label") {
    val st = if (numBuckets == 1)
      new MetadataStore(spark, Files.createTempDirectory("metadata_store").toString)
    else newStore()._1
    st.create("t", base, Seq("id"))
    // two genuinely concurrent upserts on DISJOINT keys; before the
    // claim protocol both could read v1, both write v2, and the last
    // pointer swap silently discarded the other commit
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val rowsA = Seq((9001L, "writer_a", "vA")).toDF("id", "name", "payload")
    val rowsB = Seq((9002L, "writer_b", "vB")).toDF("id", "name", "payload")
    val gate = new java.util.concurrent.CountDownLatch(1)
    def attempt(df: org.apache.spark.sql.DataFrame): Future[Option[Throwable]] =
      Future { gate.await();
        try { st.upsert("t", df, Seq("id")); None }
        catch { case e: java.util.ConcurrentModificationException => Some(e) } }
    val (fa, fb) = (attempt(rowsA), attempt(rowsB))
    gate.countDown()
    val (ra, rb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    val failures = Seq(ra, rb).flatten
    assert(failures.size <= 1, "both writers failed — claim deadlocked")
    // every SUCCESSFUL commit's row is present: the loser (if any) failed
    // LOUDLY with CME instead of being silently overwritten
    val ids = st.read("t").filter(col("id") >= 9000L)
      .select("id").as[Long].collect().toSet
    val expected = Seq(ra.isEmpty -> 9001L, rb.isEmpty -> 9002L)
      .collect { case (true, id) => id }.toSet
    assert(ids == expected,
      s"committed rows $ids do not match successful writers $expected — lost update")
    // the loser's claim was cleaned up: the store accepts the retry
    failures.foreach { _ =>
      val retry = if (ra.isDefined) rowsA else rowsB
      st.upsert("t", retry, Seq("id"))
    }
    assert(st.read("t").filter(col("id") >= 9000L).count() == 2)
    // pointer/manifest consistency after the race + retries
    val m = st.manifest("t")
    assert(m.keySet == (0 until numBuckets).toSet)
  }

  test("a crashed claim blocks writers loudly until recoverStaleClaims") {
    val (st, dir) = newStore()
    st.create("t", base, Seq("id"))
    // simulate a writer that claimed the next version then died: the dir
    // exists, the pointer never moved
    val stale = Paths.get(dir, "t", "v000002")
    Files.createDirectory(stale)
    val row = Seq((1L, "x", "v9")).toDF("id", "name", "payload")
    intercept[java.util.ConcurrentModificationException] {
      st.upsert("t", row, Seq("id"))
    }
    assert(st.read("t").filter(col("payload") === "v9").count() == 0)
    assert(st.recoverStaleClaims("t") == Seq(2))
    st.upsert("t", row, Seq("id")) // now serializes cleanly
    assert(st.read("t").filter(col("payload") === "v9").count() == 1)
    // vacuum never reaps an in-flight claim above the pointer
    Files.createDirectory(Paths.get(dir, "t", "v000099"))
    assert(!st.vacuum("t").contains(99))
    assert(Files.exists(Paths.get(dir, "t", "v000099")))
  }

  test("version dirs beyond v999999 stay recoverable (7+ digit names)") {
    val (st, dir) = newStore()
    st.create("t", Seq((1L, "a", "v")).toDF("id", "name", "payload"), Seq("id"))
    // f"v$v%06d" WIDENS past 999999 — a fixed length-7 name match would
    // silently skip this claim, making it unrecoverable and unvacuumable
    val wide = Paths.get(dir, "t", "v1000000")
    Files.createDirectory(wide)
    assert(st.recoverStaleClaims("t") == Seq(1000000))
    assert(!Files.exists(wide))
  }

  test("an upsert keyed off the bucket keys rewrites every bucket: no duplicate") {
    val (st, _) = newStore()
    st.create("t", base, Seq("id"))
    // rows hash by id; keyed on name, a matched row may sit in any bucket
    val incoming = (1 to 20).map(i => (i.toLong, s"name_$i", "v1")).toDF("id", "name", "payload")
    val touched = rewritten(st, "t")(st.upsert("t", incoming, Seq("name")))
    assert(touched == (0 until 16).toSet)
    val after = st.read("t")
    assert(after.count() == 500)
    assert(after.groupBy("name").count().filter(col("count") > 1).count() == 0)
    assert(after.filter(col("payload") === "v1").count() == 20)
  }

  test("keyless create needs a one-bucket store") {
    val (st, _) = newStore()
    val e = intercept[IllegalArgumentException](st.create("t", base))
    assert(e.getMessage.contains("create(name, df, keys)"))
    assert(!st.exists("t"))
  }
}
