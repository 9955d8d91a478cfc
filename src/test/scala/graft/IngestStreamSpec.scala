package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.store.MetadataStore
import graft.streaming.EventStreams

class IngestStreamSpec extends AnyFunSuite {
  import SparkTestSession._

  test("streamed micro-batches merge idempotently into the store") {
    val dropDir = java.nio.file.Files.createTempDirectory("drops")
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val store = new MetadataStore(spark,
      java.nio.file.Files.createTempDirectory("st").toString)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dropDir.resolve("a.parquet"))

    def runOnce(): Unit = {
      val q = EventStreams.ingestStream(
        EventStreams.readEventStream(spark, dropDir.toString),
        store, "events", Seq("event_id"), ckpt)
      q.awaitTermination()
    }
    runOnce()
    val n1 = store.read("events").count()
    assert(n1 == Tables(spark, sf).events.count())

    // same file re-delivered under a new name + restart: no duplicates
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dropDir.resolve("b.parquet"))
    runOnce()
    assert(store.read("events").count() == n1)
  }

  test("streamed micro-batches MERGE into the bucketed store with pruning") {
    import spark.implicits._
    val dropDir = java.nio.file.Files.createTempDirectory("bdrops")
    val ckpt = java.nio.file.Files.createTempDirectory("bckpt").toString
    val store = new graft.store.BucketedStore(spark,
      java.nio.file.Files.createTempDirectory("bst").toString, numBuckets = 16)

    (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.parquet(dropDir.resolve("batch1").toString)

    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("id LONG, v STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(dropDir.toString + "/*")
      EventStreams.ingestStreamBucketed(src, store, "t", Seq("id"), ckpt)
        .awaitTermination()
    }
    runOnce()
    assert(store.read("t").count() == 1000)

    val before = (0 until 16).map(b => b -> store.bucketFiles("t", b)).toMap

    // second drop: a small update batch touching few keys
    Seq((5L, "v5b"), (9999L, "new")).toDF("id", "v")
      .write.parquet(dropDir.resolve("batch2").toString)
    runOnce()
    val after = store.read("t")
    assert(after.count() == 1001)
    assert(after.filter(org.apache.spark.sql.functions.col("id") === 5L)
      .select("v").head.getString(0) == "v5b")
    // incremental I/O: most buckets untouched by the small batch
    val untouched = (0 until 16).count(b => store.bucketFiles("t", b) == before(b))
    assert(untouched >= 14, s"only $untouched buckets untouched")
  }

  // both streams recover at start: the snapshot stream's one-bucket store
  // claims its versions the same way
  for ((label, snapshot) <- Seq("" -> false, " (ingestStream, one bucket)" -> true))
  test(s"stream start recovers an orphan claim left by a pre-commit crash$label") {
    import spark.implicits._
    val dropDir = java.nio.file.Files.createTempDirectory("cdrops")
    val ckpt = java.nio.file.Files.createTempDirectory("cckpt").toString
    val root = java.nio.file.Files.createTempDirectory("cst").toString
    val store = if (snapshot) new MetadataStore(spark, root)
      else new graft.store.BucketedStore(spark, root, numBuckets = 16)

    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.parquet(dropDir.resolve("batch1").toString)
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("id LONG, v STRING")
        .parquet(dropDir.toString + "/*")
      (if (snapshot) EventStreams.ingestStream(src, store, "t", Seq("id"), ckpt)
       else EventStreams.ingestStreamBucketed(src, store, "t", Seq("id"), ckpt))
        .awaitTermination()
    }
    runOnce()
    assert(store.read("t").count() == 100)

    // simulate a crash between claimNextVersion and swapPointer: the claim
    // dir for the next version exists (with partial data) but was never
    // committed. Without start-time recovery every replayed commit throws
    // ConcurrentModificationException forever — the flow is wedged.
    val cur = store.versions("t").max
    val orphan = java.nio.file.Paths.get(root, "t", f"v${cur + 1}%06d")
    java.nio.file.Files.createDirectory(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-junk.parquet"), "junk")

    Seq((5L, "v5b"), (101L, "v101")).toDF("id", "v")
      .write.parquet(dropDir.resolve("batch2").toString)
    runOnce() // must not wedge: recoverStaleClaims runs at stream start
    // the recovered version number is legitimately re-claimed by the new
    // commit — the crashed claim's partial contents must be gone
    assert(!java.nio.file.Files.exists(orphan.resolve("part-junk.parquet")),
      "orphan claim contents not recovered")
    assert(store.read("t").count() == 101)
    // insert-if-absent keeps id 5's first row; the MERGE replaces it
    assert(store.read("t").filter(org.apache.spark.sql.functions.col("id") === 5L)
      .select("v").head.getString(0) == (if (snapshot) "v5" else "v5b"))
  }
}
