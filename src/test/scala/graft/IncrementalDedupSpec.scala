package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.MinHashLsh

/** The incremental probe must find exactly the full-corpus candidates that
  * involve a new document — no more (it never pairs existing docs with
  * each other), no fewer (the stored signatures are reusable because the
  * hash family is seeded). */
class IncrementalDedupSpec extends AnyFunSuite {
  import SparkTestSession._

  private val p = MinHashLsh.Params()

  test("incremental candidates == full candidates restricted to new docs") {
    val docs = Tables(spark, sf).documents
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val newSig = MinHashLsh.signatures(newDocs, "doc_id", "text", p)
    val oldSig = MinHashLsh.signatures(existing, "doc_id", "text", p)

    val inc = MinHashLsh.incrementalCandidates(newSig, oldSig, "doc_id", p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val full = MinHashLsh.candidatePairs(
        MinHashLsh.signatures(docs, "doc_id", "text", p), "doc_id", p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 5 == 0 || b % 5 == 0 }

    assert(inc == expected)
    assert(inc.nonEmpty, "corpus has implanted near-dups; probe must find some")
    assert(inc.forall { case (a, b) => a % 5 == 0 || b % 5 == 0 })
  }

  test("incremental near-dup with estimate == full md5 run restricted to new docs") {
    val docs = Tables(spark, sf).documents
    val newSig = MinHashLsh.signaturesMd5(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
    val oldSig = MinHashLsh.signaturesMd5(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
    val inc = MinHashLsh.incrementalNearDupFromSig(newSig, oldSig, "doc_id",
        minEstJaccard = 0.5, p, literalKeys = true)._1
    val full = MinHashLsh.nearDuplicatesMd5(docs, "doc_id", "text",
        minEstJaccard = 0.5, p)
      .filter(col("id_a") % 2 === 1 || col("id_b") % 2 === 1)
    assert(inc.count() > 0, "vacuous: no near-dup pair touches the new batch")
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty,
      "incremental near-dup diverged from the restricted full rerun")
  }

  test("index probe (stored bands) == signature probe == restricted full " +
       "rerun (the durable-band-registry contract)") {
    val docs = Tables(spark, sf).documents
    val newSig = MinHashLsh.signaturesMd5(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
    val oldSig = MinHashLsh.signaturesMd5(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
    val storedBands = MinHashLsh.bandIndex(oldSig, "doc_id", p, literalKeys = true)
    val viaIndex = MinHashLsh.incrementalNearDupFromIndex(newSig, storedBands,
      oldSig, "doc_id", minEstJaccard = 0.5, p, literalKeys = true)._1
    val viaSig = MinHashLsh.incrementalNearDupFromSig(newSig, oldSig, "doc_id",
      minEstJaccard = 0.5, p, literalKeys = true)._1
    assert(viaIndex.count() > 0, "vacuous: no pair touches the new batch")
    assert(viaIndex.except(viaSig).isEmpty && viaSig.except(viaIndex).isEmpty,
      "stored-band-index probe diverged from the re-banding probe")
    // the returned band delta is exactly the new side's banding — what the
    // deployment appends to the durable index
    val (_, (sigDelta, bandDelta)) = MinHashLsh.incrementalNearDupFromIndex(
      newSig, storedBands, oldSig, "doc_id", 0.5, p, literalKeys = true)
    assert(bandDelta.except(
      MinHashLsh.bandIndex(sigDelta, "doc_id", p, literalKeys = true)).isEmpty)
  }

  test("probe-side cap: a bucket of exactly cap rows across stored ∪ new " +
       "pairs, cap + 1 rows emits nothing, a new×new pair appears once") {
    import spark.implicits._
    // chunks = 1: the bucket is the hash value itself
    val stored = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L), (5L, 2L))
      .toDF("doc_id", "h")
    val fresh = Seq((10L, 1L), (11L, 2L), (20L, 3L), (21L, 3L))
      .toDF("doc_id", "h")
    val got = graft.dedup.SimHash.incrementalHammingNearDuplicates(fresh,
        stored, "doc_id", "h", maxDist = 0, chunks = 1,
        maxChunkBucket = Some(3), bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // bucket 1 holds 3 rows (= cap), bucket 2 holds 4, bucket 3 is new×new
    assert(got.sorted == Seq((1L, 10L), (2L, 10L), (20L, 21L)), got)
  }

  test("signatures recomputed from stored params are bit-identical (reusability)") {
    val docs = Tables(spark, sf).documents.limit(100)
    val s1 = MinHashLsh.signatures(docs, "doc_id", "text", p)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val s2 = MinHashLsh.signatures(docs, "doc_id", "text", p)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(s1.keySet == s2.keySet && s1.forall { case (k, v) => s2(k) == v })
  }
}
