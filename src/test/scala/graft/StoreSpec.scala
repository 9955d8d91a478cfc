package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{BucketedStore, JdbcStore, MetadataStore, Seeding, Store, SurrogateKeys}

/** Backend-agnostic mutation contract: every [[Store]] implementation must
  * pass these (the reference's adaptor-layer semantics, SURVEY §2.9). */
abstract class StoreContract[S <: Store] extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  def backend: String
  def newStore(): S

  /** A backend's way to create a table; `keys` are the columns a
    * multi-bucket store buckets the table by. */
  def createTable(st: S, name: String, df: DataFrame, keys: String*): Unit =
    st.create(name, df)

  test(s"$backend: create/read round-trip with empty-string normalization") {
    val st = newStore()
    createTable(st, "project", Seq(("IGFQ0001", "ACTIVE"), ("IGFQ0002", ""))
      .toDF("project_igf_id", "status"), "project_igf_id")
    val got = st.read("project")
    assert(got.count() == 2)
    assert(got.filter(col("status").isNull).count() == 1)
  }

  test(s"$backend: append adds rows to an existing table") {
    val st = newStore()
    createTable(st, "t", Seq(Tuple1(1L)).toDF("x"), "x")
    st.append("t", Seq(Tuple1(2L)).toDF("x"))
    assert(st.read("t").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test(s"$backend: insertIfAbsent inserts only novel keys and is idempotent") {
    val st = newStore()
    createTable(st, "sample", Seq(("S1", "P1"), ("S2", "P1")).toDF("sample_igf_id", "project"),
      "sample_igf_id")
    val n1 = st.insertIfAbsent("sample",
      Seq(("S2", "P1"), ("S3", "P2")).toDF("sample_igf_id", "project"), Seq("sample_igf_id"))
    assert(n1 == 1 && st.read("sample").count() == 3)
    val n2 = st.insertIfAbsent("sample",
      Seq(("S3", "P2")).toDF("sample_igf_id", "project"), Seq("sample_igf_id"))
    assert(n2 == 0 && st.read("sample").count() == 3)
  }

  test(s"$backend: upsert replaces matched rows and inserts unmatched") {
    val st = newStore()
    createTable(st, "seed", Seq((1L, "SEEDED"), (2L, "RUNNING")).toDF("seed_id", "status"),
      "seed_id")
    st.upsert("seed", Seq((2L, "FINISHED"), (3L, "SEEDED")).toDF("seed_id", "status"), Seq("seed_id"))
    val got = st.read("seed").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "SEEDED", 2L -> "FINISHED", 3L -> "SEEDED"))
  }

  test(s"$backend: attribute upsert on (entity_id, attribute_name) refreshes values") {
    // run-attribute refresh semantics (collect_seqrun_fastq_to_db.py:646-674)
    val st = newStore()
    createTable(st, "run_attribute",
      Seq((1L, "R1_READ_COUNT", "100"), (1L, "R2_READ_COUNT", "90"))
        .toDF("run_id", "attribute_name", "attribute_value"), "run_id", "attribute_name")
    st.upsert("run_attribute", Seq((1L, "R1_READ_COUNT", "150"), (2L, "R1_READ_COUNT", "70"))
      .toDF("run_id", "attribute_name", "attribute_value"), Seq("run_id", "attribute_name"))
    val got = st.read("run_attribute").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got((1L, "R1_READ_COUNT")) == "150" && got((1L, "R2_READ_COUNT")) == "90"
      && got((2L, "R1_READ_COUNT")) == "70")
  }

  test(s"$backend: delete with FK cascade removes the deleted keys' children") {
    val st = newStore()
    createTable(st, "collection", Seq((1L, "c1"), (2L, "c2")).toDF("collection_id", "name"),
      "collection_id")
    // 99L is a pre-existing orphan: no parent, and NOT in the delete set —
    // the cascade is scoped to the passed keys and must leave it alone
    // keyed on file_id, so the cascade's FK is not the bucket key
    createTable(st, "collection_group", Seq((1L, 10L), (1L, 11L), (2L, 12L), (99L, 13L))
      .toDF("collection_id", "file_id"), "file_id")
    st.deleteCascade("collection", Seq(Tuple1(1L)).toDF("collection_id"),
      Seq("collection_id"), Seq(("collection_group", "collection_id")))
    assert(st.read("collection").count() == 1)
    assert(st.read("collection_group").collect().map(_.getLong(1)).toSet == Set(12L, 13L))
  }

  test(s"$backend: seeding anti-join seeds only unseen entities; transitions gate") {
    val st = newStore()
    val entities = Seq(Tuple1(101L), Tuple1(102L)).toDF("seqrun_id")
    assert(Seeding.seedNew(st, "pipeline_seed", entities, "seqrun_id", 1L, "seqrun") == 2)
    assert(Seeding.seedNew(st, "pipeline_seed", entities, "seqrun_id", 1L, "seqrun") == 0)
    val picks = Seq((1L, 101L, "seqrun")).toDF("pipeline_id", "seed_id", "seed_table")
    val (n1, rej1) = Seeding.transition(st, "pipeline_seed", picks, "RUNNING")
    assert(n1 == 1 && rej1.count() == 0)
    // SEEDED -> FINISHED is not a valid transition: rejected, not applied
    val picks2 = Seq((1L, 102L, "seqrun")).toDF("pipeline_id", "seed_id", "seed_table")
    val (n2, rej2) = Seeding.transition(st, "pipeline_seed", picks2, "FINISHED")
    assert(n2 == 0 && rej2.count() == 1)
    val (n3, _) = Seeding.transition(st, "pipeline_seed", picks, "FINISHED")
    assert(n3 == 1)
    val statuses = st.read("pipeline_seed").collect()
      .map(r => r.getAs[Long]("seed_id") -> r.getAs[String]("status")).toMap
    assert(statuses == Map(101L -> "FINISHED", 102L -> "SEEDED"))
  }
}

/** Parquet snapshot backend (the one-bucket manifest store): the contract
  * plus versioning/time travel. */
class StoreSpec extends StoreContract[MetadataStore] {
  import SparkTestSession._
  import spark.implicits._

  override def backend = "parquet"
  override def newStore(): MetadataStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    new MetadataStore(spark, dir)
  }

  test("snapshots are versioned and time-travelable") {
    val st = newStore()
    st.create("t", Seq(Tuple1(1)).toDF("x"))
    st.append("t", Seq(Tuple1(2)).toDF("x"))
    assert(st.versions("t") == Seq(1, 2))
    assert(st.readAt("t", 1).count() == 1 && st.read("t").count() == 2)
  }

  test("surrogate keys continue from existing max and are dense") {
    val fresh = Seq("b", "a", "c").toDF("name")
    val keyed = SurrogateKeys.assign(fresh, existingMax = 10L, Seq("name"), "id")
    val got = keyed.collect().map(r => r.getAs[String]("name") -> r.getAs[Long]("id")).toMap
    assert(got == Map("a" -> 11L, "b" -> 12L, "c" -> 13L))
  }
}

/** The manifest store at 16 buckets: the same contract where every table
  * is bucketed by its key, so ops on other keys must rewrite every bucket. */
class BucketedStoreContractSpec extends StoreContract[BucketedStore] {
  override def backend = "bucketed"
  override def newStore(): BucketedStore = new BucketedStore(SparkTestSession.spark,
    java.nio.file.Files.createTempDirectory("graft-bstore").toString, numBuckets = 16)
  override def createTable(st: BucketedStore, name: String, df: DataFrame,
                           keys: String*): Unit = st.create(name, df, keys)
}

/** Live-DBMS backend over embedded Derby: the same contract, every mutation
  * a staged set-based statement in the database (no per-row driver loop). */
class JdbcStoreSpec extends StoreContract[JdbcStore] {
  import SparkTestSession._
  import spark.implicits._

  override def backend = "jdbc"
  private var dbN = 0
  override def newStore(): JdbcStore = synchronized {
    dbN += 1
    val dir = java.nio.file.Files.createTempDirectory("graft-jdbc").toString
    new JdbcStore(spark, s"jdbc:derby:$dir/db$dbN;create=true")
  }

  test("jdbc: non-string types survive the DDL mapping round-trip") {
    val st = newStore()
    val df = Seq((1L, 2, 3.5, true, java.sql.Date.valueOf("2024-03-01")))
      .toDF("l", "i", "d", "b", "dt")
    st.create("typed", df)
    val got = st.read("typed").collect().head
    assert(got.getLong(0) == 1L && got.getInt(1) == 2 && got.getDouble(2) == 3.5
      && got.getBoolean(3) && got.getDate(4).toString == "2024-03-01")
  }

  test("jdbc: upsert on an all-key table inserts without an update arm") {
    val st = newStore()
    st.create("tags", Seq(Tuple1("a")).toDF("tag"))
    st.upsert("tags", Seq(Tuple1("a"), Tuple1("b")).toDF("tag"), Seq("tag"))
    assert(st.read("tags").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("jdbc: partitioned read splits the scan by range predicate") {
    val st = newStore()
    st.create("facts", (1L to 100L).map(i => (i, i * 2)).toDF("id", "v"))
    val got = st.readPartitioned("facts", "id", 1L, 100L, 4)
    assert(got.rdd.getNumPartitions == 4)
    assert(got.agg(sum("v")).as[Long].head == 10100L)
  }

  test("jdbc: auto-bounded partitioned read probes min/max; empty table falls back") {
    val st = newStore()
    st.create("facts", (11L to 110L).map(i => (i, i * 2)).toDF("id", "v"))
    val got = st.readPartitionedAuto("facts", "id", 4)
    assert(got.rdd.getNumPartitions == 4)
    assert(got.count() == 100 && got.agg(sum("v")).as[Long].head == 12100L)
    st.create("empty_t", spark.emptyDataset[Long].toDF("id"))
    assert(st.readPartitionedAuto("empty_t", "id", 4).count() == 0)
  }
}
