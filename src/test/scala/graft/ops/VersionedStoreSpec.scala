package graft.ops

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[VersionedStoreOps]] — the gates (store_timetravel / store_diff)
  * hash-compare snapshot reads against DuckDB's changelog recompute;
  * this spec pins the physical claims: a new version writes only its
  * touched buckets, prior versions' files are never rewritten, latest
  * reads match the in-place [[DocStoreOps]] semantics, tombstoned
  * buckets resolve per version, and vacuum drops exactly the
  * superseded dirs. */
class VersionedStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.select("k", "v", "seq").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def allFiles(base: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(base))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("latest snapshot matches the in-place store after the same applies") {
    val vBase = Files.createTempDirectory("vstore-par-v").toString
    val pBase = Files.createTempDirectory("vstore-par-p").toString
    val init = Seq((1L, "one", 10L), (2L, "two", 10L), (3L, "three", 10L))
      .toDF("k", "v", "seq")
    val b1 = Seq((1L, "one'", 20L, "U"), (4L, "four", 20L, "U"))
      .toDF("k", "v", "seq", "op")
    val b2 = Seq((2L, "gone", 30L, "D"), (4L, "stale", 15L, "U"))
      .toDF("k", "v", "seq", "op")
    VersionedStoreOps.writeVersioned(init, spark, vBase, "k", "seq", 8)
    DocStoreOps.writeDocStore(init, spark, pBase, "k", "seq", 8)
    VersionedStoreOps.applyChangesVersioned(b1, spark, vBase, "k", "seq", "op", 8)
    DocStoreOps.applyChanges(b1, spark, pBase, "k", "seq", "op", 8)
    VersionedStoreOps.applyChangesVersioned(b2, spark, vBase, "k", "seq", "op", 8)
    DocStoreOps.applyChanges(b2, spark, pBase, "k", "seq", "op", 8)
    assert(VersionedStoreOps.currentVersion(spark, vBase) == 2L)
    assert(rows(VersionedStoreOps.readVersion(spark, vBase)) ==
      rows(DocStoreOps.readDocStore(spark, pBase)))
    assert(rows(VersionedStoreOps.readVersion(spark, vBase)) ==
      Set((1L, "one'", 20L), (3L, "three", 10L), (4L, "four", 20L)))
  }

  test("an apply writes only touched buckets and never rewrites old files") {
    val base = Files.createTempDirectory("vstore-cow").toString
    val docs = graft.queries.tDocs(spark, sfTiny)
      .select(col("doc_id").as("k"), col("lang").as("v"),
        col("doc_id").as("seq"))
    VersionedStoreOps.writeVersioned(docs, spark, base, "k", "seq", 8)
    val afterV0 = allFiles(s"$base/v=0")
    val change = Seq((7L, "upd", Long.MaxValue, "U")).toDF("k", "v", "seq", "op")
    VersionedStoreOps.applyChangesVersioned(change, spark, base, "k", "seq", "op", 8)
    // v0 untouched byte-for-byte
    assert(allFiles(s"$base/v=0") == afterV0, "v0 files must never change")
    // v1 holds exactly one bucket dir (one key touched)
    val v1Dirs = new File(s"$base/v=1").listFiles()
      .filter(_.getName.startsWith("__bucket=")).map(_.getName).toSet
    val bk = spark.range(1).select(pmod(hash(lit(7L)), lit(8))).head().getInt(0)
    assert(v1Dirs == Set(s"__bucket=$bk"))
    // snapshot reads: v0 still has the old row, latest has the new one
    assert(rows(VersionedStoreOps.readVersion(spark, base, Some(0L)))
      .contains((7L, docs.filter($"k" === 7L).head().getString(1), 7L)))
    assert(rows(VersionedStoreOps.readVersion(spark, base))
      .contains((7L, "upd", Long.MaxValue)))
    // row counts identical across snapshots (one update, no add/del)
    assert(VersionedStoreOps.readVersion(spark, base, Some(0L)).count() ==
      VersionedStoreOps.readVersion(spark, base).count())
  }

  test("a bucket deleted to empty is tombstoned per version") {
    val base = Files.createTempDirectory("vstore-tomb").toString
    // two keys in the same bucket (verified), one key elsewhere
    val probe = spark.range(200).select(col("id"),
      pmod(hash(col("id")), lit(4)).as("b")).collect()
    val sameB = probe.groupBy(_.getInt(1)).values.find(_.size >= 2).get.take(2)
      .map(_.getLong(0))
    val otherKey = probe.find(_.getInt(1) != probe.find(r =>
      r.getLong(0) == sameB.head).get.getInt(1)).get.getLong(0)
    val init = (sameB :+ otherKey).toSeq.map(k => (k, s"v$k", 10L))
      .toDF("k", "v", "seq")
    VersionedStoreOps.writeVersioned(init, spark, base, "k", "seq", 4)
    val dels = sameB.toSeq.map(k => (k, "x", 20L, "D")).toDF("k", "v", "seq", "op")
    VersionedStoreOps.applyChangesVersioned(dels, spark, base, "k", "seq", "op", 4)
    val latest = rows(VersionedStoreOps.readVersion(spark, base))
    assert(latest == Set((otherKey, s"v$otherKey", 10L)), latest.toString)
    val v0 = rows(VersionedStoreOps.readVersion(spark, base, Some(0L)))
    assert(v0.size == 3, "the v0 snapshot must keep the deleted rows")
  }

  test("changeFeed carries payloads for adds, deletes and updates") {
    val base = Files.createTempDirectory("vstore-cf").toString
    val init = Seq((1L, "one", 10L), (2L, "two", 10L), (3L, "three", 10L))
      .toDF("k", "v", "seq")
    VersionedStoreOps.writeVersioned(init, spark, base, "k", "seq", 4)
    val b = Seq((1L, "one'", 20L, "U"), (2L, "gone", 20L, "D"),
      (4L, "four", 20L, "U")).toDF("k", "v", "seq", "op")
    VersionedStoreOps.applyChangesVersioned(b, spark, base, "k", "seq", "op", 4)
    val feed = VersionedStoreOps.changeFeed(spark, base, "k", "seq", 0L, 1L)
      .collect().map { r =>
        def row(o: Any) = Option(o)
          .map(_.asInstanceOf[org.apache.spark.sql.Row])
          .map(x => (x.getAs[String]("v"), x.getAs[Long]("seq")))
        r.getLong(0) -> (r.getString(1), row(r.get(2)), row(r.get(3)))
      }.toMap
    assert(feed == Map(
      1L -> ("upd", Some(("one", 10L)), Some(("one'", 20L))),
      2L -> ("del", Some(("two", 10L)), None),
      4L -> ("add", None, Some(("four", 20L)))))
  }

  test("vacuum drops superseded dirs and preserves surviving snapshots") {
    val base = Files.createTempDirectory("vstore-vac").toString
    val docs = graft.queries.tDocs(spark, sfTiny)
      .select(col("doc_id").as("k"), col("lang").as("v"),
        col("doc_id").as("seq"))
    VersionedStoreOps.writeVersioned(docs, spark, base, "k", "seq", 8)
    val c1 = Seq((7L, "a", 100L, "U")).toDF("k", "v", "seq", "op")
    val c2 = Seq((8L, "b", 100L, "U")).toDF("k", "v", "seq", "op")
    VersionedStoreOps.applyChangesVersioned(c1, spark, base, "k", "seq", "op", 8)
    VersionedStoreOps.applyChangesVersioned(c2, spark, base, "k", "seq", "op", 8)
    val want1 = rows(VersionedStoreOps.readVersion(spark, base, Some(1L)))
    val want2 = rows(VersionedStoreOps.readVersion(spark, base, Some(2L)))
    VersionedStoreOps.vacuum(spark, base, keepFrom = 1L)
    // v0's copy of key 7's bucket was superseded at v1 → gone; every
    // other v0 bucket still resolves for snapshot 1 → kept
    val b7 = spark.range(1).select(pmod(hash(lit(7L)), lit(8))).head().getInt(0)
    assert(!new File(s"$base/v=0/__bucket=$b7").exists(),
      "superseded v0 bucket must be deleted")
    val keptV0 = new File(s"$base/v=0").listFiles()
      .count(_.getName.startsWith("__bucket="))
    assert(keptV0 == 7, s"other v0 buckets must survive, got $keptV0")
    assert(rows(VersionedStoreOps.readVersion(spark, base, Some(1L))) == want1)
    assert(rows(VersionedStoreOps.readVersion(spark, base, Some(2L))) == want2)
    // below the floor, v0 would resolve key 7's bucket to the reclaimed
    // dir: the read must fail loudly, never return the other 7 buckets
    val e = intercept[IllegalArgumentException] {
      VersionedStoreOps.readVersion(spark, base, Some(0L))
    }
    assert(e.getMessage.contains("retention floor"), e.getMessage)
  }
}
