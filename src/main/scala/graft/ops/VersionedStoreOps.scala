package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write SNAPSHOTS over the [[DocStoreOps]] CDC store — the
  * time-travel half of the lakehouse pattern (Delta/Iceberg version
  * reads): every changelog apply creates a NEW version that shares all
  * untouched buckets with its predecessor, so
  *
  *  - historical snapshots stay readable forever (`readVersion(v)`),
  *  - a long-running reader pinned to version v is isolated from
  *    concurrent applies (no file it reads is ever rewritten — applies
  *    only ADD `v=N/__bucket=B/` dirs), and
  *  - storage cost per version ∝ touched buckets, not corpus size.
  *
  * Layout: parquet files under `base/v=N/__bucket=B/` plus the
  * [[graft.util.ManifestIO]] manifest — one entry per bucket each
  * version rewrote, `empty` as the TOMBSTONE for a bucket whose every
  * row was deleted (nothing is written for it, but readers at ≥ N must
  * stop falling back to the older copy). A version is committed by ONE
  * manifest append after its bucket dirs landed, so a torn apply is
  * invisible and its retry overwrites the same slot. A snapshot at
  * version V resolves each bucket to its latest rewrite ≤ V; the
  * resolution map is bounded by nBuckets × versions and computed
  * driver-side from the manifest — never from data.
  *
  * Same LWW election (seq desc, delete wins ties) as the in-place
  * store, so `readVersion(latest)` ≡ [[DocStoreOps]] state after the
  * same applies (spec-pinned), and apply stays idempotent in VALUE —
  * re-applying a batch creates a new version with identical content.
  * Old versions are dropped by `vacuum(keepFrom)` once no reader needs
  * them: buckets still referenced by surviving snapshots are kept, and
  * a read pinned below the floor fails loudly.
  *
  * Durability contract of record: `graft.ops.StoreContractSpec` —
  * the cross-family property suite every persisted store passes
  * (replay no-op, torn-write invisibility, RTBF permanence through
  * rebuild + replay, rebuild answer-preservation, loud
  * reader-vs-maintenance boundaries).
  */
object VersionedStoreOps {

  import DocStoreOps.{BUCKET, OP, electWinners, withBucket}
  import graft.util.ManifestIO
  import ManifestIO.Entry

  /** `base/v=N/__bucket=B/`, committed through [[ManifestIO]]. */
  private def layout(base: String) = ManifestIO.Layout(base, "v", BUCKET)

  /** Latest committed version, -1 on a fresh base. ONLY a missing
    * manifest means fresh — a transient read failure (object-store 503,
    * permission hiccup) must propagate, or applyChangesVersioned would
    * treat a live store as empty and destructively re-initialize v=0. */
  def currentVersion(spark: SparkSession, base: String): Long =
    ManifestIO.entriesOpt(spark, layout(base)).fold(-1L)(ManifestIO.maxCommit)

  /** Version 0: the initial rows (one per key, producing sequence in
    * `seqCol`), bucket-partitioned under `base/v=0`. Rejects a base that
    * already holds a versioned store: overwriting v=0 under a surviving
    * manifest would mix two unrelated datasets in later resolutions —
    * re-initialization must be an explicit delete-then-write. */
  def writeVersioned(df: DataFrame, spark: SparkSession, base: String,
                     key: String, seqCol: String, nBuckets: Int = 64): Unit = {
    val l = layout(base)
    require(!ManifestIO.exists(spark, l.manifest),
      s"versioned store already exists at $base (manifest present) — " +
        "delete it first to re-initialize, or applyChangesVersioned to evolve it")
    withBucket(df.withColumn(OP, lit("U")), key, nBuckets)
      .write.mode(SaveMode.Overwrite).partitionBy(BUCKET).parquet(l.commitDir("", 0))
    ManifestIO.commit(spark, l,
      ManifestIO.writtenParts(spark, l, "", 0).map(Entry("", 0, _)), append = false)
  }

  /** `readVersion` against an already-read manifest — no extra manifest
    * I/O. A pinned version is checked against the vacuum: a bucket dir it
    * resolves to that was reclaimed fails the read loudly. */
  private def readVersionFrom(spark: SparkSession, manifest: Seq[Entry],
                              base: String, v: Option[Long]): DataFrame = {
    val l = layout(base)
    val ver = v.getOrElse(ManifestIO.maxCommit(manifest))
    val dirs = ManifestIO.resolve(manifest, ver)
    require(dirs.nonEmpty, s"version $ver has no data under $base")
    v.foreach(ManifestIO.requireRetained(spark, l, _, dirs))
    spark.read.option("mergeSchema", "true").parquet(dirs.map(l.dir): _*)
      .filter(col(OP) =!= "D").drop(OP)
  }

  /** The store AS OF version `v` (default: latest). Reads only the
    * resolved bucket dirs — each bucket's single winning copy —
    * filtering the delete tombstones those copies retain (see
    * [[DocStoreOps]]: a tombstone carries the delete's sequence so
    * later stale updates cannot resurrect the row). One manifest read.
    * A `v` below the [[vacuum]] floor fails loudly. */
  def readVersion(spark: SparkSession, base: String,
                  v: Option[Long] = None): DataFrame =
    readVersionFrom(spark, ManifestIO.entries(spark, layout(base)), base, v)

  /** Apply a changes batch as a NEW version. Identical semantics to
    * [[DocStoreOps.applyChanges]]; the difference is purely physical —
    * winners' buckets are re-elected against the CURRENT snapshot and
    * written under `v=N`, prior versions untouched. */
  def applyChangesVersioned(changes: DataFrame, spark: SparkSession,
                            base: String, key: String, seqCol: String,
                            opCol: String, nBuckets: Int = 64): Long = {
    val l = layout(base)
    val manifest = ManifestIO.entries(spark, l) // the op's ONLY manifest read
    val next = ManifestIO.nextCommit(manifest)
    val batch = withBucket(changes.withColumnRenamed(opCol, OP), key, nBuckets)
    // touched buckets off the RAW batch (one map-side-partial aggregate):
    // the election keeps a winner per key, so winners' bucket set ≡ the
    // batch's — no per-apply window pass + eager checkpoint over the
    // batch just to probe it (see [[DocStoreOps.applyChanges]])
    val touched = batch.select(BUCKET).distinct()
      .collect().map(_.getInt(0)) // bounded by nBuckets
    val touchedDirs = ManifestIO.resolve(manifest)
      .filter(e => touched.contains(e.part.toInt)).map(l.dir)
    // snapshot rows carry their OP (tombstones included) — the
    // election sees deletes' sequences, same contract as the
    // in-place store
    val affected =
      if (touchedDirs.isEmpty) batch.filter(lit(false))
      else withBucket(
        spark.read.option("mergeSchema", "true").parquet(touchedDirs: _*),
        key, nBuckets)
    // copy-on-write needs no read-own-write fence (the write lands under
    // v=next, never over the dirs it reads), and the merged frame's ONLY
    // Spark consumer is the write itself — the surviving-bucket set comes
    // off the written partition dirs, not a second pass over the frame.
    // ONE election over (snapshot slice ∪ raw batch): the old
    // within-batch election + re-election compose (total order,
    // associative — electWinners doc); the bucket IN-filter is insurance
    // that nothing outside the probed set is written or tombstoned.
    electWinners(
      affected.unionByName(batch, allowMissingColumns = true), key, seqCol)
      .filter(col(BUCKET).isin(touched.toIndexedSeq: _*))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(BUCKET).parquet(l.commitDir("", next))
    val surviving = ManifestIO.writtenParts(spark, l, "", next).toSet
    ManifestIO.commit(spark, l, touched.toSeq.map(bk =>
      Entry("", next, bk, empty = !surviving(bk.toLong))), append = true)
    next
  }

  /** Added / deleted / changed rows between two snapshots, by key:
    * `change` ∈ {add, del, upd}. Payload comparison is by the producing
    * sequence — two versions of a key differ iff their sequences do,
    * which the LWW election guarantees. */
  def diffVersions(spark: SparkSession, base: String, key: String,
                   seqCol: String, vFrom: Long, vTo: Long): DataFrame = {
    val manifest = ManifestIO.entries(spark, layout(base)) // shared by both snapshots
    val a = readVersionFrom(spark, manifest, base, Some(vFrom))
      .select(col(key), col(seqCol).as("__seq_from"))
    val b = readVersionFrom(spark, manifest, base, Some(vTo))
      .select(col(key), col(seqCol).as("__seq_to"))
    a.join(b, Seq(key), "full_outer")
      .withColumn("change",
        when(col("__seq_from").isNull, lit("add"))
          .when(col("__seq_to").isNull, lit("del"))
          .when(col("__seq_from") =!= col("__seq_to"), lit("upd")))
      .filter(col("change").isNotNull)
      .select(col(key), col("change"))
  }

  /** The v`From`→v`To` change feed WITH payloads — what a downstream
    * consumer needs to stay in sync (see the pipeline_cdc_rollup gate):
    * one row per changed key with `change` ∈ {add, del, upd}, the
    * from-snapshot payload under `old_row` and the to-snapshot payload
    * under `new_row` (null on the absent side). Cost: the two snapshot
    * reads plus one key-partitioned full outer join. */
  def changeFeed(spark: SparkSession, base: String, key: String,
                 seqCol: String, vFrom: Long, vTo: Long): DataFrame = {
    val manifest = ManifestIO.entries(spark, layout(base)) // shared by both snapshots
    def packed(v: Long, as: String) = {
      val df = readVersionFrom(spark, manifest, base, Some(v))
      val payload = df.columns.filterNot(_ == key)
      df.select(col(key),
        struct(payload.map(col).toIndexedSeq: _*).as(as),
        col(seqCol).as(s"__seq_$as"))
    }
    packed(vFrom, "old_row").join(packed(vTo, "new_row"), Seq(key), "full_outer")
      .withColumn("change",
        when(col("__seq_old_row").isNull, lit("add"))
          .when(col("__seq_new_row").isNull, lit("del"))
          .when(col("__seq_old_row") =!= col("__seq_new_row"), lit("upd")))
      .filter(col("change").isNotNull)
      .select(col(key), col("change"), col("old_row"), col("new_row"))
  }

  /** Drop snapshots older than `keepFrom`: a bucket dir survives iff
    * some snapshot ≥ keepFrom still resolves to it — e.g. a v=0 bucket
    * never rewritten since stays on disk while v=0's superseded buckets
    * are deleted, together with any torn apply's orphans. The manifest
    * is left intact, so a reader pinned below `keepFrom` still resolves
    * its full snapshot and fails loudly on the first reclaimed bucket —
    * it never reads a partial one. */
  def vacuum(spark: SparkSession, base: String, keepFrom: Long): Unit = {
    val l = layout(base)
    val manifest = ManifestIO.entries(spark, l)
    require(keepFrom <= ManifestIO.maxCommit(manifest),
      s"keepFrom=$keepFrom is past the latest version")
    ManifestIO.sweep(spark, l, Seq(""), manifest,
      ManifestIO.retainedFrom(manifest, keepFrom))
  }
}
