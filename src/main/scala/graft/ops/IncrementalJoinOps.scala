package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained JOIN view — the delta-join rule of classic
  * incremental view maintenance, the join-shaped sibling of
  * [[IncrementalAggOps]]: a 100 TB `A ⋈ B` is joined once, persisted,
  * and kept current under APPEND-ONLY batches by
  *
  *   ΔJ  =  ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
  *
  * (A, B are the pre-append states; the three terms partition the new
  * pairs, so J ∪ ΔJ is exactly (A∪ΔA) ⋈ (B∪ΔB) with no dedup pass).
  *
  * All three tables live bucket-partitioned by the join key's hash, so
  * a refresh joins each delta against ONLY the buckets its keys hash
  * into and APPENDS — nothing is ever rewritten, and the delta⋈delta
  * term is delta-sized. Cost per refresh ∝ deltas + matching buckets;
  * the rest of A, B and J is never read or written (spec-asserted
  * byte-for-byte).
  *
  * Durability: every refresh is MANIFEST-COMMITTED through
  * [[graft.util.ManifestIO]], the commit core every manifest-committed
  * store shares. Data lives under `side/c=<commit>/__bucket=<b>/`
  * (side ∈ a, b, j) and one manifest of (side, commit, bucket, tag)
  * entries names the live directories; reads resolve the manifest and
  * never list the side trees. A refresh writes ΔA, ΔB and ΔJ as commit `N` of their sides
  * FIRST and publishes all three with ONE manifest append — so a crash
  * anywhere inside the multi-table apply leaves nothing visible, and a
  * retry overwrites the torn commit directories at the same id before
  * publishing. The optional `tag` (a Structured Streaming batch id)
  * rides the same manifest rows, making streamed refreshes exactly-once
  * ([[joinViewSinkA]]): the one append is simultaneously the data
  * commit and the replay marker. Compaction rewrites fragmented buckets
  * into a new commit per side, swaps the manifest (tags preserved as
  * markers when their data rows are superseded), then GCs.
  *
  * Inner equi-join, append-only sides (retraction of join rows needs
  * multiplicity bookkeeping — out of scope here; use the
  * [[DocStoreOps]] LWW store when rows change in place). Column names
  * besides the key must be disjoint across A and B; A-side and ΔA
  * schemas match (same for B). Single writer at a time, as in the
  * sibling stores.
  *
  * Durability contract of record: `graft.ops.StoreContractSpec` —
  * the cross-family property suite every persisted store passes
  * (replay no-op, torn-write invisibility, RTBF permanence through
  * rebuild + replay, rebuild answer-preservation).
  */
object IncrementalJoinOps {

  import graft.util.ManifestIO
  import ManifestIO.Entry

  private val BUCKET = "__bucket"
  private val Sides = Seq("a", "b", "j")

  /** `base/<side>/c=<commit>/__bucket=<b>/`, committed through
    * [[ManifestIO]]: one manifest for all three sides (the entry's tree
    * is the side), so a refresh publishes ΔA, ΔB and ΔJ with ONE append. */
  private def layout(base: String) = ManifestIO.Layout(base, "c", BUCKET)

  private def schemaPath(base: String, side: String) = s"$base/$side/_schema"

  /** A side's schema as an empty frame, from its side-car — no data-dir
    * listing, valid even when the side holds zero live rows. */
  private def emptySide(spark: SparkSession, base: String, side: String): DataFrame =
    spark.read.parquet(schemaPath(base, side)).filter(lit(false))

  private def withBucket(df: DataFrame, key: String, nBuckets: Int): DataFrame =
    df.withColumn(BUCKET, pmod(hash(col(key)), lit(nBuckets)))

  /** Rows of `side`'s `dirs`, or `like`'s schema when there are none
    * (sides and their deltas share schemas by contract). */
  private def readDirs(spark: SparkSession, base: String, side: String,
                       dirs: Seq[Entry], like: => DataFrame): DataFrame =
    if (dirs.isEmpty) like.filter(lit(false))
    else spark.read.option("basePath", layout(base).treeDir(side))
      .parquet(dirs.map(layout(base).dir): _*)
      .drop("c", BUCKET)

  /** A side's live rows, optionally restricted to `buckets` — the
    * restriction prunes at DIR-RESOLUTION time (only the touched
    * buckets' directories are even listed). */
  private def readSideLive(spark: SparkSession, base: String, side: String,
                           manifest: Seq[Entry],
                           buckets: Option[Set[Long]],
                           like: => DataFrame): DataFrame =
    readDirs(spark, base, side, manifest.filter(e =>
      e.tree == side && e.isData && buckets.forall(_.contains(e.part))), like)

  /** Initial build: persists `a`, `b` and their join under `base` as
    * commit 0 of each side, published by one manifest write. Overwrite
    * semantics — any prior view at the path is removed first. */
  def writeJoinView(a: DataFrame, b: DataFrame, spark: SparkSession,
                    base: String, key: String, nBuckets: Int = 64): Unit = {
    val shared = a.columns.toSet.intersect(b.columns.toSet)
    require(shared == Set(key),
      s"sides must share only the join key, got $shared")
    // "c" and "__bucket" are the layout's partition columns: a data
    // column with either name would be shadowed by the directory value
    // on read and then dropped — reject loudly instead
    val reserved = (a.columns ++ b.columns).toSet.intersect(Set("c", BUCKET))
    require(reserved.isEmpty,
      s"column name(s) $reserved are reserved by the view's layout")
    val l = layout(base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (l.manifest +: Sides.map(l.treeDir)).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    // the three sides' builds are INDEPENDENT jobs writing disjoint
    // paths — submit them concurrently so each job's task tail
    // back-fills the next (the manifest, the single commit point,
    // still lands once and last)
    val sides = IndexedSeq(("a", a), ("b", b), ("j", a.join(b, key)))
    graft.util.Par.run(sides.map { case (side, df) => () => {
      // schema side-car: one empty parquet footer per side, so empty
      // live-dir resolutions (empty initial join, all-empty refreshes,
      // the streamed path's ΔB) get the TRUE schema without listing a
      // single data directory
      df.limit(0).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(schemaPath(base, side))
      withBucket(df, key, nBuckets)
        .write.mode(SaveMode.Overwrite).partitionBy(BUCKET)
        .parquet(l.commitDir(side, 0))
    }}: _*)
    ManifestIO.commit(spark, l, Sides.flatMap(side =>
      ManifestIO.writtenParts(spark, l, side, 0).map(Entry(side, 0, _))),
      append = false)
  }

  /** Fold new rows into both sides and the view. Either delta may be
    * empty. Only buckets the deltas' keys hash into are read; the three
    * commit directories land first, ONE manifest append publishes them
    * (with `tag` when the refresh is a streamed batch). */
  def appendToJoinView(dA: DataFrame, dB: DataFrame, spark: SparkSession,
                       base: String, key: String, nBuckets: Int = 64,
                       tag: Option[Long] = None): Unit = {
    applyManifest(dA, dB, spark, base, key, nBuckets, tag,
      ManifestIO.entries(spark, layout(base)))
  }

  /** The refresh against an already-read manifest — each public entry
    * reads the manifest exactly once and threads it here (the tagged
    * streaming path would otherwise pay two collects per batch).
    *
    * Plan shape: the two DELTA COMMIT DIRECTORIES land first (their
    * writes are independent jobs, submitted concurrently so one's task
    * tail back-fills the other), and everything downstream derives from
    * what was WRITTEN — the touched-bucket sets come off one driver
    * listing per side (the same listing the manifest rows need anyway)
    * and the ΔJ terms read the written files back. The written dirs ARE
    * the frozen snapshot, so the eager per-delta localCheckpoint (a
    * second full materialization of each delta) and the per-side
    * distinct-bucket collect jobs the old shape paid are gone — four
    * actions per refresh instead of eight, and at corpus scale each
    * delta's bytes are materialized once (its commit file), not twice
    * (checkpoint blocks + commit file). */
  private def applyManifest(dA: DataFrame, dB: DataFrame, spark: SparkSession,
                            base: String, key: String, nBuckets: Int,
                            tag: Option[Long],
                            manifest: Seq[Entry]): Unit = {
    val l = layout(base)
    val next = ManifestIO.nextCommit(manifest)
    def writeDelta(side: String, d: DataFrame): Unit =
      // overwrite: a torn previous attempt at this commit id is replaced
      withBucket(d, key, nBuckets)
        .write.mode(SaveMode.Overwrite).partitionBy(BUCKET)
        .parquet(l.commitDir(side, next))
    def written(side: String): Seq[Entry] =
      ManifestIO.writtenParts(spark, l, side, next)
        .map(Entry(side, next, _, tag = tag.map(_.toString)))
    graft.util.Par.run(() => writeDelta("a", dA), () => writeDelta("b", dB))
    val wA = written("a")
    val wB = written("b")
    // the just-written commit dirs read back: a stable on-disk snapshot
    // of each delta (`like` supplies the schema when the delta was empty
    // and wrote no bucket directory)
    val dAr = readDirs(spark, base, "a", wA, dA)
    val dBr = readDirs(spark, base, "b", wB, dB)
    // pre-append states by construction: readSideLive resolves the
    // manifest read before any new directory landed, so the commit dirs
    // written above are invisible to these resolutions
    val aAff = readSideLive(spark, base, "a", manifest, Some(wB.map(_.part).toSet), dA)
    val bAff = readSideLive(spark, base, "b", manifest, Some(wA.map(_.part).toSet), dB)
    val deltaJ = dAr.join(bAff, key)
      .unionByName(aAff.join(dBr, key))
      .unionByName(dAr.join(dBr, key))
    writeDelta("j", deltaJ)
    val rows = wA ++ wB ++ written("j")
    // an all-empty tagged refresh still records its replay marker
    val withMarker =
      if (rows.nonEmpty || tag.isEmpty) rows
      else Seq(Entry("", next, -1, tag = tag.map(_.toString)))
    // the commit point for all three tables at once
    if (withMarker.nonEmpty)
      ManifestIO.commit(spark, l, withMarker, append = true)
  }

  /** The maintained join (all buckets); a live-but-empty view (no key
    * overlap yet) is an empty frame, not an error. */
  def readJoinView(spark: SparkSession, base: String): DataFrame = {
    readSideLive(spark, base, "j", ManifestIO.entries(spark, layout(base)),
      None, emptySide(spark, base, "j"))
  }

  /** [[appendToJoinView]] for side A guarded by a batch tag: a tag
    * already in the manifest means the batch committed in a previous
    * incarnation and the call is a no-op (returns false). Because the
    * tag rides the SAME manifest append that publishes the three commit
    * directories, there is no state in which the batch is
    * half-remembered — the torn-apply at-least-once window of a
    * side-car ledger does not exist here. */
  def appendSideATagged(batch: DataFrame, spark: SparkSession, base: String,
                        key: String, nBuckets: Int, tag: Long): Boolean = {
    val manifest = ManifestIO.entries(spark, layout(base))
    if (manifest.exists(_.tag.contains(tag.toString))) false
    else {
      // an empty frame with the TRUE b-side schema from the side-car —
      // no listing, valid even before any B data exists (the
      // fact-stream / dimension-loads-later pattern)
      applyManifest(batch, emptySide(spark, base, "b"), spark, base, key,
        nBuckets, Some(tag), manifest)
      true
    }
  }

  /** Continuous maintenance: fold a STREAMING delta of side A into the
    * view per micro-batch (side-B deltas keep arriving through the
    * batch API — the common fact-stream / dimension-batch shape). Each
    * trigger inherits [[appendToJoinView]]'s bucket locality;
    * redelivered batches are exactly-once via the manifest-borne batch
    * tag ([[appendSideATagged]]).
    *
    * `checkpoint` is MANDATORY: batch ids are only monotone across
    * restarts when the engine replays them from a checkpoint. Without
    * one, a restarted query re-numbers from 0, every new batch's tag
    * collides with an old one already in the manifest, and
    * [[appendSideATagged]] silently drops genuinely new data — a
    * checkpoint-less tagged sink is not at-least-once, it is lossy. */
  def joinViewSinkA(deltaA: DataFrame, base: String, key: String,
                    nBuckets: Int = 64,
                    checkpoint: String) =
    deltaA.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          appendSideATagged(batch, batch.sparkSession, base, key,
            nBuckets, batchId): Unit
        }
      }
      .start()

  /** Sweep every data directory the manifest no longer names —
    * deferred compaction GC (`gc = false`) and torn-apply orphans
    * alike ([[ManifestIO.sweep]], which skips commit dirs numbered past
    * the manifest's max — the slot a concurrent refresh or compaction
    * is writing into before its publish). The view has no as-of read,
    * so the manifest versions a deferred compaction kept are retired
    * first. */
  def vacuumJoinView(spark: SparkSession, base: String): Unit = {
    val l = layout(base)
    ManifestIO.vacuumVersions(spark, l.manifest, retainVersions = 0)
    val manifest = ManifestIO.entries(spark, l)
    ManifestIO.sweep(spark, l, Sides, manifest, manifest)
  }

  /** Small-files maintenance: every refresh appends one file per
    * touched bucket per side, so long-lived views accumulate files
    * linearly in refresh count. Rewrite each bucket of the three tables
    * that holds more than `maxFilesPerBucket` LIVE files into a new
    * commit of its side — bucket layout (and therefore refresh
    * locality) preserved, data unchanged (spec-asserted); the
    * [[ManifestIO.rewrite]] swap retains ingest tags whose data rows are
    * superseded as markers. Buckets under the threshold keep their
    * files byte-untouched. File counting is ONE recursive listing per
    * side, never a per-directory listStatus loop. */
  def compactJoinView(spark: SparkSession, base: String,
                      maxFilesPerBucket: Int = 4,
                      gc: Boolean = true): Unit = {
    // ONE manifest read and ONE swap for all three sides: their manifest
    // entries are disjoint (the tree is the side), so the per-side
    // rewrites can all land first — under one shared commit id, in
    // per-side dirs — and a single swap publishes everything. A crash
    // before the swap leaves the prior manifest live and the orphan
    // c=<next> dirs are the same in-flight slot a torn refresh leaves
    // (vacuum skips them; the next writer overwrites them).
    val l = layout(base)
    val manifest = ManifestIO.entries(spark, l)
    val next = ManifestIO.nextCommit(manifest)
    val rewritten = Sides.flatMap { side =>
      val live = manifest.filter(e => e.tree == side && e.isData)
      val frag = ManifestIO.liveFileCounts(spark, l, side, live)
        .filter(_._2 > maxFilesPerBucket).keySet
      if (frag.nonEmpty) {
        spark.read.option("basePath", l.treeDir(side))
          .parquet(live.filter(e => frag(e.part)).map(l.dir): _*)
          .drop("c")
          .withColumn(BUCKET, col(BUCKET).cast("int"))
          .repartition(frag.size, col(BUCKET))
          .write.mode(SaveMode.Overwrite).partitionBy(BUCKET)
          .parquet(l.commitDir(side, next))
      }
      frag.map((side, _))
    }
    if (rewritten.nonEmpty)
      ManifestIO.rewrite(spark, l, manifest, next, rewritten.toSet,
        Sides.flatMap(side => ManifestIO.writtenParts(spark, l, side, next)
          .map(Entry(side, next, _))),
        gc)
  }
}
