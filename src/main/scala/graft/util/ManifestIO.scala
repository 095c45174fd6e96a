package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** THE commit protocol of the four manifest-committed store families —
  * the versioned doc store ([[graft.ops.VersionedStoreOps]]), the
  * aggregate store ([[graft.ops.IncrementalAggOps]]), the vector store
  * ([[graft.ops.VectorStoreOps]]) and the join view
  * ([[graft.ops.IncrementalJoinOps]]). Each family decides WHAT to
  * write; this module owns how a write becomes visible, how a read
  * resolves it, and how superseded data is reclaimed:
  *
  *  - where the manifest lives under a store base ([[manifestDir]]) and
  *    the shape of its rows ([[Entry]]: one data partition dir
  *    `<base>/<tree>/<commitKey>=c/<partKey>=part/` per row, see
  *    [[Layout]]);
  *  - the versioned APPEND / SWAP commit of the manifest itself (below);
  *  - the listing of the partition dirs a write produced
  *    ([[writtenParts]]);
  *  - copy-on-write resolution — latest entry ≤ v per partition,
  *    tombstones excluded ([[resolve]]) — and the loud "reclaimed dir →
  *    predates the retention" check on it ([[requireRetained]]);
  *  - the orphan sweep ([[sweep]]) and the delete/compaction rewrite
  *    step: swap, carry replay tags forward as markers, GC
  *    ([[rewrite]]).
  *
  * The manifest names a store's live data directories; it is the single
  * commit point for every mutation, so ITS rewrite must never have a
  * window in which no committed manifest exists. A flat
  * `SaveMode.Overwrite` rewrite has exactly that window: Spark deletes
  * the old directory before the new job commits, and a crash inside it
  * leaves the store's (intact) data unreachable until manual surgery.
  *
  * Layout: `<dir>/v=N/` parquet snapshots. A version is COMMITTED iff
  * its `_SUCCESS` marker exists — written by the Hadoop committer at
  * job commit, strictly after every data file is in place. The three
  * operations:
  *
  *  - READ resolves the highest committed version (and only ever that —
  *    a half-written `v=N` with no `_SUCCESS` is invisible);
  *  - APPEND adds files INSIDE the live version's directory
  *    (`SaveMode.Append` stages under `_temporary` and renames in at
  *    job commit — no existing file is touched, so a torn append leaves
  *    the version exactly as it was);
  *  - SWAP (full rewrite: delete / compaction) writes `v=max+1` BESIDE
  *    the live version and retires older versions only after the new
  *    `_SUCCESS` lands. A crash before the marker leaves the old
  *    version live (the next swap overwrites the torn directory); a
  *    crash after it, mid-retire, leaves extra committed versions that
  *    readers ignore (max wins) and the next swap sweeps.
  *
  * Data dirs follow the same write-ahead rule: a mutation writes commit
  * `max + 1` FIRST and publishes it with one manifest append or swap, so
  * a torn mutation is invisible and its retry overwrites the same slot.
  *
  * Single writer at a time, as every store documents; readers collect
  * the manifest eagerly at resolution time, so retiring the prior
  * version immediately after a swap does not race them.
  */
object ManifestIO {

  private val Success = "_SUCCESS"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every `v=N` child of `dir`, committed or torn. */
  private def allVersions(spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(st => (st.getPath.getName.stripPrefix("v=").toLong, st.getPath))
  }

  private def committedVersions(spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val fs = fsOf(spark, dir)
    allVersions(spark, dir).filter { case (_, p) => fs.exists(new Path(p, Success)) }
  }

  /** A store EXISTS iff some committed manifest version does. Only a
    * fully absent manifest means fresh — a transient filesystem failure
    * must propagate, or an append would treat a live store as empty. */
  def exists(spark: SparkSession, dir: String): Boolean =
    committedVersions(spark, dir).nonEmpty

  /** The current committed manifest (highest committed version). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val vs = committedVersions(spark, dir)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    spark.read.parquet(vs.maxBy(_._1)._2.toString)
  }

  /** All committed manifest versions, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    committedVersions(spark, dir).map(_._1).sorted

  /** Highest committed manifest version — the handle to remember
    * before a mutation for a later [[readAt]]. */
  def maxVersion(spark: SparkSession, dir: String): Long = {
    val vs = committedVersions(spark, dir)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    vs.map(_._1).max
  }

  /** TIME TRAVEL: the manifest exactly as committed at version `v`.
    * Fails loudly when `v` was retired (a swap without
    * `retainHistory`, or a vacuum past its floor) — a reclaimed
    * snapshot is detected, never silently substituted. */
  def readAt(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val vs = committedVersions(spark, dir)
    require(vs.nonEmpty, s"no committed manifest under $dir")
    vs.find(_._1 == v) match {
      case Some((_, p)) => spark.read.parquet(p.toString)
      case None => throw new IllegalArgumentException(
        s"manifest version $v of $dir predates the retention " +
          s"(committed versions: ${vs.map(_._1).sorted.mkString(", ")}) — " +
          "mutate with retainHistory/gc=false and vacuum with a " +
          "retention floor to keep older reads alive")
    }
  }

  /** Append `rows` into the live version — the cheap path an ingest
    * takes: one new file lands via stage-and-rename, nothing existing
    * is touched, and the rename IS the commit point. */
  def append(spark: SparkSession, dir: String, rows: DataFrame): Unit = {
    val vs = committedVersions(spark, dir)
    require(vs.nonEmpty, s"no committed manifest under $dir to append to")
    val target = vs.maxBy(_._1)._2.toString
    rows.coalesce(1).write.mode(SaveMode.Append).parquet(target)
    spark.catalog.refreshByPath(dir)
  }

  /** Replace the manifest with `rows`: write `v=max+1` beside the live
    * version (overwriting any torn prior attempt at that id), then
    * retire every other version — or, with `retainHistory`, keep the
    * prior COMMITTED versions as time-travel snapshots ([[readAt]];
    * torn versions are still swept). Valid on a fresh `dir` too
    * (initial build writes `v=0`). */
  def swap(spark: SparkSession, dir: String, rows: DataFrame,
           retainHistory: Boolean = false): Unit = {
    val before = allVersions(spark, dir)
    val committedBefore = committedVersions(spark, dir).map(_._1).toSet
    val next = (before.map(_._1) :+ -1L).max + 1
    rows.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/v=$next")
    // VERIFY v=next is actually committed before retiring anything: if
    // the success marker is disabled (marksuccessfuljobs=false) or its
    // write failed, deleting the old versions would destroy the only
    // committed manifests — the exact window this class exists to close.
    val fs = fsOf(spark, dir)
    require(fs.exists(new Path(s"$dir/v=$next", Success)),
      s"manifest swap aborted: $dir/v=$next has no $Success marker " +
        "(committer success-marker disabled or failed); prior versions left live")
    before.foreach { case (v, p) =>
      if (!(retainHistory && committedBefore(v))) fs.delete(p, true)
    }
    spark.catalog.refreshByPath(dir)
  }

  /** Retire committed manifest versions below the retention floor
    * (keep the newest `retainVersions + 1`) — the [[readAt]] horizon
    * management, matching the agg store's vacuum semantics. */
  def vacuumVersions(spark: SparkSession, dir: String,
                     retainVersions: Int): Unit = {
    val vs = committedVersions(spark, dir)
    if (vs.nonEmpty) {
      val horizon = vs.map(_._1).max - math.max(0, retainVersions)
      val fs = fsOf(spark, dir)
      vs.filter(_._1 < horizon).foreach { case (_, p) => fs.delete(p, true) }
      spark.catalog.refreshByPath(dir)
    }
  }

  // ------------------------------------------------------ store commits

  /** Where a store's manifest lives under its base. */
  def manifestDir(base: String): String = s"$base/_manifest"

  /** One manifest row: the data partition dir commit `c` wrote for
    * partition `part` of `tree` (see [[Layout.dir]]). Two row kinds
    * name no dir: `part < 0` is a pure replay MARKER (a tag whose data
    * rows were rewritten away, or an all-empty tagged commit — the
    * replay guard must outlive the data it guarded), and `empty` is a
    * copy-on-write TOMBSTONE (the partition has no rows from commit `c`
    * on, so resolution must not fall back to an older copy). `tag` is
    * the idempotence key of a replayable batch, riding the same append
    * that publishes its data. */
  final case class Entry(tree: String, c: Long, part: Long,
                         empty: Boolean = false, tag: Option[String] = None) {
    def isData: Boolean = part >= 0 && !empty
    private[ManifestIO] def key: (String, Long, Long) = (tree, c, part)
  }

  /** A store's on-disk shape: data under
    * `<base>/<tree>/<commitKey>=<c>/<partKey>=<part>/` (the tree `""`
    * is the base itself), the manifest at [[manifestDir]]. */
  final case class Layout(base: String, commitKey: String, partKey: String) {
    def manifest: String = manifestDir(base)
    def treeDir(tree: String): String = if (tree.isEmpty) base else s"$base/$tree"
    def commitDir(tree: String, c: Long): String = s"${treeDir(tree)}/$commitKey=$c"
    def dir(e: Entry): String = s"${commitDir(e.tree, e.c)}/$partKey=${e.part}"
  }

  private def parse(df: DataFrame): Seq[Entry] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[Entry].collect().toIndexedSeq
  }

  /** The committed manifest's rows; None on a fresh base. ONE Spark
    * read — every store mutation resolves its manifest exactly once
    * and threads the array through (it is bounded by commits × parts). */
  def entriesOpt(spark: SparkSession, l: Layout): Option[Seq[Entry]] =
    if (!exists(spark, l.manifest)) None else Some(parse(read(spark, l.manifest)))

  /** The committed manifest's rows; fails loudly on a fresh base. */
  def entries(spark: SparkSession, l: Layout): Seq[Entry] =
    entriesOpt(spark, l).getOrElse(throw new IllegalArgumentException(
      s"no committed store under ${l.base} (manifest ${l.manifest} absent)"))

  /** The manifest rows as committed at manifest version `v` ([[readAt]]). */
  def entriesAt(spark: SparkSession, l: Layout, v: Long): Seq[Entry] =
    parse(readAt(spark, l.manifest, v))

  /** Highest commit id the manifest names (markers included), -1 when
    * it names none. */
  def maxCommit(entries: Seq[Entry]): Long = (entries.map(_.c) :+ -1L).max

  /** The slot the next mutation writes its data into. */
  def nextCommit(entries: Seq[Entry]): Long = maxCommit(entries) + 1

  /** Publish `rows`: appended inside the live manifest version, or
    * swapped in as a new one (`retainHistory` keeps the prior version
    * readable through [[entriesAt]]). This is the mutation's commit
    * point; the session's listing cache is refreshed for the whole
    * store. */
  def commit(spark: SparkSession, l: Layout, rows: Seq[Entry], append: Boolean,
             retainHistory: Boolean = false): Unit = {
    import spark.implicits._
    val df = rows.toDF()
    if (append) this.append(spark, l.manifest, df)
    else swap(spark, l.manifest, df, retainHistory)
    spark.catalog.refreshByPath(l.base)
  }

  /** Ids of the `key=N` subdirectories of `dir` (none when absent). */
  private def ids(fs: FileSystem, dir: String, key: String): Seq[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(s"$key=") =>
        st.getPath.getName.stripPrefix(s"$key=").toLong
    }
  }

  /** Partition ids a just-written commit dir materialized — one
    * filesystem listing instead of a distinct-collect Spark job over the
    * written frame. The committer has renamed every task file in by the
    * time this runs, so the listing is exact. */
  def writtenParts(spark: SparkSession, l: Layout, tree: String, c: Long): Seq[Long] =
    ids(fsOf(spark, l.base), l.commitDir(tree, c), l.partKey)

  /** Copy-on-write resolution (versioned doc and aggregate stores): per
    * (tree, part), the latest entry at or below `asOf`; tombstones and
    * markers excluded. Pure — works on an already-read manifest. */
  def resolve(entries: Seq[Entry], asOf: Long = Long.MaxValue): Seq[Entry] =
    entries.filter(e => e.part >= 0 && e.c <= asOf)
      .groupBy(e => (e.tree, e.part)).values
      .map(_.maxBy(_.c)).filter(_.isData).toSeq

  /** Every entry a copy-on-write read at version ≥ `floor` can resolve
    * to: all entries above the floor plus each partition's latest at it
    * — what a vacuum with that retention floor must keep. */
  def retainedFrom(entries: Seq[Entry], floor: Long): Seq[Entry] =
    resolve(entries, floor) ++ entries.filter(e => e.isData && e.c > floor)

  /** The loud reader-vs-maintenance boundary: every dir a read of
    * version `v` resolved must still exist, or the read predates the
    * vacuum retention floor — detected at resolution, never silently
    * answered from the dirs that survived. */
  def requireRetained(spark: SparkSession, l: Layout, v: Long,
                      resolved: Seq[Entry]): Unit = {
    val fs = fsOf(spark, l.base)
    resolved.foreach { e =>
      require(fs.exists(new Path(l.dir(e))),
        s"version $v predates the vacuum retention floor: ${l.dir(e)} was " +
          "reclaimed (keep history with a retention floor that covers the " +
          "longest reader window)")
    }
  }

  /** Parquet files per partition across the `live` entries' dirs of
    * `tree` — ONE recursive listing (a batched iterator: O(1) round
    * trips on an object store, not a listStatus per commit × part), so
    * torn-write orphans never count. */
  def liveFileCounts(spark: SparkSession, l: Layout, tree: String,
                     live: Seq[Entry]): Map[Long, Int] = {
    val keys = live.map(_.key).toSet
    val root = new Path(l.treeDir(tree))
    val fs = fsOf(spark, l.base)
    val counts = scala.collection.mutable.Map.empty[Long, Int]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next().getPath
        val partDir = f.getParent
        val commitDir = partDir.getParent
        if (f.getName.endsWith(".parquet") &&
            partDir.getName.startsWith(s"${l.partKey}=") &&
            commitDir.getName.startsWith(s"${l.commitKey}=")) {
          val part = partDir.getName.stripPrefix(s"${l.partKey}=").toLong
          val c = commitDir.getName.stripPrefix(s"${l.commitKey}=").toLong
          if (keys((tree, c, part))) counts.update(part, counts.getOrElse(part, 0) + 1)
        }
      }
    }
    counts.toMap
  }

  /** Delete `dirs`, then every commit dir of `commits` left without a
    * partition dir. */
  private def reclaim(spark: SparkSession, l: Layout, dirs: Seq[Entry],
                      commits: Seq[(String, Long)]): Unit = {
    val fs = fsOf(spark, l.base)
    dirs.foreach(e => fs.delete(new Path(l.dir(e)), true))
    commits.foreach { case (tree, c) =>
      if (ids(fs, l.commitDir(tree, c), l.partKey).isEmpty)
        fs.delete(new Path(l.commitDir(tree, c)), true)
    }
  }

  /** Sweep every data dir of `trees` that `keep` does not name: deferred
    * GC and torn-write orphans alike, emptied commit dirs included.
    * Safe with respect to READERS — they resolve only manifest-named
    * dirs, so nothing swept is reachable by a new resolution (run it
    * once readers older than the retention floor have drained). Safe
    * alongside a concurrent WRITER too: commit dirs NUMBERED PAST the
    * committed max (of `current`, markers included) are skipped — every
    * mutation writes its data under `max + 1` before publishing, so an
    * in-flight write is exactly there, and deleting it mid-write would
    * let its manifest row publish dangling paths. A torn attempt left
    * in that slot is overwritten by the next mutation at the same id. */
  def sweep(spark: SparkSession, l: Layout, trees: Seq[String],
            current: Seq[Entry], keep: Seq[Entry]): Unit = {
    val maxC = maxCommit(current)
    val kept = keep.map(_.key).toSet
    val fs = fsOf(spark, l.base)
    val commits = for {
      tree <- trees
      c <- ids(fs, l.treeDir(tree), l.commitKey) if c <= maxC
    } yield (tree, c)
    val orphans = for {
      (tree, c) <- commits
      part <- ids(fs, l.commitDir(tree, c), l.partKey)
      if !kept((tree, c, part))
    } yield Entry(tree, c, part)
    reclaim(spark, l, orphans, commits)
    spark.catalog.refreshByPath(l.base)
  }

  /** The delete/compaction rewrite step, once the rewritten partitions'
    * data sits in commit `next`: swap the manifest so every (tree, part)
    * in `rewritten` resolves ONLY to `added`, carry the replay tags of
    * the superseded rows forward as markers (a late replay still finds
    * its guard), then GC the superseded dirs. `gc = false` defers the
    * deletion AND keeps the prior manifest version, so the pre-rewrite
    * state stays a readable snapshot ([[entriesAt]]) until a [[sweep]]
    * past its retention floor; a crash between swap and GC leaves
    * orphans no resolution reaches. */
  def rewrite(spark: SparkSession, l: Layout, entries: Seq[Entry], next: Long,
              rewritten: Set[(String, Long)], added: Seq[Entry],
              gc: Boolean): Unit = {
    val (dropped, kept) = entries.partition(e =>
      e.part >= 0 && rewritten((e.tree, e.part)))
    val markers = dropped.flatMap(_.tag).distinct
      .filterNot(t => kept.exists(_.tag.contains(t)))
      .map(t => Entry("", next, -1L, tag = Some(t)))
    commit(spark, l, kept ++ markers ++ added, append = false,
      retainHistory = !gc)
    if (gc) reclaim(spark, l, dropped, dropped.map(e => (e.tree, e.c)).distinct)
  }
}
