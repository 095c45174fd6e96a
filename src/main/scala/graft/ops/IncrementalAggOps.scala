package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate store — the materialized-rollup
  * pattern: a 100 TB fact table's `GROUP BY key` summary is computed
  * once, persisted, and kept current by FOLDING each new batch in,
  * instead of re-aggregating the world per refresh.
  *
  * The store is partitioned by a hash bucket of the key, so a merge
  * - aggregates the (small) delta,
  * - reads back ONLY the buckets the delta's keys hash into (resolved
  *   from the manifest — untouched buckets' files are never listed),
  * - re-sums store partials with delta partials (sums/counts are
  *   monoidal: partial + partial = whole, any order), and
  * - writes ONLY those buckets as a NEW version (copy-on-write).
  *
  * Cost per refresh ∝ delta + affected buckets — at nBuckets sized so a
  * typical delta touches a fraction of them, the untouched store is
  * never read or written (spec-asserted byte-for-byte).
  *
  * == Durability (the store-family manifest commit) ==
  *
  * Data lives under `base/v=N/__bucket=B/`; the manifest
  * ([[graft.util.ManifestIO]], the commit core shared by every
  * manifest-committed store) names each version's buckets, and readers resolve
  * every bucket to its LATEST version. A merge writes `v=N` FIRST and
  * publishes it with one manifest append — the commit point — so:
  *
  *  - a torn merge (data written, manifest not) is INVISIBLE, and the
  *    retry overwrites the same version slot before publishing. The
  *    dynamic-partition-overwrite shape this replaces had an unfixable
  *    at-least-once window: the overwrite mutates in place, so neither
  *    marker-before nor marker-after ordering could make a replayed
  *    batch safe;
  *  - a merge carrying `batchTag` is REPLAY-IDEMPOTENT: the tag rides
  *    the same manifest append that publishes the data, and a
  *    redelivered batch finds it and no-ops — folds finally get the
  *    guard every sibling store already had (a re-fold silently
  *    double-counts, the exact bug class);
  *  - copy-on-write also removes the read-own-write fence the in-place
  *    overwrite forced (one fewer eager checkpoint per merge), and
  *    superseded bucket versions are reclaimed by [[vacuumAggStore]].
  *
  * Measures are restricted to sum-monoids (`sum` over caller-prepared
  * columns; counts as `sum(1)`): that is exactly the class for which
  * partial-merge is lossless. Averages derive as sum/count downstream;
  * non-monoidal measures (distinct, medians) need sketch stores (see
  * [[SketchOps]]) — merging raw partials would be wrong, so this API
  * simply doesn't accept them.
  *
  * Reader vs maintenance: [[readAggStoreAt]] resolves manifest-named
  * bucket versions; [[vacuumAggStore]]'s `retainVersions` is the
  * retention floor. The rule: the floor must cover the longest reader
  * window — a read racing a vacuum past the floor fails loudly
  * ("predates the vacuum retention" at resolve, or a missing-file
  * task error mid-read), never silently substitutes newer partials.
  *
  * Durability contract of record: `graft.ops.StoreContractSpec` —
  * the cross-family property suite every persisted store passes
  * (replay no-op, torn-write invisibility, RTBF permanence through
  * rebuild + replay, rebuild answer-preservation, loud
  * reader-vs-maintenance boundaries).
  */
object IncrementalAggOps {

  import graft.util.ManifestIO
  import ManifestIO.Entry

  private val BUCKET = "__bucket"

  /** `base/v=N/__bucket=B/`, committed through [[ManifestIO]]; a
    * marker entry (part -1) records an all-empty tagged merge. */
  private def layout(base: String) = ManifestIO.Layout(base, "v", BUCKET)

  /** The store's live data directories — the read path the MV rewrite
    * rule resolves per matched aggregate (the versioned analog of the
    * flat listing it replaced). */
  def liveStorePaths(spark: SparkSession, basePath: String): Seq[String] = {
    val l = layout(basePath)
    ManifestIO.resolve(ManifestIO.entries(spark, l)).map(l.dir)
  }

  /** Reclaim superseded bucket versions: every `v=N/__bucket=B` dir no
    * retained resolution points at is deleted ([[ManifestIO.sweep]]:
    * dirs numbered past the manifest's max are an in-flight writer's
    * slot and are skipped). `retainVersions` is the TIME-TRAVEL floor:
    * every [[readAggStoreAt]] of a version within the last
    * `retainVersions` merges stays resolvable — a (v, bucket) dir
    * survives iff it is some such read's resolution (v above the
    * horizon, or the bucket's latest at it). The manifest itself is
    * left intact — it is bounded by merges × touched buckets and holds
    * the replay tags, which must outlive the data they guard. */
  def vacuumAggStore(spark: SparkSession, basePath: String,
                     retainVersions: Int = 0): Unit = {
    val l = layout(basePath)
    val manifest = ManifestIO.entries(spark, l)
    val horizon = ManifestIO.maxCommit(manifest) - math.max(0, retainVersions)
    ManifestIO.sweep(spark, l, Seq(""), manifest,
      ManifestIO.retainedFrom(manifest, horizon))
  }

  /** Per-measure merge function. Any COMMUTATIVE MONOID whose partial
    * merge is the function itself qualifies: sum (the default), min,
    * max. Partial + partial = whole in any order for all three; only
    * sum additionally supports retraction (inverses exist). */
  private def kindOf(kinds: Seq[String], measures: Seq[String], m: String): String =
    if (kinds.isEmpty) "sum"
    else kinds(measures.indexOf(m)) match {
      case k @ ("sum" | "min" | "max") => k
      case bad => throw new IllegalArgumentException(
        s"unsupported measure kind '$bad' (sum|min|max)")
    }

  private def mergeExpr(kind: String, m: String) = kind match {
    case "sum" => sum(col(m)).as(m)
    case "min" => min(col(m)).as(m)
    case "max" => max(col(m)).as(m)
  }

  private def bucketed(df: DataFrame, keys: Seq[String], measures: Seq[String],
                       nBuckets: Int, kinds: Seq[String]): DataFrame = {
    val exprs = measures.map(m => mergeExpr(kindOf(kinds, measures, m), m))
    df.groupBy(keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
      .withColumn(BUCKET, pmod(hash(keys.map(col): _*), lit(nBuckets)))
  }

  /** Initial build: aggregate `df` by `keys` (merging each measure
    * column with its kind — all-sum when `kinds` is empty) into the
    * bucket-partitioned `v=0`, published by the manifest swap. */
  def writeAggStore(df: DataFrame, spark: SparkSession, basePath: String,
                    keys: Seq[String], measures: Seq[String],
                    nBuckets: Int = 64, kinds: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty && measures.nonEmpty)
    require(kinds.isEmpty || kinds.length == measures.length)
    // re-initializing over a live versioned store would leave its later
    // version dirs orphaned beyond the fresh manifest's horizon (where
    // vacuum treats them as an in-flight slot) — like the versioned doc
    // store, re-init must be an explicit delete-then-write
    val l = layout(basePath)
    require(!ManifestIO.exists(spark, l.manifest),
      s"aggregate store already exists at $basePath (manifest present) — " +
        "delete the base dir first to re-initialize, or merge into it")
    bucketed(df, keys, measures, nBuckets, kinds)
      .write.mode("overwrite").partitionBy(BUCKET).parquet(l.commitDir("", 0))
    ManifestIO.commit(spark, l,
      ManifestIO.writtenParts(spark, l, "", 0).map(Entry("", 0, _)), append = false)
  }

  /** Fold a new batch in. Only the delta's buckets are read (manifest-
    * resolved), re-summed and written as the next VERSION; every other
    * bucket's files are untouched and prior versions stay on disk until
    * [[vacuumAggStore]]. The manifest append is the commit point: a
    * torn merge is invisible, and a `batchTag` already in the manifest
    * makes the call a no-op — pass one and at-least-once redelivery
    * can never double-fold (without one the fold contract stands: a
    * batch must be merged exactly once). */
  def mergeIntoAggStore(delta: DataFrame, spark: SparkSession,
                        basePath: String, keys: Seq[String],
                        measures: Seq[String], nBuckets: Int = 64,
                        kinds: Seq[String] = Nil,
                        batchTag: Option[String] = None): Unit = {
    require(kinds.isEmpty || kinds.length == measures.length)
    val l = layout(basePath)
    val manifest = ManifestIO.entries(spark, l) // the op's ONLY manifest read
    if (batchTag.exists(t => manifest.exists(_.tag.contains(t)))) return
    // a store seeded from an EMPTY frame has a committed but row-less
    // manifest: its first merge takes slot 0 + 1 all the same
    val next = ManifestIO.nextCommit(manifest)
    // the RAW delta rides straight into the fold below: pre-aggregating
    // it first was a whole extra exchange (delta → hash-agg on keys →
    // checkpoint → union → hash-agg on keys+bucket) whose reduction the
    // fold's own map-side partial aggregation performs anyway — one
    // exchange instead of two, no eager delta checkpoint. The bucket
    // probe is one map-side-partial distinct over the delta's derived
    // bucket column (bounded by nBuckets); the delta is evaluated twice
    // (probe + fold), which the fold contract already assumes is safe —
    // a crash-retry re-evaluates it too.
    val dRaw = delta.withColumn(BUCKET, pmod(hash(keys.map(col): _*),
      lit(nBuckets)))
    val touched = dRaw.select(BUCKET).distinct()
      .collect().map(_.getInt(0)) // bounded by nBuckets, never data-sized
    if (touched.isEmpty) {
      // an all-empty tagged batch still records its replay marker
      batchTag.foreach(t => ManifestIO.commit(spark, l,
        Seq(Entry("", next, -1, tag = Some(t))), append = true))
      return
    }
    val touchedDirs = ManifestIO.resolve(manifest)
      .filter(e => touched.contains(e.part.toInt)).map(l.dir)
    // leaf-dir reads carry no partition columns; the bucket is a pure
    // function of the keys, so recompute it (same value as the dir name)
    val dCols = (keys ++ measures :+ BUCKET).map(col)
    val affected =
      if (touchedDirs.isEmpty) dRaw.select(dCols: _*).filter(lit(false))
      else spark.read.parquet(touchedDirs: _*)
        .withColumn(BUCKET, pmod(hash(keys.map(col): _*), lit(nBuckets)))
    val exprs = measures.map(m => mergeExpr(kindOf(kinds, measures, m), m))
    // copy-on-write: the fold writes v=next, never over what it reads —
    // no read-own-write fence (and no eager checkpoint) needed. Folding
    // store partials with RAW delta rows is exact for every supported
    // kind (sum/min/max are commutative monoids over rows and partials
    // alike).
    affected.select(dCols: _*).unionByName(dRaw.select(dCols: _*))
      .groupBy((keys :+ BUCKET).map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
      .select(dCols: _*)
      // write insurance (the DocStoreOps/VersionedStoreOps convention):
      // a non-deterministic delta re-evaluated between probe and fold
      // could otherwise land rows in a bucket the manifest append below
      // never publishes — silently dropped and later vacuumed
      .filter(col(BUCKET).isin(touched.toIndexedSeq: _*))
      .write.mode("overwrite") // a torn prior attempt at this id is replaced
      .partitionBy(BUCKET).parquet(l.commitDir("", next))
    val written = ManifestIO.writtenParts(spark, l, "", next).toSet
    // tombstone any touched bucket the fold left empty (cannot happen
    // for sum/min/max folds — zero rows persist — but resolution must
    // never fall back to a superseded copy if it ever did)
    ManifestIO.commit(spark, l, touched.toIndexedSeq.map(bk =>
      Entry("", next, bk, empty = !written(bk.toLong), tag = batchTag)),
      append = true)
  }

  /** Retract a previously-merged batch — the payoff of restricting
    * measures to sum-monoids: deletion is just merging the NEGATION, so
    * it inherits the merge's bucket locality for free. The batch must
    * be exactly what was merged (a fold, like the merge itself).
    * Keys whose counts reach zero keep a zero row — a groupBy consumer
    * sees an empty group either way; compact by rebuilding when zero
    * rows accumulate. */
  def retractFromAggStore(batch: DataFrame, spark: SparkSession,
                          basePath: String, keys: Seq[String],
                          measures: Seq[String],
                          nBuckets: Int = 64,
                          kinds: Seq[String] = Nil,
                          batchTag: Option[String] = None): Unit = {
    // retraction = merging the negation, which is only meaningful for
    // sum partials: a min/max partial is not invertible, and silently
    // summing against one would corrupt the stored extreme
    require(kinds.isEmpty || kinds.forall(_ == "sum"),
      s"retractFromAggStore supports sum measures only, got $kinds — " +
        "rebuild min/max stores instead of retracting from them")
    mergeIntoAggStore(
      batch.select((keys.map(col) ++
        measures.map(m => negate(col(m)).as(m))): _*),
      spark, basePath, keys, measures, nBuckets, batchTag = batchTag)
  }

  /** Retraction and merge as ONE bucket-local fold — the change-feed
    * maintenance step (see the pipeline_cdc_rollup gate): a CDC diff
    * yields old rows to retract and new rows to fold in, and since both
    * are sum-monoid folds they compose into a single pass over
    * `(−old) ∪ new` — one delta aggregation, one affected-bucket read,
    * one dynamic-partition rewrite, instead of running the whole
    * read-modify-write cycle twice. Same exactness (sums commute);
    * sum-only, like [[retractFromAggStore]]. */
  def applyDiffToAggStore(oldRows: DataFrame, newRows: DataFrame,
                          spark: SparkSession, basePath: String,
                          keys: Seq[String], measures: Seq[String],
                          nBuckets: Int = 64,
                          batchTag: Option[String] = None): Unit = {
    val cols = (keys ++ measures).map(col)
    mergeIntoAggStore(
      oldRows.select((keys.map(col) ++
        measures.map(m => negate(col(m)).as(m))): _*)
        .unionByName(newRows.select(cols: _*)),
      spark, basePath, keys, measures, nBuckets, batchTag = batchTag)
  }

  /** The current rollup: every bucket's latest committed version. */
  def readAggStore(spark: SparkSession, basePath: String): DataFrame = {
    val dirs = liveStorePaths(spark, basePath)
    require(dirs.nonEmpty, s"aggregate store at $basePath has no live data")
    spark.read.parquet(dirs: _*)
  }

  /** Highest committed version (the seed is 0, each merge — including
    * an all-empty tagged one — takes the next slot). */
  def maxCommittedVersion(spark: SparkSession, basePath: String): Long =
    ManifestIO.maxCommit(ManifestIO.entries(spark, layout(basePath)))

  /** TIME TRAVEL: the rollup exactly as of merge `v` — each bucket at
    * its latest version ≤ v, the payoff the copy-on-write layout
    * already paid for (superseded bucket versions stay on disk until
    * [[vacuumAggStore]]). Rollback/audit of a bad fold: read the store
    * at the version before it. Fails loudly (not wrongly) when `v`
    * predates the vacuum retention — resolution is manifest-driven, so
    * a reclaimed dir is detected ([[ManifestIO.requireRetained]]),
    * never silently substituted. */
  def readAggStoreAt(spark: SparkSession, basePath: String,
                     v: Long): DataFrame = {
    val l = layout(basePath)
    val manifest = ManifestIO.entries(spark, l)
    val maxC = ManifestIO.maxCommit(manifest)
    require(v >= 0 && v <= maxC,
      s"version $v out of range: store at $basePath has versions 0..$maxC")
    val dirs = ManifestIO.resolve(manifest, v)
    require(dirs.nonEmpty,
      s"aggregate store at $basePath has no data at version $v")
    ManifestIO.requireRetained(spark, l, v, dirs)
    spark.read.parquet(dirs.map(l.dir): _*)
  }

  /** Version diff: per-key measure values at `vFrom` vs `vTo`, one row
    * per key whose partials CHANGED (appeared, vanished, or moved) —
    * the [[VersionedStoreOps.diffVersions]] symmetry for rollups.
    * Output: keys, then `<m>_from` / `<m>_to` per measure (null on an
    * absent side). Bucket-local like every op here: only buckets
    * TOUCHED by merges in (vFrom, vTo] are read — an untouched
    * bucket's partials are byte-identical at both versions and can
    * contribute no diff row. */
  def diffAggStore(spark: SparkSession, basePath: String,
                   keys: Seq[String], measures: Seq[String],
                   vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom <= vTo, s"diffAggStore: vFrom $vFrom > vTo $vTo")
    val l = layout(basePath)
    val manifest = ManifestIO.entries(spark, l)
    val touched = manifest
      .filter(e => e.part >= 0 && e.c > vFrom && e.c <= vTo)
      .map(_.part).toSet
    def side(v: Long, suffix: String): DataFrame = {
      val dirs = ManifestIO.resolve(manifest, v).filter(e => touched(e.part))
      val cols = (keys.map(col) ++
        measures.map(m => col(m).as(s"${m}_$suffix")))
      // empty side: schema only — off the CURRENT store, so a diff over
      // buckets untouched since a vacuumed-away version still works
      if (dirs.isEmpty)
        readAggStore(spark, basePath).select(cols: _*).limit(0)
      else {
        ManifestIO.requireRetained(spark, l, v, dirs)
        spark.read.parquet(dirs.map(l.dir): _*).select(cols: _*)
      }
    }
    side(vFrom, "from").join(side(vTo, "to"), keys.toIndexedSeq, "full_outer")
      .filter(measures.map(m =>
        !(col(s"${m}_from") <=> col(s"${m}_to"))).reduce(_ || _))
  }

  /** Continuous rollup maintenance: fold a STREAMING delta in per
    * micro-batch, exactly-once over at-least-once delivery — the
    * engine's `batchId` is the merge's batch tag, so a batch
    * redelivered after a crash between the fold and the checkpoint
    * commit finds its tag in the manifest and no-ops (the guard the
    * in-place store could never have). `checkpoint` is mandatory:
    * batch ids are only monotone when the engine replays them from
    * one (see [[IncrementalJoinOps.joinViewSinkA]]). */
  def aggStoreSink(delta: DataFrame, basePath: String,
                   keys: Seq[String], measures: Seq[String],
                   checkpoint: String, nBuckets: Int = 64,
                   kinds: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    delta.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          mergeIntoAggStore(batch, batch.sparkSession, basePath, keys,
            measures, nBuckets, kinds, batchTag = Some(s"stream-$batchId"))
      }
      .start()

  // ------------------------------------------------- HDR quantile stores

  /** Store column names of an HDR rollup: the bucket lower bound and its
    * count. One HDR value column per store (register another store for a
    * second value) — shared with [[graft.plans.AggStoreRewrite]]. */
  val HdrBucketCol = "__hdr_b"
  val HdrCountCol = "__hdr_n"

  private def hdrFrame(df: DataFrame, keys: Seq[String], valueCol: String,
                       subBits: Int): DataFrame =
    df.select((keys.map(col) :+
        SketchOps.hdrBucket(col(valueCol), subBits).as(HdrBucketCol)): _*)
      .groupBy((keys :+ HdrBucketCol).map(col): _*)
      .agg(count(lit(1)).as(HdrCountCol))

  /** Build an HDR-sketch rollup: per (keys, log2-sub-bucket) counts —
    * a sum monoid over the (keys, bucket) grain, so the generic agg
    * store maintains it with bucket-local merges, and
    * `hdr_percentile(valueCol, p)` queries over the fact table are
    * servable from it at query-rewrite level (register via
    * [[graft.plans.AggStoreRegistry.register]] with kind `hdr`).
    * State per key is bounded by 64·2^subBits buckets at any corpus
    * size. `valueCol` must be integral (see SketchOps.hdrBucketTable). */
  def writeHdrStore(df: DataFrame, spark: SparkSession, basePath: String,
                    keys: Seq[String], valueCol: String,
                    nBuckets: Int = 64, subBits: Int = 5): Unit =
    writeAggStore(hdrFrame(df, keys, valueCol, subBits), spark, basePath,
      keys :+ HdrBucketCol, Seq(HdrCountCol), nBuckets)

  /** Fold a new batch into an HDR rollup (bucket-local, like every
    * agg-store merge; counts are sums, so the fold is exact). */
  def mergeIntoHdrStore(delta: DataFrame, spark: SparkSession,
                        basePath: String, keys: Seq[String],
                        valueCol: String, nBuckets: Int = 64,
                        subBits: Int = 5,
                        batchTag: Option[String] = None): Unit =
    mergeIntoAggStore(hdrFrame(delta, keys, valueCol, subBits), spark,
      basePath, keys :+ HdrBucketCol, Seq(HdrCountCol), nBuckets,
      batchTag = batchTag)

  // ------------------------------------------- CMS point-frequency stores

  /** Store column names of a CMS rollup: the flattened counter position
    * (`hash_row · w + bucket`) and its count. */
  val CmsPosCol = "__cms_p"
  val CmsCountCol = "__cms_n"

  /** The relational form of a CMS: per (keys, counter-position) counts.
    * Positions come from [[SketchOps.cmsPositions]] (the shared
    * `pmod(xxhash64(i, key), w)` definition), so the stored rows ARE the
    * sketch's counters — and because counters are plain sums, the
    * incrementally-folded store equals the one-shot sketch EXACTLY
    * (integer equality, spec-pinned), which is precisely what
    * [[graft.plans.AggStoreRewrite]]'s `hll` rejection note says no
    * union-of-registers sketch can claim. */
  private def cmsFrame(df: DataFrame, keys: Seq[String], keyCol: String,
                       d: Int, w: Int): DataFrame =
    df.select((keys.map(col) :+
        posexplode(SketchOps.cmsPositions(col(keyCol).cast("string"), d, w))): _*)
      .select((keys.map(col) :+
        (col("pos") * w + col("col")).cast("int").as(CmsPosCol)): _*)
      .groupBy((keys :+ CmsPosCol).map(col): _*)
      .agg(count(lit(1)).as(CmsCountCol))

  /** Build a CMS frequency rollup: point-frequency estimates for ANY
    * key become servable from ≤ d stored rows per probe, over a store
    * bounded by |groups|·d·w rows at any corpus size. */
  def writeCmsStore(df: DataFrame, spark: SparkSession, basePath: String,
                    keys: Seq[String], keyCol: String,
                    d: Int = 4, w: Int = 16384,
                    nBuckets: Int = 64): Unit =
    writeAggStore(cmsFrame(df, keys, keyCol, d, w), spark, basePath,
      keys :+ CmsPosCol, Seq(CmsCountCol), nBuckets)

  /** Fold a batch in (counter sums — exact, any order). A fold, not an
    * upsert — but `batchTag` rides the manifest commit like every
    * sibling store's guard, so tagged at-least-once streams can never
    * double-count a redelivered batch. */
  def mergeIntoCmsStore(delta: DataFrame, spark: SparkSession,
                        basePath: String, keys: Seq[String], keyCol: String,
                        d: Int = 4, w: Int = 16384,
                        nBuckets: Int = 64,
                        batchTag: Option[String] = None): Unit =
    mergeIntoAggStore(cmsFrame(delta, keys, keyCol, d, w), spark, basePath,
      keys :+ CmsPosCol, Seq(CmsCountCol), nBuckets, batchTag = batchTag)

  /** Retract a previously-merged batch — counters subtract exactly, so
    * CMS inherits the sum-store's compliance-deletion path (HLL can't:
    * register max has no inverse). */
  def retractFromCmsStore(batch: DataFrame, spark: SparkSession,
                          basePath: String, keys: Seq[String],
                          keyCol: String, d: Int = 4, w: Int = 16384,
                          nBuckets: Int = 64): Unit =
    retractFromAggStore(cmsFrame(batch, keys, keyCol, d, w), spark, basePath,
      keys :+ CmsPosCol, Seq(CmsCountCol), nBuckets)

  /** Point-frequency estimates served FROM the store: each candidate
    * key probes its d counter rows (left join — an absent row is a zero
    * counter) and takes the min. `candidates` must carry the group-key
    * columns (if any) plus `keyCol`; output is one row per distinct
    * (group, key) with `est_n`. Estimates from an incrementally-built
    * store equal the one-shot sketch's — counters are sums. */
  def cmsEstimateFromStore(candidates: DataFrame, spark: SparkSession,
                           basePath: String, keys: Seq[String],
                           keyCol: String, d: Int = 4,
                           w: Int = 16384): DataFrame = {
    val store = readAggStore(spark, basePath)
    val probes = candidates
      .select((keys.map(col) :+ col(keyCol)): _*).distinct()
      .select((keys.map(col) :+ col(keyCol) :+
        posexplode(SketchOps.cmsPositions(col(keyCol).cast("string"), d, w))): _*)
      .select((keys.map(col) :+ col(keyCol) :+
        (col("pos") * w + col("col")).cast("int").as(CmsPosCol)): _*)
    probes.join(store, (keys :+ CmsPosCol).toIndexedSeq, "left")
      .groupBy((keys :+ keyCol).map(col): _*)
      .agg(min(coalesce(col(CmsCountCol), lit(0L))).as("est_n"))
  }

  /** Retract a previously-merged batch from an HDR rollup — the bucket
    * counts are sums, so deletion (compliance removals, bad-batch
    * rollback) inherits [[retractFromAggStore]]'s bucket locality; no
    * other quantile sketch family is subtractable at all. The batch must
    * be exactly what was merged. Zero-count bucket rows may remain
    * (harmless to the rank walk — they add nothing to cum or tot);
    * rebuild to compact. */
  def retractFromHdrStore(batch: DataFrame, spark: SparkSession,
                          basePath: String, keys: Seq[String],
                          valueCol: String, nBuckets: Int = 64,
                          subBits: Int = 5): Unit =
    retractFromAggStore(hdrFrame(batch, keys, valueCol, subBits), spark,
      basePath, keys :+ HdrBucketCol, Seq(HdrCountCol), nBuckets)
}
