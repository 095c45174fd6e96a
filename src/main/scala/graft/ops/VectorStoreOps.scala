package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A persistent, incrementally-ingestable IVF vector store.
  *
  * [[SimilarityOps.ivfTopKWithCentroids]] re-assigns the whole corpus to
  * cells on every search — right for one-shot queries, waste for a
  * serving corpus that only ever GROWS. This operator persists the
  * assignment: the corpus is written once as a parquet table
  * PARTITIONED BY the cell id, new batches are assigned against the
  * frozen centroid table and appended as new commit directories under
  * the same cells, and a search reads the store back with the probed
  * cells pushed into the scan as a dynamic partition-pruning filter —
  * at nlist=1024 / nprobe=32 a query batch physically reads ~nprobe/nlist
  * of a 100 TB store, and an ingest touches only the delta (the store is
  * never re-assigned, never re-shuffled).
  *
  * Layout choice: DIRECTORY partitioning (not bucketing) because the
  * probe predicate is a small IN-list over cell ids — exactly what
  * partition pruning eliminates at file-listing time; bucketing would
  * only co-locate a shuffle that the broadcast probe join doesn't need.
  *
  * Durability: every mutation is MANIFEST-COMMITTED through
  * [[graft.util.ManifestIO]], the commit core every manifest-committed
  * store shares. Data lives under `items/c=<commit>/cid=<cell>/` and the
  * manifest's (commit, cell) entries name the live directories; reads
  * resolve the manifest and never list `items/` itself, so a torn
  * ingest (task or job death after some cell files landed but before
  * the manifest row) is INVISIBLE — the next search returns exactly the
  * last committed state, and a retried append overwrites the torn
  * commit directory before publishing it. Delete and compaction write
  * their rewritten cells as a NEW commit, swap the manifest, and only
  * then garbage-collect the superseded directories (single writer at a
  * time). The manifest is bounded by live (commit, cell) pairs —
  * commits × nlist driver-side rows, the same order as the versioned
  * store's nBuckets × versions.
  *
  * Reader vs maintenance: mutations with `gc = false` retain the
  * superseded manifest version AND its data dirs as a time-travel
  * snapshot ([[storeVersion]] / [[readStoreAt]] / [[searchStoreAt]]);
  * [[vacuumStore]]'s `retainVersions` is the retention floor. The
  * rule: the floor must cover the longest reader window — a reader
  * that races maintenance past the floor fails loudly ("predates the
  * retention" at resolve, or a missing-file task error mid-read),
  * never silently reads substituted data, because every read resolves
  * a committed manifest snapshot and nothing else.
  *
  * Durability contract of record: `graft.ops.StoreContractSpec` —
  * the cross-family property suite every persisted store passes
  * (replay no-op, torn-write invisibility, RTBF permanence through
  * rebuild + replay, rebuild answer-preservation, loud
  * reader-vs-maintenance boundaries).
  */
object VectorStoreOps {

  import graft.util.ManifestIO
  import ManifestIO.Entry

  private val Items = "items"

  /** `base/items/c=<commit>/cid=<cell>/`, committed through
    * [[ManifestIO]]. A manifest entry is a live (commit, cell) dir plus
    * the OPTIONAL ingest tag that committed it — the idempotence key for
    * streamed batches (see [[ingestStream]]): a replayed batch finds its
    * tag already present and skips, so the manifest append is
    * simultaneously the data commit AND the processed-marker, with no
    * second file whose write could tear away from the first. The store
    * is INITIALIZED iff a committed manifest exists — a store deleted
    * down to zero rows keeps an (empty) manifest and stays appendable. */
  private def layout(base: String) = ManifestIO.Layout(base, "c", "cid")

  private def itemsPath(base: String) = layout(base).treeDir(Items)

  private def hadoopFs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def emptyStore(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Array[Float], Long)].toDF("item_id", "cv", "cid")
  }

  /** The COMMITTED store contents: `(item_id, cv, cid)`. Resolves the
    * manifest and reads exactly the directories it names — files from a
    * torn (uncommitted) ingest are never included. This is the ONLY way
    * the store's data is read, internally and by callers. */
  def readStore(spark: SparkSession, basePath: String): DataFrame = {
    val live = ManifestIO.entries(spark, layout(basePath)).filter(_.isData)
    // emptied-but-alive store (delete-to-zero): an empty result, not an
    // error — a serving endpoint over a compliance-emptied tenant store
    // must answer queries with zero rows until the next append
    if (live.isEmpty) emptyStore(spark) else readStoreFrom(spark, basePath, live)
  }

  /** Current committed manifest version — the handle to remember
    * BEFORE a delete/compaction (run with `gc = false`) if that
    * snapshot must stay readable via [[readStoreAt]]. Appends land
    * INSIDE the live version (they add data, never supersede any), so
    * versions advance exactly at the rewriting mutations — the
    * rollback/audit points. */
  def storeVersion(spark: SparkSession, basePath: String): Long =
    ManifestIO.maxVersion(spark, layout(basePath).manifest)

  /** TIME TRAVEL: the store contents exactly as committed at manifest
    * version `v` ([[storeVersion]]) — each cell resolved through THAT
    * manifest snapshot, so a later delete/compaction is invisible.
    * Requires the history to still exist: mutate with `gc = false` and
    * vacuum with a retention floor; a reclaimed version or data dir
    * fails loudly ([[ManifestIO.readAt]] /
    * [[ManifestIO.requireRetained]]), never silently substitutes newer
    * data. */
  def readStoreAt(spark: SparkSession, basePath: String, v: Long): DataFrame = {
    val l = layout(basePath)
    val live = ManifestIO.entriesAt(spark, l, v).filter(_.isData)
    if (live.isEmpty) emptyStore(spark)
    else {
      ManifestIO.requireRetained(spark, l, v, live)
      readStoreFrom(spark, basePath, live)
    }
  }

  /** [[searchStore]] against the [[readStoreAt]] snapshot — ranked
    * retrieval over the store as of version `v` (the probe side uses
    * the frozen centroids, which are version-independent). */
  def searchStoreAt(queries: DataFrame, spark: SparkSession,
                    basePath: String, v: Long, k: Int, nprobe: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    probeRound: Option[Int] = None): DataFrame = {
    val items = readStoreAt(spark, basePath, v)
    val probes = probeFrame(spark, basePath, queries, idCol, vecCol,
      nprobe, probeRound)
    val cand = items.join(broadcast(probes), "cid")
      .filter(col("query_id") =!= col("item_id"))
      .withColumn("cos",
        round(SimilarityOps.cosineFast(spark, col("qv"), col("cv")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("item_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "item_id", "rank", "cos")
  }

  private def readStoreFrom(spark: SparkSession, base: String,
                            manifest: Seq[Entry]): DataFrame = {
    val raw = readStoreRawFrom(spark, base, manifest)
    if (raw.columns.contains("cv_q"))
      // int8 tier: restore floats at the scan (one float multiply per
      // element — THE oracle-pinned arithmetic, not a copy of it)
      raw.select(col("item_id"),
        SimilarityOps.dequantize(col("cv_q"), col("cv_scale")).as("cv"),
        col("cid"))
    else if (raw.columns.contains("codes"))
      // pq tier: reconstruct at the scan — verbatim codeword floats
      // (graft.expressions.PqReconstruct), ~32x fewer stored bytes.
      // Only the probed cells ever decode; the codebook (m·ksub rows)
      // rides the expression as one task-broadcast object.
      decodePq(raw, loadPqCodebook(spark, base))
    else if (raw.columns.contains("rcodes"))
      // residual-pq tier: centroid + residual codeword, exact integers
      decodePqRes(raw, spark.read.parquet(s"$base/centroids"),
        loadPqResCodebook(spark, base))
    else raw.select(col("item_id"), col("cv"), col("cid"))
  }

  // ---------------------------------------------------------- PQ tier

  private def pqCodebookPath(base: String) = s"$base/pq_codebook"

  private def loadPqCodebook(spark: SparkSession,
                             base: String): Array[Array[Array[Float]]] =
    SimilarityOps.collectCodebook(
      spark.read.parquet(pqCodebookPath(base)))

  /** (item_id, cv, cid) → (item_id, codes, cid): the PQ-tier physical
    * row. Exact-integer code assignment ([[graft.expressions.PqCodes]]),
    * so the stored codes are bit-replicable from the floats. */
  private def encodePq(df: DataFrame,
                       cbArr: Array[Array[Array[Float]]]): DataFrame = {
    val bridge = org.apache.spark.sql.GraftColumnBridge
    df.select(col("item_id"),
      bridge.column(graft.expressions.PqCodes(
        bridge.expression(col("cv")),
        graft.expressions.Pq.quantizeCodebook(cbArr))).as("codes"),
      col("cid"))
  }

  private def decodePq(df: DataFrame,
                       cbArr: Array[Array[Array[Float]]]): DataFrame = {
    val bridge = org.apache.spark.sql.GraftColumnBridge
    df.select(col("item_id"),
      bridge.column(graft.expressions.PqReconstruct(
        bridge.expression(col("codes")), cbArr)).as("cv"),
      col("cid"))
  }

  // ------------------------------------------------- residual-PQ tier

  private def pqResCodebookPath(base: String) = s"$base/pqres_codebook"

  private def loadPqResCodebook(spark: SparkSession,
                                base: String): Array[Array[Array[Long]]] =
    SimilarityOps.collectCodebookLong(
      spark.read.parquet(pqResCodebookPath(base)))

  /** Fixed-point centroid coordinates (cid, __cq array<long>) — the
    * residual tier's anchor: residual = q6(vector) − cq(cell),
    * reconstruction = cq + codeword. Derived, not stored: q6 of the
    * frozen centroid table is deterministic. */
  private def quantCents(cents: DataFrame): DataFrame =
    cents.select(col("cid"), SimilarityOps.q6(col("cvec")).as("__cq"))

  /** (item_id, cv, cid) → (item_id, cid, rq): each vector's EXACT
    * integer residual against its cell's quantized centroid — the
    * coordinates PQ should spend its codebook on (their dynamic range
    * is the within-cell spread, not the corpus spread: the classic
    * recall upgrade residual coding buys). */
  private def residualFrame(asg: DataFrame, cents: DataFrame): DataFrame =
    asg.join(broadcast(quantCents(cents)), "cid")
      .select(col("item_id"), col("cid"),
        zip_with(SimilarityOps.q6(col("cv")), col("__cq"),
          (a, b) => a - b).as("rq"))

  /** (item_id, cv, cid) → (item_id, rcodes, cid): the residual-PQ-tier
    * physical row. Integer-residual code assignment (the long-input
    * path of [[graft.expressions.PqCodes]] — no re-quantization), so
    * the stored codes are bit-replicable from the floats
    * (`ann_pq_res_q`). */
  private def encodePqRes(asg: DataFrame, cents: DataFrame,
                          qcb: Array[Array[Array[Long]]]): DataFrame = {
    val bridge = org.apache.spark.sql.GraftColumnBridge
    residualFrame(asg, cents)
      .select(col("item_id"),
        bridge.column(graft.expressions.PqCodes(
          bridge.expression(col("rq")), qcb)).as("rcodes"),
        col("cid"))
  }

  /** Lossy decode of the residual tier: cv = centroid + codeword, in
    * exact fixed-point longs cast to double — cosine is scale-invariant
    * so the ×10⁶ scale never matters downstream, and integer-valued
    * doubles are what an external engine replays bit-for-bit. */
  private def decodePqRes(raw: DataFrame, cents: DataFrame,
                          qcb: Array[Array[Array[Long]]]): DataFrame = {
    val bridge = org.apache.spark.sql.GraftColumnBridge
    raw.join(broadcast(quantCents(cents)), "cid")
      .select(col("item_id"),
        zip_with(col("__cq"),
          bridge.column(graft.expressions.PqReconstructLong(
            bridge.expression(col("rcodes")), qcb)),
          (a, b) => (a + b).cast("double")).as("cv"),
        col("cid"))
  }

  /** The store's PHYSICAL rows (quantized columns kept as stored) — the
    * maintenance path must read this, never the dequantizing view, or a
    * delete/compaction rewrite would silently de-quantize the store. */
  private def readStoreRawFrom(spark: SparkSession, base: String,
                               manifest: Seq[Entry]): DataFrame = {
    spark.read.option("basePath", itemsPath(base))
      .parquet(manifest.map(layout(base).dir): _*)
      .drop("c")
      .withColumn("cid", col("cid").cast("long"))
  }

  /** Optional int8 storage tier: per-vector symmetric quantization of
    * the assigned frame — same arithmetic as
    * [[SimilarityOps.quantizeInt8]] (scale = float(max|x| ∨ 1e-30 /
    * 127), values = round-half-away int8) applied to the store's `cv`
    * column. A quantized store is 4x smaller on disk and in the probe
    * scan; [[readStoreFrom]] restores floats for the re-rank, so the
    * search contract is unchanged (recall vs the float store is
    * spec-pinned). */
  private def maybeQuantize(df: DataFrame, quantize: Boolean): DataFrame =
    if (!quantize) df
    else SimilarityOps.quantizeInt8(df, vecCol = "cv").drop("cv")

  /** Per-row best cell of `df`'s vectors against the (broadcast)
    * centroid table, ties to the lowest cid. `probeRound` optionally
    * rounds the cosine before ranking — the oracle twin passes a digit
    * count so an independent engine reproduces the cell choice exactly;
    * production leaves it None (full precision). */
  private def bestCells(spark: SparkSession, vecs: DataFrame,
                        cents: DataFrame, top: Int,
                        probeRound: Option[Int]): DataFrame = {
    val raw = SimilarityOps.cosineFast(spark, col("__v"), col("cvec"))
    val s = probeRound.fold(raw)(d => round(raw, d))
    vecs.crossJoin(broadcast(cents))
      .withColumn("__s", s)
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__id").orderBy(desc("__s"), col("cid"))))
      .filter(col("__rk") <= top)
      .select(col("__id"), col("__v"), col("cid"))
  }

  /** Corpus/delta → cell assignment. Unlike [[bestCells]] (top-n for the
    * QUERY side's probes, a small frame), this is the whole-corpus path of
    * a store build — top-1 expressed as `max_by` so it runs as a hash
    * aggregate with MAP-SIDE partials over the crossJoin output instead of
    * a full-corpus sort-window keyed on the (unique) vector id. Tie rule
    * identical to bestCells: highest score, then lowest cid
    * (lexicographic max of (score, -cid)). `first(__v)` is deterministic
    * here — every row of a group carries the same vector. */
  private def assigned(spark: SparkSession, df: DataFrame, cents: DataFrame,
                       idCol: String, vecCol: String,
                       probeRound: Option[Int]): DataFrame = {
    val raw = SimilarityOps.cosineFast(spark, col("__v"), col("cvec"))
    val s = probeRound.fold(raw)(d => round(raw, d))
    df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(cents))
      .withColumn("__s", s)
      .groupBy("__id")
      .agg(first(col("__v")).as("cv"),
        max_by(col("cid"), struct(col("__s"), -col("cid"))).as("cid"))
      .select(col("__id").as("item_id"), col("cv"), col("cid"))
  }

  /** Create the store at `basePath`: the frozen centroid table (tiny,
    * one file) plus the corpus assigned to cells under commit 0.
    * Overwrite semantics — any prior store at the path (its manifest
    * included) is removed first, so a re-build is self-contained.
    *
    * Storage tiers (mutually exclusive): `quantize = true` persists
    * int8 vectors + scales (4× smaller); `pqCodebook = Some(cb)` is the
    * IVF+PQ layout — cells carry m-code rows (~32× smaller), the
    * codebook is frozen beside the centroids, and appends inherit the
    * tier; `pqResidual = Some((m, ksub))` is IVF+PQ over RESIDUALS
    * (x − centroid(cell)) — same m-code row size, but the codebook
    * spends its entries on the within-cell spread instead of the corpus
    * spread (the standard recall upgrade; spec-pinned ≥ plain PQ), with
    * the whole assign → residual → encode → decode cycle in exact
    * integers. Its codebook is built HERE (residuals need the
    * assignment): the ksub lowest-id vectors' residual slices, the
    * raw-seed no-averaging convention. All tiers decode at the
    * (probe-pruned) scan, so the search contract is unchanged up to
    * each tier's declared lossiness. */
  def writeVectorStore(corpus: DataFrame, spark: SparkSession,
                       basePath: String, cents: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       assignRound: Option[Int] = None,
                       quantize: Boolean = false,
                       pqCodebook: Option[DataFrame] = None,
                       pqResidual: Option[(Int, Int)] = None): Unit = {
    require(Seq(quantize, pqCodebook.isDefined, pqResidual.isDefined)
      .count(identity) <= 1,
      "vector store: pick ONE storage tier (int8, pq or residual pq)")
    val l = layout(basePath)
    val fs = hadoopFs(spark, basePath)
    Seq(l.manifest, itemsPath(basePath), pqCodebookPath(basePath),
      pqResCodebookPath(basePath)).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val asg = assigned(spark, corpus, cents, idCol, vecCol, assignRound)
    val commitDir = l.commitDir(Items, 0)
    def writeCents(): Unit =
      cents.coalesce(1).write.mode("overwrite").parquet(s"$basePath/centroids")
    // the centroid table and the assigned-items commit are independent
    // writes (the assignment reads the caller's `cents` frame, not the
    // persisted file) — submit them concurrently on the tiers that
    // allow it; only the residual tier genuinely chains on the frozen
    // file (its codebook is built from residuals against EXACTLY what
    // was persisted). The manifest — the commit point — still lands
    // once and last either way.
    (pqCodebook, pqResidual) match {
      case (Some(cb), _) =>
        graft.util.Par.run(
          () => writeCents(),
          () => cb.coalesce(1).write.mode("overwrite")
            .parquet(pqCodebookPath(basePath)))
        encodePq(asg, loadPqCodebook(spark, basePath))
          .write.mode("overwrite").partitionBy("cid").parquet(commitDir)
      case (None, Some((m, ksub))) =>
        writeCents()
        val frozen = spark.read.parquet(s"$basePath/centroids")
        val dim = frozen.select(size(col("cvec"))).head().getInt(0)
        SimilarityOps.pqResidualCodebooks(
          residualFrame(asg, frozen), dim, m, ksub)
          .coalesce(1).write.mode("overwrite")
          .parquet(pqResCodebookPath(basePath))
        encodePqRes(asg, frozen, loadPqResCodebook(spark, basePath))
          .write.mode("overwrite").partitionBy("cid").parquet(commitDir)
      case _ =>
        graft.util.Par.run(
          () => writeCents(),
          () => maybeQuantize(asg, quantize)
            .write.mode("overwrite").partitionBy("cid").parquet(commitDir))
    }
    ManifestIO.commit(spark, l,
      ManifestIO.writtenParts(spark, l, Items, 0).map(Entry(Items, 0, _)),
      append = false)
  }

  /** Ingest a batch: assign against the FROZEN centroids, write the
    * delta as the next commit directory, then publish it with one
    * manifest append — the commit point. The prior store is untouched;
    * ingest cost is one pass over the delta. A RETRY of a torn append
    * lands on the same commit id (max committed + 1) and overwrites the
    * partial directory before publishing, so the failure leaves no
    * trace. */
  def appendToVectorStore(delta: DataFrame, spark: SparkSession,
                          basePath: String,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          assignRound: Option[Int] = None): Unit = {
    appendTagged(delta, spark, basePath, tag = None, idCol, vecCol,
      assignRound): Unit
  }

  /** Append `delta` as the next commit, stamping `tag` (when given) on
    * its manifest rows; a tag already present means the batch committed
    * in a previous incarnation and the call is a no-op (returns false).
    * The replay contract this buys: data dir first, ONE manifest append
    * carrying both the commit and the tag last — there is no state in
    * which the batch is half-remembered. */
  private[ops] def appendTagged(delta: DataFrame, spark: SparkSession,
                           basePath: String, tag: Option[Long],
                           idCol: String, vecCol: String,
                           assignRound: Option[Int]): Boolean = {
    val l = layout(basePath)
    val manifest = ManifestIO.entries(spark, l)
    if (tag.exists(t => manifest.exists(_.tag.contains(t.toString)))) false
    else {
      val cents = spark.read.parquet(s"$basePath/centroids")
      val next = ManifestIO.nextCommit(manifest)
      // appends inherit the store's storage tier (one footer-read
      // probe); a store deleted down to zero live dirs has no tier to
      // inherit — new commits re-establish it as float (either tier is
      // consistent when no prior data rows exist)
      val live = manifest.filter(_.isData)
      val tierCols =
        if (live.isEmpty) Array.empty[String]
        else readStoreRawFrom(spark, basePath, live.take(1)).columns
      val asg = assigned(spark, delta, cents, idCol, vecCol, assignRound)
      val physical =
        if (tierCols.contains("codes"))
          encodePq(asg, loadPqCodebook(spark, basePath))
        else if (tierCols.contains("rcodes"))
          encodePqRes(asg, cents, loadPqResCodebook(spark, basePath))
        else maybeQuantize(asg, tierCols.contains("cv_q"))
      physical.write.mode("overwrite").partitionBy("cid")
        .parquet(l.commitDir(Items, next))
      ManifestIO.commit(spark, l, ManifestIO.writtenParts(spark, l, Items, next)
        .map(Entry(Items, next, _, tag = tag.map(_.toString))), append = true)
      true
    }
  }

  /** Continuous embedding ingest: a Structured-Streaming sink over the
    * store, exactly-once by construction. Each micro-batch runs one
    * [[appendTagged]] with the batch id as the tag — after a crash or
    * restart the checkpoint replays the last uncommitted batch, the torn
    * commit directory (if any) is overwritten at the same commit id, and
    * a batch whose tag already sits in the manifest is skipped — so
    * however many times the engine re-delivers a batch, its vectors land
    * exactly once. The store must exist ([[writeVectorStore]]) — the
    * centroids are the frozen index streamed batches assign against. */
  def ingestStream(delta: DataFrame, spark: SparkSession, basePath: String,
                   checkpointLocation: String,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   assignRound: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    delta.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // empty triggers (idle source) skip the whole manifest/centroid
        // round trip; appending nothing needs no replay guard either
        if (!batch.isEmpty) {
          appendTagged(batch, spark, basePath, Some(batchId), idCol, vecCol,
            assignRound): Unit
        }
      }
      .start()

  /** Compact cells whose LIVE file count (across their commit
    * directories) exceeds `maxFilesPerCell` — repeated appends leave one
    * file per (append, cell), and at some point the scan's open-file
    * overhead beats the append savings. Oversized cells are rewritten
    * into a new commit (reading old dirs, writing a new one — no
    * read-own-write fence needed), the manifest swaps them over
    * atomically-enough (single writer), and only then are the
    * superseded directories deleted. Data is unchanged (spec-pinned). */
  def compactVectorStore(spark: SparkSession, basePath: String,
                         maxFilesPerCell: Int = 4,
                         gc: Boolean = true): Unit = {
    val l = layout(basePath)
    val manifest = ManifestIO.entries(spark, l)
    val oversized = ManifestIO.liveFileCounts(spark, l, Items,
      manifest.filter(_.isData)).filter(_._2 > maxFilesPerCell).keySet
    if (oversized.nonEmpty) {
      rewriteCells(spark, basePath, manifest, oversized, gc = gc)
    }
  }

  /** Delete vectors by id — the right-to-be-forgotten path, with the
    * same locality contract as every other store mutation: only the
    * cells that actually hold a deleted id are rewritten (into a new
    * commit directory); untouched cells stay byte-for-byte in their old
    * commits. A cell whose every vector is deleted simply writes no
    * directory in the new commit and drops out of the manifest — no
    * tombstone needed, absence IS emptiness. */
  def deleteFromVectorStore(ids: DataFrame, spark: SparkSession,
                            basePath: String,
                            idCol: String = "vec_id",
                            gc: Boolean = true): Unit = {
    val manifest = ManifestIO.entries(spark, layout(basePath))
    val live = manifest.filter(_.isData)
    if (live.isEmpty) return // nothing to delete from
    // no eager checkpoint: the id set is request-sized and its second
    // consumer (the anti-join inside the rewrite) re-derives it inside
    // that job — one probe job instead of checkpoint + probe
    val del = ids.select(col(idCol).cast("long").as("item_id")).distinct()
    val touched = readStoreFrom(spark, basePath, live).join(del, "item_id")
      .select("cid").distinct().collect().map(_.getLong(0)).toSet // ≤ nlist
    if (touched.nonEmpty) {
      rewriteCells(spark, basePath, manifest, touched,
        _.join(del, Seq("item_id"), "left_anti"), gc = gc)
    }
  }

  /** Shared rewrite-cells-into-a-new-commit step for delete/compaction:
    * read the touched cells from their live dirs, transform, write as
    * commit `max+1` (one file per cell via the cid repartition), then
    * [[ManifestIO.rewrite]] — swap, ingest tags carried forward as
    * markers, GC of the superseded dirs. `gc = false` keeps the
    * superseded manifest version AND its data dirs as a readable
    * time-travel snapshot ([[readStoreAt]]) until [[vacuumStore]]'s
    * retention floor reclaims them — the poor man's snapshot isolation
    * for in-flight readers (readers needing real version pinning use
    * VersionedStoreOps). */
  private def rewriteCells(spark: SparkSession, basePath: String,
                           manifest: Seq[Entry],
                           cells: Set[Long],
                           transform: DataFrame => DataFrame = identity,
                           gc: Boolean = true): Unit = {
    val l = layout(basePath)
    val next = ManifestIO.nextCommit(manifest)
    val items = readStoreRawFrom(spark, basePath, manifest.filter(_.isData))
    transform(items.filter(col("cid").isin(cells.toIndexedSeq: _*)))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(l.commitDir(Items, next))
    ManifestIO.rewrite(spark, l, manifest, next, cells.map((Items, _)),
      ManifestIO.writtenParts(spark, l, Items, next).map(Entry(Items, next, _)),
      gc)
  }

  /** Sweep every data directory no retained manifest version names:
    * deferred delete/compaction GC (`gc = false`) and torn-append
    * orphans alike ([[ManifestIO.sweep]] — reader-safe, and commit dirs
    * past the manifest's max, a concurrent writer's slot, are skipped).
    * `retainVersions` is the retention floor: every data dir some
    * RETAINED manifest version still resolves stays readable
    * ([[readStoreAt]]) — the vacuumAggStore(retainVersions) semantics on
    * the manifest seam; 0 collapses to latest-only. */
  def vacuumStore(spark: SparkSession, basePath: String,
                  retainVersions: Int = 0): Unit = {
    val l = layout(basePath)
    ManifestIO.vacuumVersions(spark, l.manifest, math.max(0, retainVersions))
    val retained = ManifestIO.versions(spark, l.manifest)
      .map(ManifestIO.entriesAt(spark, l, _))
    require(retained.nonEmpty, s"no committed vector store at $basePath")
    ManifestIO.sweep(spark, l, Seq(Items), retained.last, retained.flatten)
  }

  /** Shared probe prologue: the query frame scored against the frozen
    * centroids, renamed to (query_id, qv, cid) — THE one copy of the
    * probe shape all three store searches use. */
  private def probeFrame(spark: SparkSession, basePath: String,
                         queries: DataFrame, idCol: String, vecCol: String,
                         nprobe: Int, probeRound: Option[Int]): DataFrame = {
    val cents = spark.read.parquet(s"$basePath/centroids")
    bestCells(spark,
      queries.select(col(idCol).as("__id"), col(vecCol).as("__v")),
      cents, top = nprobe, probeRound)
      .select(col("__id").as("query_id"), col("__v").as("qv"), col("cid"))
  }

  /** IVF top-k against the store: probe `nprobe` cells per query, exact
    * cosine re-rank inside them. Same output contract (and, under the
    * same centroids, the same rows — spec-pinned) as
    * [[SimilarityOps.ivfTopKWithCentroids]], but the corpus side is the
    * persisted table: the broadcast probe join carries the probed cell
    * ids into the scan as a dynamic partition-pruning filter, so only
    * those cell directories are read — and only COMMITTED ones (the
    * scan's file list comes from the manifest via [[readStore]]). */
  def searchStore(queries: DataFrame, spark: SparkSession, basePath: String,
                  k: Int, nprobe: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  probeRound: Option[Int] = None): DataFrame = {
    val items = readStore(spark, basePath)
    val probes = probeFrame(spark, basePath, queries, idCol, vecCol,
      nprobe, probeRound)
    val cand = items.join(broadcast(probes), "cid")
      .filter(col("query_id") =!= col("item_id"))
      .withColumn("cos",
        round(SimilarityOps.cosineFast(spark, col("qv"), col("cv")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("item_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "item_id", "rank", "cos")
  }

  /** Store-served SEMANTIC DECONTAMINATION: every committed item whose
    * cosine to ANY query (test-set) vector reaches `minCos`, with the
    * evidence — match count, best (rounded) cosine, and the smallest
    * matching test id. The test side probes its `nprobe` nearest cells
    * and only those directories are read, so screening a growing
    * serving corpus against a benchmark suite costs ~nprobe/nlist of
    * the store per test batch instead of a corpus scan (the one-shot
    * operator in [[SimilarityOps]] re-embeds and scans the corpus every
    * time). IVF probing is approximate: a contaminated item assigned to
    * a cell none of its test neighbors probe is missed — raising
    * `nprobe` raises recall, but the probe frame (queries × nprobe
    * rows, each carrying the query vector) is BROADCAST: keep
    * queries × nprobe × dim well under the broadcast ceiling, and for
    * recall-critical full screens use the one-shot corpus-scan operator
    * instead (nprobe = nlist is a full scan anyway). Ids are compared
    * verbatim: if the test set can share ids with stored items, a
    * shared id flags itself at cos 1.0 — pre-filter or re-key one side
    * when the id spaces overlap. */
  def flagSimilarInStore(queries: DataFrame, spark: SparkSession,
                         basePath: String, minCos: Double,
                         nprobe: Int = 4,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         probeRound: Option[Int] = None): DataFrame = {
    val items = readStore(spark, basePath)
    val probes = probeFrame(spark, basePath, queries, idCol, vecCol,
      nprobe, probeRound)
    items.join(broadcast(probes), "cid")
      .withColumn("cos",
        round(SimilarityOps.cosineFast(spark, col("qv"), col("cv")), 4))
      .filter(col("cos") >= minCos)
      .groupBy("item_id")
      .agg(count(lit(1)).as("n_matches"),
        max("cos").as("max_cos"),
        min("query_id").as("first_test_id"))
  }

  /** FILTERED vector search — top-k among only the items whose metadata
    * satisfies `pred` (PRE-FILTER semantics: ranks are assigned after
    * filtering, so every query still gets k eligible results when k
    * eligible candidates exist in its probed cells — a post-filtered
    * top-k would silently return fewer). `meta` maps item id →
    * attribute columns; the eligible-id set is semi-joined into the
    * probed candidates before the re-rank, so at scale it is the
    * filtered (small) side that moves, never the store. Same output
    * contract as [[searchStore]]. */
  def searchStoreFiltered(queries: DataFrame, spark: SparkSession,
                          basePath: String, k: Int, meta: DataFrame,
                          pred: org.apache.spark.sql.Column,
                          nprobe: Int = 4,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          probeRound: Option[Int] = None): DataFrame = {
    val items = readStore(spark, basePath)
    val eligible = meta.filter(pred)
      .select(col(idCol).as("item_id")).distinct()
    val probes = probeFrame(spark, basePath, queries, idCol, vecCol,
      nprobe, probeRound)
    val cand = items.join(broadcast(probes), "cid")
      .join(eligible, Seq("item_id"), "left_semi")
      .filter(col("query_id") =!= col("item_id"))
      .withColumn("cos",
        round(SimilarityOps.cosineFast(spark, col("qv"), col("cv")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("item_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "item_id", "rank", "cos")
  }
}
