package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** THE NORMATIVE STORE CONTRACT — one property suite over every
  * persisted store family, so the durability semantics cannot drift as
  * new store kinds land. Each family implements the same guarantees
  * with its own mechanism (manifest commit dirs for the vector and
  * join-view stores, a data-row guard + tombstone carry-forward for
  * the fingerprint store, a commit ledger for the text indexes, COW
  * versions + manifest tags for the aggregate store, COW versions + an
  * LWW election for the versioned doc store); this suite pins the
  * SEMANTICS those mechanisms share:
  *
  *  1. REPLAY: redelivering a committed batch changes nothing.
  *  2. TORN WRITE: data rows landed by an attempt whose commit never
  *     happened are invisible to every read.
  *  3. RTBF PERMANENCE: a forgotten id stays forgotten — through a
  *     re-submitted delete, through a physical rebuild, and through a
  *     replay of the batch that originally carried it. (The join view
  *     is a DERIVED materialization: RTBF applies to its sources and
  *     flows through refresh/compaction, so it opts out of the forget
  *     leg — documented here, not an accident.)
  *  4. REBUILD: physical reclaim/compaction preserves query answers.
  *  5. READER vs MAINTENANCE (families with an as-of read): a version
  *     handle captured before a mutation answers EXACTLY afterwards,
  *     and once maintenance collapses history past its retention floor
  *     the same read fails LOUDLY — a message naming the
  *     retention/rebuild boundary — never a silently wrong or newer
  *     answer. The operational rule this pins: A RETENTION FLOOR MUST
  *     COVER THE LONGEST READER WINDOW; a resolution-to-read race with
  *     maintenance surfaces as an error (resolve-time "predates ..."
  *     or a task-time missing-file failure), never as substituted
  *     data, because every read resolves through a committed
  *     ledger/manifest snapshot and reclaimed directories are checked
  *     or simply absent — there is no path from "file gone" to "other
  *     rows returned".
  *
  * Store docs cite this suite as the contract of record; a new store
  * family ships with an adapter here or explains why not.
  */
class StoreContractSpec extends SparkTestBase {
  import spark.implicits._

  /** Time-travel bindings for contract leg 5. */
  private trait TimeTravel {
    /** The current version/seq handle. */
    def capture(): Long
    /** A history-creating mutation (append/merge/delete). */
    def mutate(): Unit
    /** The canonical answer as of `h`. */
    def readAt(h: Long): Seq[Seq[Any]]
    /** Maintenance that reclaims history PAST its retention floor. */
    def collapse(): Unit
  }

  /** One store family's bindings for the shared contract. */
  private trait StoreAdapter {
    def family: String
    /** Build the store from the base slice. */
    def seed(): Unit
    /** Ingest THE delta batch under its stable identity — called
      * repeatedly (first delivery, replay, replay-after-rebuild). */
    def redeliver(): Unit
    /** Land an attempt's data rows WITHOUT its commit. */
    def tear(): Unit
    /** Forget the doomed ids (None: family opts out, with the reason
      * in the class doc). Called repeatedly — must be idempotent. */
    def forget: Option[() => Unit]
    /** Physical rebuild / reclaim. */
    def rebuild(): Unit
    /** Canonical query answer — deterministic, comparable. */
    def answer(): Seq[Seq[Any]]
    /** Does the answer leak any forgotten entity? */
    def leaks(ans: Seq[Seq[Any]]): Boolean
    /** As-of read bindings (None: family has no time travel —
      * fingerprint store and the derived join view). */
    def timeTravel: Option[TimeTravel] = None
  }

  private def runContract(a: StoreAdapter): Unit = {
    a.seed()
    a.redeliver() // first delivery commits
    val committed = a.answer()
    a.redeliver() // at-least-once redelivery
    assert(a.answer() == committed,
      s"[${a.family}] a redelivered committed batch must be a no-op")
    a.tear()
    assert(a.answer() == committed,
      s"[${a.family}] a torn attempt's rows must be invisible")
    a.forget match {
      case None =>
        a.rebuild()
        assert(a.answer() == committed,
          s"[${a.family}] rebuild must preserve query answers")
        a.redeliver()
        assert(a.answer() == committed,
          s"[${a.family}] replay after rebuild must still be a no-op")
      case Some(forget) =>
        forget()
        val afterForget = a.answer()
        assert(afterForget != committed,
          s"[${a.family}] fixture defect: the forget must change the answer")
        assert(!a.leaks(afterForget),
          s"[${a.family}] forgotten ids visible after the delete")
        forget() // re-submitted RTBF request
        assert(a.answer() == afterForget,
          s"[${a.family}] a re-submitted delete must be idempotent")
        a.rebuild()
        assert(a.answer() == afterForget,
          s"[${a.family}] rebuild must preserve query answers")
        assert(!a.leaks(a.answer()),
          s"[${a.family}] rebuild resurrected forgotten ids")
        a.redeliver() // the batch that carried the doomed ids, replayed
        assert(a.answer() == afterForget,
          s"[${a.family}] a replayed batch must not resurrect forgotten ids")
        a.forget.foreach(_())
        assert(a.answer() == afterForget,
          s"[${a.family}] forget must stay idempotent after the rebuild")
    }
    a.timeTravel.foreach { tt =>
      val h = tt.capture()
      val snapshot = tt.readAt(h)
      tt.mutate()
      assert(tt.readAt(h) == snapshot,
        s"[${a.family}] a captured version must answer exactly after " +
          "later mutations")
      tt.collapse() // the vacuum lands BETWEEN the resolve and the read
      val e = intercept[Exception] { tt.readAt(h) }
      assert(Option(e.getMessage).exists(m =>
          m.contains("predates") || m.contains("retention") ||
            m.contains("rebuild")),
        s"[${a.family}] collapsed history must fail loudly (naming the " +
          s"retention boundary), got: ${e.getMessage}")
    }
  }

  private lazy val docs = graft.queries.t(spark, sfTiny, "documents")
    .select("doc_id", "text")
  private lazy val embs = graft.queries.t(spark, sfTiny, "embeddings")
    .select("vec_id", "embedding")

  private def doomedOf(df: DataFrame, idCol: String) =
    df.filter(pmod(col(idCol), lit(7)) === 2).select(idCol)
  private def doomedIds(df: DataFrame, idCol: String): Set[Long] =
    doomedOf(df, idCol).collect().map(_.getLong(0)).toSet

  test("text index honors the store contract") {
    val base = Files.createTempDirectory("sc-text").toString
    val store = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val terms = Seq("batch", "scan", "hash")
    val doomed = doomedIds(docs, "doc_id")
    runContract(new StoreAdapter {
      val family = "text"
      def seed(): Unit =
        InvertedIndexOps.writeScoredIndex(store, spark, "sc_text", base)
      def redeliver(): Unit =
        InvertedIndexOps.appendToScoredIndex(delta, spark, "sc_text",
          batchTag = Some("b1"))
      def tear(): Unit = LayoutOps.appendBucketed(
        InvertedIndexOps.unifiedPostings(delta)
          .withColumn("__batch", lit("torn#attempt")), spark, "sc_text")
      val forget = Some(() =>
        InvertedIndexOps.deleteFromTextIndex(doomedOf(docs, "doc_id"),
          spark, "sc_text"))
      def rebuild(): Unit = InvertedIndexOps.rebuildTextIndex(spark,
        "sc_text", Files.createTempDirectory("sc-text-rb").toString)
      def answer(): Seq[Seq[Any]] = {
        val hits = InvertedIndexOps
          .searchBm25(spark, "sc_text", terms, topK = 30)
          .collect().map(_.toSeq).toSeq
        val st = spark.table("sc_text_stats")
          .agg(sum("n_docs"), sum("sum_dlen")).head().toSeq
        hits :+ st
      }
      def leaks(ans: Seq[Seq[Any]]): Boolean =
        ans.dropRight(1).exists(r => doomed(r.head.asInstanceOf[Long]))
      override def timeTravel: Option[TimeTravel] = Some(new TimeTravel {
        def capture(): Long =
          InvertedIndexOps.currentLedgerSeq(spark, "sc_text")
        def mutate(): Unit = InvertedIndexOps.appendToScoredIndex(
          delta.select((col("doc_id") + 700000L).as("doc_id"), col("text")),
          spark, "sc_text", batchTag = Some("tt1"))
        def readAt(h: Long): Seq[Seq[Any]] = InvertedIndexOps
          .searchBm25(spark, "sc_text", terms, topK = 30,
            asOfSeq = Some(h))
          .collect().map(_.toSeq).toSeq
        def collapse(): Unit = InvertedIndexOps.rebuildTextIndex(spark,
          "sc_text", Files.createTempDirectory("sc-text-tt").toString)
      })
    })
  }

  test("fingerprint store honors the store contract") {
    val base = Files.createTempDirectory("sc-fp").toString
    val store = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    // fresh-id probes sharing the corpus texts: every stored near-dup
    // (including the probes' own originals) must pair against them
    val probe = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val doomed = doomedIds(docs, "doc_id")
    runContract(new StoreAdapter {
      val family = "fingerprint"
      def seed(): Unit = DedupOps.writeFingerprintStore(store, spark,
        "sc_fp_bands", "sc_fp_sets", base, nBuckets = 8, stageSeed = true)
      def redeliver(): Unit =
        graft.streaming.IngestOps.ingestBatch(delta, spark,
          "sc_fp_bands", "sc_fp_sets", threshold = 0.7): Unit
      def tear(): Unit = LayoutOps.appendBucketed(
        DedupOps.bandFrame(
          delta.select((col("doc_id") + 900000L).as("doc_id"), col("text"))),
        spark, "sc_fp_bands") // bands landed, set rows (the commit) didn't
      val forget = Some(() =>
        DedupOps.deleteFromFingerprintStore(doomedOf(docs, "doc_id"),
          spark, "sc_fp_sets"))
      def rebuild(): Unit = DedupOps.rebuildFingerprintStore(spark,
        "sc_fp_bands", "sc_fp_sets",
        Files.createTempDirectory("sc-fp-rb").toString, nBuckets = 8)
      def answer(): Seq[Seq[Any]] = DedupOps.incrementalPairs(probe,
          spark, "sc_fp_bands", "sc_fp_sets", threshold = 0.5)
        .select("id_old", "id_new")
        .collect().map(_.toSeq).toSeq
        .sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      def leaks(ans: Seq[Seq[Any]]): Boolean =
        ans.exists(r => doomed(r.head.asInstanceOf[Long]))
    })
  }

  test("vector store honors the store contract") {
    val base = Files.createTempDirectory("sc-vec").toString
    val store = embs.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = embs.filter(pmod(col("vec_id"), lit(5)) === 0)
    val queries = embs.filter(pmod(col("vec_id"), lit(9)) === 0)
    val doomed = doomedIds(embs, "vec_id")
    runContract(new StoreAdapter {
      val family = "vector"
      def seed(): Unit = VectorStoreOps.writeVectorStore(store, spark,
        base, cents = embs.orderBy("vec_id").limit(4)
          .select(col("vec_id").as("cid"),
            col("embedding").cast("array<double>").as("cvec")),
        assignRound = Some(6))
      def redeliver(): Unit = VectorStoreOps.appendTagged(delta, spark,
        base, tag = Some(7L), "vec_id", "embedding",
        assignRound = Some(6)): Unit
      def tear(): Unit = {
        // an attempt's data dir at the next commit slot, never published
        val fs = new org.apache.hadoop.fs.Path(base)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val items = new org.apache.hadoop.fs.Path(s"$base/items")
        val next = fs.listStatus(items)
          .map(_.getPath.getName.stripPrefix("c=").toLong).max + 1
        spark.read.parquet(s"$base/items/c=0")
          .write.mode("overwrite").partitionBy("cid")
          .parquet(s"$base/items/c=$next")
      }
      val forget = Some(() =>
        VectorStoreOps.deleteFromVectorStore(doomedOf(embs, "vec_id"),
          spark, base))
      def rebuild(): Unit = {
        VectorStoreOps.compactVectorStore(spark, base, maxFilesPerCell = 1)
        VectorStoreOps.vacuumStore(spark, base)
      }
      def answer(): Seq[Seq[Any]] = VectorStoreOps.searchStore(queries,
          spark, base, k = 5, nprobe = 2, probeRound = Some(6))
        .collect().map(_.toSeq).toSeq
        .sortBy(r => (r.head.asInstanceOf[Long], r(2).asInstanceOf[Long]))
      def leaks(ans: Seq[Seq[Any]]): Boolean =
        ans.exists(r => doomed(r(1).asInstanceOf[Long]))
      override def timeTravel: Option[TimeTravel] = Some(new TimeTravel {
        def capture(): Long = VectorStoreOps.storeVersion(spark, base)
        def mutate(): Unit = VectorStoreOps.deleteFromVectorStore(
          embs.filter(pmod(col("vec_id"), lit(9)) === 1).select("vec_id"),
          spark, base, gc = false) // the snapshot-retaining mode
        def readAt(h: Long): Seq[Seq[Any]] = VectorStoreOps
          .searchStoreAt(queries, spark, base, h, k = 5, nprobe = 2,
            probeRound = Some(6))
          .collect().map(_.toSeq).toSeq
          .sortBy(r => (r.head.asInstanceOf[Long], r(2).asInstanceOf[Long]))
        def collapse(): Unit = VectorStoreOps.vacuumStore(spark, base)
      })
    })
  }

  test("join view honors the store contract (derived view: RTBF lands " +
    "on the sources — forget leg opted out, see class doc)") {
    val base = Files.createTempDirectory("sc-jv").toString
    val a = docs.select(col("doc_id"), length(col("text")).as("alen"))
    val b = graft.queries.t(spark, sfTiny, "documents")
      .select(col("doc_id"), col("lang"))
    val storeA = a.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val deltaA = a.filter(pmod(col("doc_id"), lit(5)) === 0)
    runContract(new StoreAdapter {
      val family = "join-view"
      def seed(): Unit = IncrementalJoinOps.writeJoinView(storeA, b,
        spark, base, "doc_id", nBuckets = 8)
      def redeliver(): Unit = IncrementalJoinOps.appendSideATagged(deltaA,
        spark, base, "doc_id", nBuckets = 8, tag = 7L): Unit
      def tear(): Unit = {
        // an unpublished data dir on side a, far past the manifest max
        // (vacuum treats past-max as an in-flight slot; readers resolve
        // the manifest and never see it either way)
        spark.read.parquet(s"$base/a/c=0")
          .write.mode("overwrite").partitionBy("__bucket")
          .parquet(s"$base/a/c=99")
      }
      val forget = None
      def rebuild(): Unit = {
        IncrementalJoinOps.compactJoinView(spark, base,
          maxFilesPerBucket = 1)
        IncrementalJoinOps.vacuumJoinView(spark, base)
      }
      def answer(): Seq[Seq[Any]] = IncrementalJoinOps
        .readJoinView(spark, base)
        .select("doc_id", "alen", "lang")
        .collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
      def leaks(ans: Seq[Seq[Any]]): Boolean = false
    })
  }

  test("versioned store honors the store contract (replay = the same " +
    "changes batch re-applied; forget = delete ops)") {
    val base = Files.createTempDirectory("sc-ver").toString
    val kv = docs.select(col("doc_id").as("k"),
      length(col("text")).as("v"), lit(1L).as("seq"))
    val seedRows = kv.filter(pmod(col("k"), lit(5)) =!= 0)
    val batch = kv.filter(pmod(col("k"), lit(5)) === 0)
      .withColumn("op", lit("U"))
    // the deletes' later sequence wins every election against a replay
    // of the batch that carried the doomed ids
    val deletes = doomedOf(docs, "doc_id").select(col("doc_id").as("k"),
      lit(0).as("v"), lit(2L).as("seq"), lit("D").as("op"))
    val doomed = doomedIds(docs, "doc_id")
    def applyChanges(changes: DataFrame): Unit = VersionedStoreOps
      .applyChangesVersioned(changes, spark, base, "k", "seq", "op", 8): Unit
    def snapshot(v: Option[Long]): Seq[Seq[Any]] = VersionedStoreOps
      .readVersion(spark, base, v).select("k", "v", "seq")
      .collect().map(_.toSeq).toSeq
      .sortBy(_.head.asInstanceOf[Long])
    runContract(new StoreAdapter {
      val family = "versioned"
      def seed(): Unit =
        VersionedStoreOps.writeVersioned(seedRows, spark, base, "k", "seq", 8)
      def redeliver(): Unit = applyChanges(batch)
      def tear(): Unit = {
        // an apply's bucket dirs at the next version slot, never
        // published by a manifest entry
        val next = VersionedStoreOps.currentVersion(spark, base) + 1
        spark.read.parquet(s"$base/v=0")
          .withColumn("v", col("v") + 1000)
          .write.mode("overwrite").partitionBy("__bucket")
          .parquet(s"$base/v=$next")
      }
      val forget = Some(() => applyChanges(deletes))
      def rebuild(): Unit = VersionedStoreOps.vacuum(spark, base,
        keepFrom = VersionedStoreOps.currentVersion(spark, base))
      def answer(): Seq[Seq[Any]] = snapshot(None)
      def leaks(ans: Seq[Seq[Any]]): Boolean =
        ans.exists(r => doomed(r.head.asInstanceOf[Long]))
      override def timeTravel: Option[TimeTravel] = Some(new TimeTravel {
        def capture(): Long = VersionedStoreOps.currentVersion(spark, base)
        def mutate(): Unit = applyChanges(kv.filter(pmod(col("k"), lit(9)) === 1)
          .select(col("k"), (col("v") + 1).as("v"), lit(3L).as("seq"),
            lit("U").as("op")))
        def readAt(h: Long): Seq[Seq[Any]] = snapshot(Some(h))
        def collapse(): Unit = VersionedStoreOps.vacuum(spark, base,
          keepFrom = VersionedStoreOps.currentVersion(spark, base))
      })
    })
  }

  test("aggregate store honors the store contract (forget = tagged " +
    "retraction of the merged batch)") {
    val base = Files.createTempDirectory("sc-agg").toString
    val facts = graft.queries.t(spark, sfTiny, "orders").select(
      col("o_orderkey"), col("o_custkey").as("k"), lit(1L).as("n"),
      round(col("o_totalprice") * 100).cast("long").as("v"))
    val seedRows = facts.filter(col("o_orderkey") % 5 =!= 0)
      .drop("o_orderkey")
    val d1 = facts.filter(col("o_orderkey") % 5 === 0).drop("o_orderkey")
    runContract(new StoreAdapter {
      val family = "agg"
      def seed(): Unit = IncrementalAggOps.writeAggStore(seedRows, spark,
        base, Seq("k"), Seq("n", "v"), nBuckets = 8)
      def redeliver(): Unit = IncrementalAggOps.mergeIntoAggStore(d1,
        spark, base, Seq("k"), Seq("n", "v"), nBuckets = 8,
        batchTag = Some("b1"))
      def tear(): Unit = {
        // an unpublished fold at the next version slot: the designed
        // retry path overwrites it before publishing
        val fs = new org.apache.hadoop.fs.Path(base)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val next = fs.listStatus(new org.apache.hadoop.fs.Path(base))
          .filter(_.getPath.getName.startsWith("v="))
          .map(_.getPath.getName.stripPrefix("v=").toLong).max + 1
        spark.read.parquet(s"$base/v=0")
          .write.mode("overwrite").partitionBy("__bucket")
          .parquet(s"$base/v=$next")
      }
      // RTBF for a rollup = retracting the batch's mass (sum monoids
      // invert); the doomed "entity" is the merged batch itself
      val forget = Some(() =>
        IncrementalAggOps.retractFromAggStore(d1, spark, base,
          Seq("k"), Seq("n", "v"), nBuckets = 8, batchTag = Some("del1")))
      def rebuild(): Unit = IncrementalAggOps.vacuumAggStore(spark, base)
      def answer(): Seq[Seq[Any]] = IncrementalAggOps
        .readAggStore(spark, base)
        .filter(col("n") =!= 0) // retracted-to-zero keys read as absent
        .select("k", "n", "v")
        .collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
      def leaks(ans: Seq[Seq[Any]]): Boolean = {
        // post-retraction the answer must equal the seed-only rollup —
        // no delta-batch mass may survive
        val want = seedRows.groupBy("k")
          .agg(sum("n").as("n"), sum("v").as("v"))
          .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
        ans != want
      }
      override def timeTravel: Option[TimeTravel] = Some(new TimeTravel {
        def capture(): Long =
          IncrementalAggOps.maxCommittedVersion(spark, base)
        def mutate(): Unit = IncrementalAggOps.mergeIntoAggStore(d1,
          spark, base, Seq("k"), Seq("n", "v"), nBuckets = 8,
          batchTag = Some("tt1"))
        def readAt(h: Long): Seq[Seq[Any]] = IncrementalAggOps
          .readAggStoreAt(spark, base, h)
          .filter(col("n") =!= 0)
          .select("k", "n", "v")
          .collect().map(_.toSeq).toSeq
          .sortBy(_.head.asInstanceOf[Long])
        def collapse(): Unit = IncrementalAggOps.vacuumAggStore(spark, base)
      })
    })
  }
}
