package graft.ops

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Pins the r15 action-count wins so they cannot silently regress: the
  * store tier's per-mutation Spark JOB counts are part of its
  * performance contract (each sequential driver action is a scheduling
  * barrier a 100 TB cluster pays in full). An eager checkpoint, a
  * re-introduced per-delta collect or an extra election pass shows up
  * here as a job-count jump.
  *
  * Bounds are measured-plus-one-headroom (AQE may add or drop a tiny
  * stage job across Spark upgrades); the assert is an UPPER bound, so
  * genuinely removing work never fails the suite. */
class StoreJobCountSpec extends SparkTestBase {
  import spark.implicits._

  private def countJobs(body: => Unit): Int = {
    // drain whatever is in flight so earlier tests' stragglers don't
    // land in our window
    Thread.sleep(300)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      Thread.sleep(800) // listener bus is async
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("doc-store applyChanges runs as a bounded handful of jobs " +
    "(one probe + one election/rewrite chain — no extra checkpoint, " +
    "no second election)") {
    val base = tmp("jobcount-docstore")
    val store = (1L to 500L).map(k => (k, s"v$k", 1L, "U"))
      .toDF("k", "payload", "seq", "op")
    DocStoreOps.writeDocStore(store.drop("op"), spark, base, "k", "seq", 8)
    val changes = (1L to 50L).map(k => (k * 7, s"w$k", 2L, "U"))
      .toDF("k", "payload", "seq", "op")
    val jobs = countJobs {
      DocStoreOps.applyChanges(changes, spark, base, "k", "seq", "op", 8)
    }
    assert(jobs <= 7, s"applyChanges ran $jobs jobs — the one-election " +
      "rewrite runs the bucket probe, the election+checkpoint and the " +
      "partition overwrite; a regression re-introduced extra passes")
  }

  test("agg-store mergeIntoAggStore runs as a bounded handful of jobs " +
    "(probe + single-exchange fold + manifest append — no delta " +
    "checkpoint)") {
    val base = tmp("jobcount-aggstore")
    val facts = (1L to 500L).map(k => (k % 37, k.toDouble))
      .toDF("g", "v")
    IncrementalAggOps.writeAggStore(facts, spark, base, Seq("g"),
      Seq("v"), nBuckets = 8)
    val delta = (1L to 100L).map(k => (k % 37, 1.0)).toDF("g", "v")
    val jobs = countJobs {
      IncrementalAggOps.mergeIntoAggStore(delta, spark, base, Seq("g"),
        Seq("v"), nBuckets = 8)
    }
    assert(jobs <= 9, s"mergeIntoAggStore ran $jobs jobs — probe, fold " +
      "write and manifest append; a regression re-introduced the " +
      "pre-aggregate exchange or an eager delta checkpoint")
  }

  test("join-view appendToJoinView refresh runs as a bounded handful " +
    "of jobs (two delta commits + view write + manifest — no per-delta " +
    "checkpoints, no distinct-bucket collects)") {
    val base = tmp("jobcount-joinview")
    val a = (1L to 300L).map(k => (k, s"a$k")).toDF("k", "va")
    val b = (1L to 300L).map(k => (k, k * 2)).toDF("k", "vb")
    IncrementalJoinOps.writeJoinView(a, b, spark, base, "k", nBuckets = 8)
    val dA = (301L to 320L).map(k => (k, s"a$k")).toDF("k", "va")
    val dB = (301L to 320L).map(k => (k, k * 2)).toDF("k", "vb")
    val jobs = countJobs {
      IncrementalJoinOps.appendToJoinView(dA, dB, spark, base, "k",
        nBuckets = 8)
    }
    assert(jobs <= 13, s"appendToJoinView ran $jobs jobs — two delta " +
      "commit writes, the ΔJ view write(s) and the manifest append; a " +
      "regression re-introduced the eager delta checkpoints or the " +
      "bucket collects")
  }
  test("versioned-store applyChangesVersioned runs as a bounded handful " +
    "of jobs (one manifest read, the bucket probe, the election write " +
    "and the manifest append)") {
    val base = tmp("jobcount-versioned")
    val store = (1L to 500L).map(k => (k, s"v$k", 1L)).toDF("k", "payload", "seq")
    VersionedStoreOps.writeVersioned(store, spark, base, "k", "seq", 8)
    val changes = (1L to 50L).map(k => (k * 7, s"w$k", 2L, "U"))
      .toDF("k", "payload", "seq", "op")
    val jobs = countJobs {
      VersionedStoreOps.applyChangesVersioned(changes, spark, base, "k",
        "seq", "op", 8)
    }
    assert(jobs <= 9, s"applyChangesVersioned ran $jobs jobs — manifest " +
      "read, bucket probe, election write and manifest append; a " +
      "regression re-read the manifest or added a pass over the batch")
  }

  test("vector-store delete (the cell rewrite path) runs as a bounded " +
    "handful of jobs (manifest read, touched-cell probe, cell rewrite " +
    "and the manifest swap)") {
    val base = tmp("jobcount-vecdel")
    val corpus = (1L to 400L).map(k =>
      (k, Array.tabulate(8)(i => ((k * 31 + i * 17) % 23).toFloat - 11f)))
      .toDF("vec_id", "embedding")
    val cents = corpus.orderBy("vec_id").limit(4)
      .select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("cvec"))
    VectorStoreOps.writeVectorStore(corpus, spark, base, cents)
    val doomed = (1L to 400L by 9).toDF("vec_id")
    val jobs = countJobs {
      VectorStoreOps.deleteFromVectorStore(doomed, spark, base)
    }
    assert(jobs <= 14, s"deleteFromVectorStore ran $jobs jobs — manifest " +
      "read, touched-cell probe, cell rewrite and manifest swap; a " +
      "regression re-read the manifest or re-listed the rewritten cells " +
      "through a Spark job")
  }
}
