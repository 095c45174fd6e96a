package bambench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.bam.codec.Pos
import graft.bam.ds.BamPartitionReader
import graft.bam.ops.SplitTiming

/** What every workload's run can reach: the session, the seed, the run's
  * scratch directory and the task slot count. */
final case class Ctx(spark: SparkSession, seed: Long, dir: Path, cores: Int)

/** One timed operation; `run` returns whether the output matched the
  * ground truth. */
final case class Op(name: String, run: () => Boolean)

/** A workload: two timed ops over one seeded BAM. A pass of the closed
  * loop runs op `a`, then op `b`. */
abstract class Workload(ctx: Ctx) {
  def name: String
  /** The split size of the workload's scans, and of the probes' replay. */
  def splitSize: Long
  def pass: Seq[Op]
  /** The paper's figures, derived from the op medians. */
  def derived(median: String => Double): Seq[(String, Double, String)]
  /** A set-up check beyond the ops' own. */
  protected def checkInput(): Boolean = true

  private var truth: Gen.BamTruth = _
  /** The generated BAM and its ground truth. */
  def bam: Gen.BamTruth = truth

  /** Generate the input, check it, warm up. False when a check failed. */
  def setup(): Boolean = {
    truth = Gen.writeBam(ctx.dir.resolve("scan.bam"), Workload.ScanRecords,
      ctx.seed, ctx.cores)
    checkInput() && Workload.warm(this)
  }
}

object Workload {
  /** Records of the generated BAM: ≈ 53 MB in about 1,400 BGZF blocks,
    * against `BlockReader`'s 64-block cache. */
  val ScanRecords = 400_000L
  /** Split size of `bam_splits`: ≈ 100 splits. Each split costs ≈ 13 ms on
    * the driver, nearly all of it `FindBlockStart`'s 18-byte positioned
    * reads; 256 KiB would give ≈ 200 splits but only three passes a run. */
  val SmallSplit: Long = 512L << 10
  /** Records of the BAM the traced run's sink probe rewrites: ≈ 8 MB. */
  val SinkRecords = 60_000L
  /** Untimed warm-up before the clock starts. Op times keep falling for
    * ≈ 15 s of a run as the JIT compiles the decode and Spark paths. */
  val WarmSeconds = 16.0

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "bam_scan"   => new BamScanWorkload(ctx)
    case "bam_splits" => new BamSplitsWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Untimed passes, at least two, until [[WarmSeconds]] have elapsed. */
  def warm(w: Workload): Boolean = {
    val t0 = System.nanoTime()
    var ok = true
    var n = 0
    while (n < 2 || (System.nanoTime() - t0) / 1e9 < WarmSeconds) {
      ok &&= w.pass.forall(_.run())
      n += 1
    }
    ok
  }

  /** Every column of the BAM, reduced to the sums the generator recorded. */
  def contentMatches(spark: SparkSession, t: Gen.BamTruth): Boolean = {
    val r = spark.read.format("bam").load(t.path)
      .agg(count(lit(1)), sum(col("pos").cast("long")), sum(length(col("seq"))),
        sum(size(col("attrs"))), sum(length(col("qual"))))
      .head()
    Checks.content((0 until 5).map(r.getLong), t)
  }

  /** The reference's count-reads: narrow projection, pushed prefix
    * predicate, count per `refIdx`. */
  def countReads(spark: SparkSession, path: String, splitSize: Long): Map[Int, Long] =
    spark.read.format("bam").option("splitSize", splitSize.toString).load(path)
      .select("refIdx", "mapq")
      .filter(col("mapq") >= Gen.MapqCut)
      .groupBy("refIdx").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
}

/** The output checks: each compares one op's answer with the ground truth
  * the generator recorded. */
object Checks {
  def fullScan(decoded: Long, t: Gen.BamTruth): Boolean = decoded == t.records
  def countReads(got: Map[Int, Long], t: Gen.BamTruth): Boolean = got == t.perRefPassing
  /** Sums of count, pos, seq length, attrs entries, qual length. */
  def content(sums: Seq[Long], t: Gen.BamTruth): Boolean =
    sums == Seq(t.records, t.posSum, t.seqBases, t.attrEntries, t.seqBases)
  def splits(got: Seq[Pos], want: Seq[(Pos, String)]): Boolean = got == want.map(_._1)
  def firstReads(got: Seq[String], want: Seq[(Pos, String)]): Boolean =
    got == want.map(_._2)
  def sql(q: String, digest: String): Boolean = SqlQueries.expected.get(q).contains(digest)
}

/** Inflate, decode and row materialization over a file far larger than the
  * block cache, at the default 8 MiB split size. */
final class BamScanWorkload(ctx: Ctx) extends Workload(ctx) {
  val name = "bam_scan"
  val splitSize: Long = 8L << 20

  override protected def checkInput(): Boolean = Workload.contentMatches(ctx.spark, bam)

  val pass: Seq[Op] = Seq(
    Op("full", () => {
      val before = BamPartitionReader.decodedRecords.sum()
      ctx.spark.read.format("bam").load(bam.path)
        .write.format("noop").mode("overwrite").save()
      Checks.fullScan(BamPartitionReader.decodedRecords.sum() - before, bam)
    }),
    Op("count_reads", () =>
      Checks.countReads(Workload.countReads(ctx.spark, bam.path, splitSize), bam)))

  def derived(m: String => Double): Seq[(String, Double, String)] = Seq(
    ("scan_full_mb_s", bam.mb / m("full"), "MB/s"),
    ("scan_full_rec_s", bam.records / m("full"), "records/s"),
    ("count_reads_mb_s", bam.mb / m("count_reads"), "MB/s"))
}

/** The fixed cost of each split: header re-parse, block search, checker
  * probes; bulk decode is almost absent. */
final class BamSplitsWorkload(ctx: Ctx) extends Workload(ctx) {
  val name = "bam_splits"
  val splitSize: Long = Workload.SmallSplit
  private lazy val expected = bam.splits(splitSize)

  val pass: Seq[Op] = Seq(
    Op("compute_splits", () => Checks.splits(
      SplitTiming.computeSplits(bam.path, splitSize, relaxed = false), expected)),
    // one name per split that holds a record: the same count as
    // compute_splits, checked through the same ground truth
    Op("first_reads", () => Checks.firstReads(
      SplitTiming.firstNames(ctx.spark, bam.path, splitSize, "eager")._2.toSeq, expected)))

  def derived(m: String => Double): Seq[(String, Double, String)] = Seq(
    ("compute_splits_s", m("compute_splits"), "s"),
    ("first_reads_s", m("first_reads"), "s"),
    ("splits", expected.length.toDouble, "count"))
}
