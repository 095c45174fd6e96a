package bambench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.LinkedHashMap

import org.apache.spark.sql.functions._

import graft.bam.check.{Checker, FindBlockStart, FindRecordStart}
import graft.bam.codec.{Bam, Bgzf, Pos}
import graft.bam.ds.{BamInputPartition, BamPartitionReader, BamSchema}
import graft.bam.io.{BlockReader, SeekableInput, UncompressedReader}
import graft.bam.ops.BamSink

/** The traced run's layer probes: single-thread replays that call each
  * module's public functions from outside and time them. Every probe also
  * checks what it computed against the ground truth; a mismatch fails the
  * run. Metrics land in `out` as name -> (value, unit). */
final class Probes(ctx: Ctx, spans: Spans, profile: Profile) {
  val out = LinkedHashMap.empty[String, (Double, String)]
  var ok = true
  private def put(name: String, v: Double, unit: String): Unit = out(name) = (v, unit)
  private def secs(ns: Long): Double = ns / 1e9
  private def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }
  /** The header, and a reader left at the first record. */
  private def header(blocks: BlockReader): (Bam.Header, UncompressedReader) = {
    val r = new UncompressedReader(blocks)
    r.seek(Pos(0, 0))
    (Bam.readHeader(r), r)
  }

  /** `bam/io` and `bam/check`: `SplitTiming.computeSplits`' algorithm, with
    * a counting input under the `BlockReader` and a counting checker. */
  def splits(t: Gen.BamTruth, splitSize: Long): Unit = spans.op("probe.splits") {
    val in = new CountingInput(SeekableInput.open(t.path))
    val blocks = new BlockReader(in)
    var blockStartNs = 0L
    val found = try {
      val (h, _) = spans("codec.read_header")(header(blocks))
      val checker = new Checker(blocks, h.contigs.map(_.length))
      val accept = new CountingAccept(checker.eager _)
      val starts = (0L until blocks.fileLength by splitSize).flatMap { s =>
        val e = math.min(s + splitSize, blocks.fileLength)
        if (s == 0) Some(h.firstRecord)
        else {
          val (bs, ns) = timed(spans("check.find_block_start")(FindBlockStart(blocks, s)))
          blockStartNs += ns
          if (bs >= e) None
          else spans("check.find_record_start")(FindRecordStart(blocks, accept, bs))
            .filter(_.blockPos < e)
        }
      }.distinct.sorted
      put("check.block_start_s", secs(blockStartNs), "s")
      put("check.probes", accept.probes.toDouble, "count")
      put("check.accepts", accept.accepts.toDouble, "count")
      put("check.accept_ratio", accept.accepts.toDouble / math.max(1L, accept.probes), "ratio")
      put("check.probe_s", secs(accept.ns), "s")
      starts
    } finally blocks.close()
    put("io.read_calls", in.calls.toDouble, "count")
    put("io.bytes_read", in.bytes.toDouble, "bytes")
    put("io.read_amplification", in.bytes.toDouble / t.fileBytes, "ratio")
    put("io.read_s", secs(in.ns), "s")
    ok &&= found == t.splits(splitSize).map(_._1)
  }

  /** `bam/codec`: inflate every block through `BlockReader.blockAt`, and
    * deflate each payload again with `Bgzf.deflateBlock`. */
  def blocks(t: Gen.BamTruth): Unit = spans.op("probe.blocks") {
    val blocks = new BlockReader(SeekableInput.open(t.path))
    var n = 0L
    var inflated = 0L
    var inflateNs = 0L
    var deflateNs = 0L
    try {
      var next = 0L
      var done = false
      while (!done) {
        val (b, ns) = timed(spans("codec.inflate")(blocks.blockAt(next)))
        inflateNs += ns
        b match {
          case None => done = true
          case Some(blk) =>
            n += 1
            inflated += blk.uncompressedSize
            deflateNs += timed(spans("codec.deflate")(
              Bgzf.deflateBlock(blk.bytes, 0, blk.uncompressedSize)))._2
            next = blk.start + blk.compressedSize
        }
      }
    } finally blocks.close()
    put("codec.blocks_inflated", n.toDouble, "count")
    put("codec.inflate_s", secs(inflateNs), "s")
    put("codec.inflate_mb_s", inflated / 1e6 / secs(inflateNs), "MB/s")
    put("codec.deflate_s", secs(deflateNs), "s")
    put("codec.deflate_mb_s", inflated / 1e6 / secs(deflateNs), "MB/s")
    ok &&= n == t.blockStarts.length
  }

  /** `bam/codec`: `Bam.readRecord` over the whole stream, with and without
    * seq, qual and attrs. Inflation is inside these times. */
  def decode(t: Gen.BamTruth): Unit = spans.op("probe.decode") {
    def walk(all: Boolean): (Long, Long) = {
      val blocks = new BlockReader(SeekableInput.open(t.path))
      try timed {
        val (_, r) = header(blocks)
        var n = 0L
        while (Bam.readRecord(r, all, all, all) != null) n += 1
        n
      } finally blocks.close()
    }
    val (nFull, fullNs) = spans("codec.decode_full")(walk(all = true))
    val (nNarrow, narrowNs) = spans("codec.decode_narrow")(walk(all = false))
    put("codec.decode_full_s", secs(fullNs), "s")
    put("codec.decode_narrow_s", secs(narrowNs), "s")
    ok &&= nFull == t.records && nNarrow == t.records
  }

  /** `bam/ds`: one `BamPartitionReader` over the whole file, `next()` (find
    * and decode) timed apart from `get()` (row materialization). */
  def reader(t: Gen.BamTruth): Unit = spans.op("probe.reader") {
    val r = new BamPartitionReader(BamInputPartition(t.path, 0, t.fileBytes),
      BamSchema.schema, 5, 10, 1 << 21)
    var n = 0L
    var nextNs = 0L
    var getNs = 0L
    try spans("ds.reader") {
      var more = true
      while (more) {
        val t0 = System.nanoTime()
        more = r.next()
        val t1 = System.nanoTime()
        nextNs += t1 - t0
        if (more) {
          r.get()
          getNs += System.nanoTime() - t1
          n += 1
        }
      }
    } finally r.close()
    put("ds.reader_next_s", secs(nextNs), "s")
    put("ds.reader_get_s", secs(getNs), "s")
    ok &&= n == t.records
  }

  /** `bam/ds`: planning (`load` to `executedPlan`) and the decode/skip
    * counters across one count-reads scan at the workload's split size. */
  def scan(t: Gen.BamTruth, splitSize: Long): Unit = spans.op("probe.scan") {
    val decoded0 = BamPartitionReader.decodedRecords.sum()
    val skipped0 = BamPartitionReader.skippedRecords.sum()
    val (df, planNs) = timed {
      val df = spans("ds.load")(ctx.spark.read.format("bam")
        .option("splitSize", splitSize.toString).load(t.path))
        .select("refIdx", "mapq").filter(col("mapq") >= Gen.MapqCut)
        .groupBy("refIdx").count()
      spans("ds.plan")(df.queryExecution.executedPlan)
      df
    }
    val partitions = ctx.spark.read.format("bam")
      .option("splitSize", splitSize.toString).load(t.path)
      .queryExecution.toRdd.getNumPartitions
    val counts = spans("ds.execute")(profile.around(ctx.spark)(df.collect())._1)
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val decoded = BamPartitionReader.decodedRecords.sum() - decoded0
    val skipped = BamPartitionReader.skippedRecords.sum() - skipped0
    put("ds.plan_s", secs(planNs), "s")
    put("ds.partitions", partitions.toDouble, "count")
    put("ds.records_decoded", decoded.toDouble, "count")
    put("ds.records_skipped", skipped.toDouble, "count")
    // records the answer needs per record fully decoded
    put("ds.decode_useful_ratio", t.passing.toDouble / math.max(1L, decoded), "ratio")
    ok &&= counts == t.perRefPassing && decoded + skipped == t.records
  }

  /** `bam/ops`: `BamSink.write` of every row of `t`, with its shuffle. */
  def sink(t: Gen.BamTruth): Unit = spans.op("probe.sink") {
    val outPath = ctx.dir.resolve("probe-sink.bam")
    val reads = ctx.spark.read.format("bam").load(t.path)
    val blocks = new BlockReader(SeekableInput.open(t.path))
    val h = try header(blocks)._1 finally blocks.close()
    val (d, ns) = timed(spans("sink.write")(profile.around(ctx.spark)(
      BamSink.write(reads, h, outPath.toString))._2))
    put("sink.write_s", secs(ns), "s")
    put("sink.shuffle_bytes", d.shuffleBytes.toDouble, "bytes")
    put("sink.out_bytes_per_in_byte", Files.size(outPath).toDouble / t.fileBytes, "ratio")
    ok &&= ctx.spark.read.format("bam").load(outPath.toString).count() == t.records
    Files.deleteIfExists(outPath)
  }

  /** `ops`, `plans`, `expressions`: each query of [[SqlQueries]] once
    * through `SparkEntry.queries`, with its jobs, shuffle and spill. These
    * are first executions: plan compilation and JIT are in the times. */
  def sql(tables: java.nio.file.Path): Unit = SqlQueries.Queries.foreach { q =>
    spans.op(s"probe.sql.$q") {
      val ((good, ns), d) = profile.around(ctx.spark)(timed(
        spans(s"sql.$q")(SqlQueries.run(ctx.spark, tables, q))._2))
      put(s"sql.$q.s", secs(ns), "s")
      put(s"sql.$q.jobs", d.jobs.toDouble, "count")
      put(s"sql.$q.shuffle_bytes", d.shuffleBytes.toDouble, "bytes")
      put(s"sql.$q.spill_bytes", d.spillBytes.toDouble, "bytes")
      ok &&= good
      graft.queries.sweepScratch()
    }
  }
}

object Probes {
  /** Where a traced run writes its spans. */
  def spanFile(ctx: Ctx, workload: String): java.nio.file.Path =
    Paths.get("bambench", "out", s"spans-$workload-${ctx.seed}.json")
}
