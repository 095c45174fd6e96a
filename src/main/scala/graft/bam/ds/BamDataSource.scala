package graft.bam.ds

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("bam")` — DataSource V2 for BAM files.
  *
  * Spark-native re-expression of the reference's loader API
  * (load/.../CanLoadBam.scala:71-143 `loadBam`): split planning =
  * `planInputPartitions` (size-based byte ranges), boundary detection +
  * record decode = `PartitionReader`. The scan is completely narrow — no
  * shuffle — and scales by adding partitions: the contract that holds at
  * 100 TB on a 1000-executor cluster.
  *
  * Options: `splitSize` (bytes, default 8 MiB), `blocksToCheck`,
  * `readsToCheck`, `maxReadSize` (checker knobs, reference defaults;
  * `maxReadSize` defaults to [[graft.bam.check.FindRecordStart.MaxReadSize]]).
  */
class BamDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bam"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BamSchema.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val paths = BamDataSource.resolvePaths(opts)
    new BamTable(paths, schema)
  }
}

object BamDataSource {
  /** Hadoop conf of the active session (driver side), so fs.defaultFS /
    * credentials apply; bare default only when no session exists (tests
    * constructing readers directly). Looked up without catching: the
    * session-less case is the only one that falls back. */
  def hadoopConf(): org.apache.hadoop.conf.Configuration = {
    import org.apache.spark.sql.SparkSession
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
  }

  /** Driver conf wrapped for shipping into executor closures — build it
    * DRIVER-SIDE (before mapPartitions / in the scan factory) so executors
    * see spark.hadoop.* session settings. */
  def serializableConf(): org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(hadoopConf())

  /** Resolve the `path`/`paths` option into concrete file paths; globs are
    * expanded through the Hadoop FS, so wildcard dirs-of-BAMs work. Local
    * (`file:`/schemeless) matches normalize to plain paths; any other
    * scheme+authority (hdfs://, s3a://…) is preserved verbatim so the
    * executor-side open goes back to the right filesystem. */
  def resolvePaths(opts: CaseInsensitiveStringMap): Seq[String] = {
    val raw: Seq[String] =
      Option(opts.get("paths")).map(_.split(",").toSeq)
        .orElse(Option(opts.get("path")).map(Seq(_)))
        .getOrElse(throw new IllegalArgumentException("bam: no path given"))
    val conf = hadoopConf()
    raw.foreach { p =>
      // S4 stance, enforced loudly: CRAM needs a reference-genome codec
      // with no public offline implementation (the reference delegates to
      // hadoop-bam, CanLoadBam.scala:268-277). Failing at plan time beats
      // garbage from the BGZF boundary scan.
      if (p.toLowerCase.endsWith(".cram"))
        throw new IllegalArgumentException(
          s"$p: CRAM is not supported (no public codec available offline; " +
            "see COVERAGE.md S4). Convert to BAM.")
    }
    raw.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val matches = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      if (matches.isEmpty) Seq(p)
      else matches.map { st =>
        val uri = st.getPath.toUri
        if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
        else st.getPath.toString
      }
    }
  }
}

object BamSchema {
  /** The engine's record schema (SURVEY.md §1.2). `pos` is 0-based;
    * `endPos` is the 0-based exclusive alignment end (cigar-aware, F10);
    * `virtualPos` is the provenance metadata column (S6). */
  val schema: StructType = StructType(Seq(
    StructField("refIdx", IntegerType, nullable = false),
    StructField("contig", StringType, nullable = true),
    StructField("pos", IntegerType, nullable = false),
    StructField("endPos", IntegerType, nullable = false),
    StructField("mapq", IntegerType, nullable = false),
    StructField("flags", IntegerType, nullable = false),
    StructField("readName", StringType, nullable = false),
    StructField("cigar", ArrayType(StructType(Seq(
      StructField("op", IntegerType, nullable = false),
      StructField("len", IntegerType, nullable = false))), containsNull = false),
      nullable = false),
    StructField("nextRefIdx", IntegerType, nullable = false),
    StructField("nextPos", IntegerType, nullable = false),
    StructField("templateLen", IntegerType, nullable = false),
    StructField("seq", StringType, nullable = false),
    StructField("qual", BinaryType, nullable = false),
    StructField("attrs", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false),
    StructField("virtualPos", StructType(Seq(
      StructField("blockPos", LongType, nullable = false),
      StructField("offset", IntegerType, nullable = false))), nullable = false)
  ))
}

class BamTable(paths: Seq[String], override val schema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"bam(${paths.mkString(",")})"
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BamScanBuilder(paths, options.asScala.toMap)
}

class BamScanBuilder(paths: Seq[String], options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = BamSchema.schema
  private var pushed: Array[Filter] = Array.empty
  private var countPushed = false

  /** COUNT(*) pushdown backed by the `.records` side-car (the
    * ground-truth record index): an un-filtered, un-grouped count never
    * decodes a byte of BAM — the analog of parquet's metadata count.
    * PARTIAL pushdown (Spark sums the per-file partial rows), so it
    * composes with multi-path reads. Refused when any filter is present
    * (residual rows would be wrong) or any input lacks its side-car. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    countPushed = canPushCount(agg)
    countPushed
  }

  private def canPushCount(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val conf = BamDataSource.hadoopConf()
    allFilters.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar] &&
      paths.forall { p =>
        val hp = new org.apache.hadoop.fs.Path(p + ".records")
        hp.getFileSystem(conf).exists(hp)
      }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Preserve our canonical field order; Spark's projection sits on top.
    required = StructType(
      BamSchema.schema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  /** Partial pushdown: contig/refIdx/pos predicates drive `.gri`-index
    * partition pruning in planInputPartitions (the BAI-chunk role,
    * Intervals.scala:108-127); EVERY filter is also returned for residual
    * evaluation, because block-level ranges are not row-exact.
    *
    * Multi-path reads may span BAMs with DIFFERENT header dictionaries
    * (contig orderings), so supportedness is classified against every
    * path's dictionary and only the intersection is reported pushed —
    * a contig→idx mapping valid in one file but not another must not be
    * advertised (pruning itself is already per-file, planInputPartitions
    * re-derives bounds per path). One dictionary (the common case) keeps
    * exactly the old behavior. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val dicts = paths.map(p => BamScan.contigToIdx(Seq(p)))
    pushed =
      if (dicts.isEmpty) Array.empty
      else dicts.map(GenomicIndex.supported(filters, _).toSet)
        .reduce(_ intersect _).toArray
    this.allFilters = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  private var allFilters: Array[Filter] = Array.empty

  override def build(): Scan =
    if (countPushed) new BamCountScan(paths)
    else new BamScan(paths, required, options, allFilters)
}

/** The completely-pushed COUNT(*) scan: tasks count newlines in byte
  * ranges of the `.records` side-car; no BAM bytes are read. The side-car
  * is data-sized (one line per record — a 100 GB BAM has a ~12 GB
  * side-car), so a single whole-file task would be SLOWER than the
  * parallel decode it replaces: ranges of [[BamCountScan.SplitSize]]
  * keep the count as parallel as the scan it short-circuits. The format
  * ("blockPos,offset\n" per record, newline-terminated, never blank —
  * BamFixture + BamOps.writeCsvOrdered) makes newlines-in-range an exact
  * per-range line count; the task owning the file tail adds one for an
  * unterminated final line, defensively. */
class BamCountScan(paths: Seq[String]) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = s"bam-count ${paths.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = BamDataSource.hadoopConf()
    paths.toArray.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p + ".records")
      val len = hp.getFileSystem(conf).getFileStatus(hp).getLen
      if (len == 0) Seq(BamCountPartition(p, 0L, 0L, len))
      else (0L until len by BamCountScan.SplitSize).map(s =>
        BamCountPartition(p, s, math.min(s + BamCountScan.SplitSize, len), len))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BamCountReaderFactory(BamDataSource.serializableConf())
}

object BamCountScan {
  /** Side-car bytes per count task — small enough to parallelize a
    * data-sized side-car, large enough that task overhead stays noise. */
  val SplitSize: Long = 32L << 20
}

final case class BamCountPartition(path: String, start: Long, end: Long,
                                   fileLen: Long) extends InputPartition

class BamCountReaderFactory(conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val p = partition.asInstanceOf[BamCountPartition]
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted
      override def get(): org.apache.spark.sql.catalyst.InternalRow = {
        emitted = true
        var n = 0L
        if (p.end > p.start) {
          val hp = new org.apache.hadoop.fs.Path(p.path + ".records")
          val fs = hp.getFileSystem(conf.value)
          val in = fs.open(hp)
          try {
            in.seek(p.start)
            val buf = new Array[Byte](1 << 20)
            var remaining = p.end - p.start
            var lastByte: Byte = 0
            while (remaining > 0) {
              val r = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
              if (r < 0) remaining = 0
              else {
                var i = 0
                while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
                if (r > 0) lastByte = buf(r - 1)
                remaining -= r
              }
            }
            if (p.end == p.fileLen && lastByte != '\n') n += 1
          } finally in.close()
        }
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        row.setLong(0, n)
        row
      }
      override def close(): Unit = ()
    }
  }
}

final case class BamInputPartition(path: String, start: Long, end: Long,
                                   locations: Array[String] = Array.empty)
    extends InputPartition {
  /** HDFS-style locality: hosts holding the split's byte range (S8;
    * reference: load/.../SplitRDD.scala:27-30). Empty on filesystems
    * without block locations — Spark treats that as "anywhere". */
  override def preferredLocations(): Array[String] = locations
}

class BamScan(paths: Seq[String], required: StructType,
              options: Map[String, String],
              filters: Array[Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Planner statistics (drives join-strategy and AQE decisions): row
    * count from the `.records` side-car when present (exact), else
    * estimated from compressed size at ~170 B/record; size = uncompressed
    * estimate (BGZF ≈ 3x compression on BAM payloads, the reference's own
    * published ratios). Catalyst treats a source without stats as
    * huge — accurate numbers let small BAM dims broadcast. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val conf = BamDataSource.hadoopConf()
    private lazy val (bytes, rows) = {
      var b = 0L
      var r = 0L
      var exact = true
      paths.foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        b += fs.getFileStatus(hp).getLen
        val rec = new org.apache.hadoop.fs.Path(p + ".records")
        if (exact && fs.exists(rec)) {
          val recLen = fs.getFileStatus(rec).getLen
          if (recLen <= (16L << 20)) { // exact count only for small side-cars
            val in = fs.open(rec)
            try r += scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().count(_.nonEmpty)
            finally in.close()
          } else r += recLen / 12 // ~"blockPos,offset\n" line length
        } else exact = false
      }
      (b * 3, if (exact) r else b / 170)
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }
  override def description(): String =
    s"bam ${paths.mkString(",")} cols=${required.fieldNames.mkString(",")}" +
      (if (filters.nonEmpty) s" pushed=${filters.mkString(",")}" else "")

  override def planInputPartitions(): Array[InputPartition] = {
    val splitSize = options.getOrElse("splitsize", (8L << 20).toString).toLong
    val strictEof = options.getOrElse("stricteof", "false").toBoolean
    val conf = BamDataSource.hadoopConf()
    paths.toArray.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val status = fs.getFileStatus(hp)
      // A truncated/partial file silently yields only its complete blocks
      // (the reader stops at the last decodable boundary). Pipelines where
      // partial data must fail LOUDLY opt in: strictEof demands the
      // 28-byte BGZF terminator (checked once per file at plan time).
      if (strictEof) {
        val eof = graft.bam.codec.Bgzf.Eof
        val tail = new Array[Byte](eof.length)
        val in = fs.open(hp)
        try in.readFully(status.getLen - eof.length, tail) finally in.close()
        if (!java.util.Arrays.equals(tail, eof))
          throw new IllegalStateException(
            s"$p: missing BGZF EOF marker — file is truncated or still being written")
      }
      // filesystems without block locations plan with no host hints
      val locality = new Locality(
        try fs.getFileBlockLocations(status, 0, status.getLen)
        catch {
          case _: java.io.IOException | _: UnsupportedOperationException =>
            Array.empty[org.apache.hadoop.fs.BlockLocation]
        })
      def hostsFor(s: Long, e: Long): Array[String] = locality.hostsFor(s, e)

      // index pruning: engine `.gri` side-car first, standard `.bai` else
      val pruned: Option[Seq[(Long, Long)]] =
        if (filters.isEmpty) None
        else GenomicIndex.toBounds(filters.toSeq, BamScan.contigToIdx(Seq(p)))
          .flatMap { bounds =>
            GenomicIndex.read(p)
              .map(idx => GenomicIndex.pruneRanges(idx, bounds, splitSize))
              .orElse(Bai.read(p).flatMap(idx =>
                Bai.pruneRanges(idx, bounds, splitSize)))
          }
      val ranges = pruned.getOrElse(
        (0L until status.getLen by splitSize)
          .map(s => (s, math.min(s + splitSize, status.getLen))))
      ranges.map { case (s, e) => BamInputPartition(p, s, e, hostsFor(s, e)) }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BamPartitionReaderFactory(required,
      options.getOrElse("blockstocheck", "5").toInt,
      options.getOrElse("readstocheck", "10").toInt,
      options.getOrElse("maxreadsize",
        graft.bam.check.FindRecordStart.MaxReadSize.toString).toInt,
      options.getOrElse("checker", "eager"),
      filters = filters,
      flagBits = options.getOrElse("flagbits", ""))
}

object BamScan {
  // Header dictionaries are consulted once per path in pushFilters AND
  // once per path in planInputPartitions (both driver-side, same process):
  // cache per path so each header is decoded once per JVM. Headers are a
  // few KB; eviction is not worth the code.
  // keyed on (path, mtime, length) so an in-place rewrite invalidates
  private val dictCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Map[String, Int]]()

  /** Contig-name → refIdx map from the (first) file's header, driver-side
    * (the reference broadcasts the same dictionary, CanLoadBam.scala:80).
    * Multi-path callers wanting per-file dictionaries pass one path at a
    * time — see BamScanBuilder.pushFilters. */
  def contigToIdx(paths: Seq[String]): Map[String, Int] =
    paths.headOption.map { p =>
      // an unreadable path fails here, as the header read below would
      val hp = new org.apache.hadoop.fs.Path(p)
      val st = hp.getFileSystem(BamDataSource.hadoopConf()).getFileStatus(hp)
      val key = (p, st.getModificationTime, st.getLen)
      dictCache.computeIfAbsent(key, { _ =>
        val blocks = new graft.bam.io.BlockReader(graft.bam.io.SeekableInput.open(p))
        try {
          val r = new graft.bam.io.UncompressedReader(blocks)
          r.seek(graft.bam.codec.Pos(0, 0))
          graft.bam.codec.Bam.readHeader(r)
            .contigs.zipWithIndex.map { case (c, i) => c.name -> i }.toMap
        } finally blocks.close()
      })
    }.getOrElse(Map.empty)
}
