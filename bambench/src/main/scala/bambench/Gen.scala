package bambench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bam.codec.{Bam, Bgzf, Pos}

/** Seeded inputs. The engine only ever sees the files written here; the
  * ground truth the output checks use is recorded while writing. */
object Gen {

  /** SplitMix64: a stream per (seed, chunk), so bytes do not depend on how
    * many threads write the chunks. */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  }

  val Contigs: IndexedSeq[Bam.Contig] = IndexedSeq(
    Bam.Contig("chr1", 2_000_000), Bam.Contig("chr2", 1_500_000),
    Bam.Contig("chr3", 900_000), Bam.Contig("chr4", 700_000))

  /** The `count_reads` predicate: `mapq >= MapqCut`. */
  val MapqCut = 30

  /** Record chunks are written independently (BGZF is closed under
    * concatenation); a fixed count keeps the bytes thread-count free. */
  private val Chunks = 8

  /** Ground truth of one generated BAM. Per block (compressed start order,
    * header block included): the offset and index of the first record that
    * starts in it, -1 when none does. */
  final case class BamTruth(
      path: String,
      fileBytes: Long,
      records: Long,
      passing: Long,
      perRef: Map[Int, Long],
      perRefPassing: Map[Int, Long],
      posSum: Long,
      seqBases: Long,
      attrEntries: Long,
      blockStarts: Array[Long],
      firstOff: Array[Int],
      firstIdx: Array[Long]) {

    def mb: Double = fileBytes / 1e6

    /** Split starts at `splitSize`, each with its record's name, by the
      * engine's split rule: a range owns the first record starting at or
      * after its first block start, if that block starts inside it. */
    def splits(splitSize: Long): Vector[(Pos, String)] = {
      val out = Vector.newBuilder[(Pos, String)]
      var s = 0L
      while (s < fileBytes) {
        val e = math.min(s + splitSize, fileBytes)
        var b = java.util.Arrays.binarySearch(blockStarts, s)
        if (b < 0) b = -b - 1
        if (b < blockStarts.length && blockStarts(b) < e) {
          while (b < blockStarts.length && firstOff(b) < 0) b += 1
          if (b < blockStarts.length && blockStarts(b) < e)
            out += Pos(blockStarts(b), firstOff(b)) -> Gen.readName(firstIdx(b))
        }
        s += splitSize
      }
      out.result().distinct
    }
  }

  def readName(i: Long): String = f"r$i%09d"

  private final class Tally(nBlocks: Int) {
    var records, passing, posSum, seqBases, attrEntries = 0L
    val perRef = new Array[Long](Contigs.length + 1) // slot 0 = unmapped
    val perRefPassing = new Array[Long](Contigs.length + 1)
    val firstOff: Array[Int] = Array.fill(nBlocks)(-1)
    val firstIdx: Array[Long] = Array.fill(nBlocks)(-1L)
  }

  private def record(rng: Rng, i: Long): Bam.Record = {
    val readLen = 80 + rng.nextInt(41)
    val seq = {
      val sb = new java.lang.StringBuilder(readLen)
      var j = 0
      while (j < readLen) { sb.append("ACGT".charAt(rng.nextInt(4))); j += 1 }
      sb.toString
    }
    val qual = Array.tabulate[Byte](readLen)(_ => (2 + rng.nextInt(40)).toByte)
    val rg = "RG:Z" -> s"rg${rng.nextInt(4)}"
    if (rng.nextInt(32) == 0)
      Bam.Record(-1, -1, 0, 0x4, readName(i), Nil, -1, -1, 0, seq, qual,
        Map(rg), -1, -1)
    else {
      val ref = rng.nextInt(Contigs.length)
      val clip = if (rng.nextInt(4) == 0) 1 + rng.nextInt(10) else 0
      val cigar =
        if (clip == 0) Seq(Bam.CigarOp(0, readLen))
        else Seq(Bam.CigarOp(4, clip), Bam.CigarOp(0, readLen - clip))
      Bam.Record(ref, rng.nextInt(Contigs(ref).length - 200), rng.nextInt(61),
        if (rng.nextInt(2) == 0) 0 else 0x10, readName(i), cigar, -1, -1, 0,
        seq, qual, Map(rg, "NM:i" -> rng.nextInt(5).toString), -1, -1)
    }
  }

  /** Write `n` unsorted short reads (`BamFixture.bigPath`'s shape plus two
    * tags) as a BAM with 60 KiB BGZF payloads and no side-car files. */
  def writeBam(path: Path, n: Long, seed: Long, threads: Int): BamTruth = {
    val payload = Bgzf.MaxPayload
    val header = new ByteArrayOutputStream()
    val hw = new Bgzf.StreamWriter(header)
    Bam.writeHeader(hw, "@HD\tVN:1.6\tSO:unsorted\n" +
      Contigs.map(c => s"@SQ\tSN:${c.name}\tLN:${c.length}\n").mkString, Contigs)
    hw.finish()

    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val segments = try {
      Await.result(Future.sequence((0 until Chunks).map { c =>
        Future {
          val lo = n * c / Chunks
          val hi = n * (c + 1) / Chunks
          val rng = new Rng(seed * 1000003L + c)
          val bytes = new ByteArrayOutputStream(((hi - lo) * 180).toInt)
          val w = new Bgzf.StreamWriter(bytes, payload)
          // records average ~215 bytes: a block holds well over one
          val t = new Tally(((hi - lo) * 400 / payload + 2).toInt)
          var i = lo
          while (i < hi) {
            val r = record(rng, i)
            val at = w.bytesWritten
            val b = (at / payload).toInt
            if (t.firstOff(b) < 0) {
              t.firstOff(b) = (at % payload).toInt
              t.firstIdx(b) = i
            }
            Bam.writeRecord(w, r)
            t.records += 1
            t.perRef(r.refIdx + 1) += 1
            if (r.mapq >= MapqCut) {
              t.passing += 1
              t.perRefPassing(r.refIdx + 1) += 1
            }
            t.posSum += r.pos
            t.seqBases += r.seq.length
            t.attrEntries += r.attrs.size
            i += 1
          }
          w.finish()
          (bytes.toByteArray, t)
        }
      }), Duration.Inf)
    } finally pool.shutdown()

    val starts = Array.newBuilder[Long]
    val firstOff = Array.newBuilder[Int]
    val firstIdx = Array.newBuilder[Long]
    var base = 0L
    def blocksOf(img: Array[Byte]): Seq[Long] = {
      val out = Seq.newBuilder[Long]
      var p = 0
      while (p < img.length) {
        out += base + p
        p += Bgzf.checkHeader(img, p, img.length - p)
      }
      out.result()
    }
    val hImg = header.toByteArray
    blocksOf(hImg).foreach { s => starts += s; firstOff += -1; firstIdx += -1L }
    base += hImg.length
    segments.foreach { case (img, t) =>
      blocksOf(img).zipWithIndex.foreach { case (s, b) =>
        starts += s; firstOff += t.firstOff(b); firstIdx += t.firstIdx(b)
      }
      base += img.length
    }

    val os = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 20)
    try {
      os.write(hImg)
      segments.foreach(s => os.write(s._1))
      os.write(Bgzf.Eof)
    } finally os.close()

    val ts = segments.map(_._2)
    def sum(f: Tally => Long): Long = ts.map(f).sum
    def byRef(f: Tally => Array[Long]): Map[Int, Long] =
      (0 to Contigs.length).map(k => (k - 1) -> ts.map(f(_)(k)).sum)
        .filter(_._2 > 0).toMap
    BamTruth(path.toString, Files.size(path), sum(_.records), sum(_.passing),
      byRef(_.perRef), byRef(_.perRefPassing), sum(_.posSum), sum(_.seqBases),
      sum(_.attrEntries), starts.result(), firstOff.result(), firstIdx.result())
  }

  // ------------------------------------------------------------ SQL tables

  /** Data seed of the SQL tables. It is fixed, not the run's seed, because
    * the stored result digests are for these tables. */
  val SqlDataSeed = 20201

  private val Words = ("the a key agg row scan slow fast table value part hash " +
    "merge batch line sort window data column join small customer query order " +
    "big stream group filter spark vector index store time travel plan cache " +
    "shard block read write split").split(" ")

  /** The columns the six [[SqlQueries]] read from `lineitem`, `orders`,
    * `documents` and `embeddings`, one parquet file each. */
  def writeSqlTables(spark: SparkSession, dir: Path, docs: Int, vecs: Int,
                     orders: Int): Unit = {
    import spark.implicits._
    val rng = new Rng(SqlDataSeed)
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
    save((0 until docs).map { i =>
      val text = Seq.fill(20 + rng.nextInt(60))(Words(rng.nextInt(Words.length)))
        .mkString(" ")
      (i.toLong, text, langs(rng.nextInt(langs.length)), s"src${i % 20}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
    save((0 until vecs).map { i =>
      val label = rng.nextInt(10)
      // ten clusters, so top-k neighbours are not all ties
      val v = Array.tabulate(64)(d =>
        ((if (d % 10 == label) 0.3 else 0.0) + (rng.nextDouble() - 0.5) * 0.2).toFloat)
      (i.toLong, v, label)
    }.toDF("vec_id", "embedding", "label"), "embeddings")
    save((0 until orders).map { i =>
      (i.toLong, (rng.nextInt(orders / 10) + 1).toLong,
        "FOP".charAt(rng.nextInt(3)).toString,
        math.round((1000 + rng.nextDouble() * 400000) * 100) / 100.0)
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"), "orders")
    save((0 until orders * 4).map { i =>
      val qty = (1 + rng.nextInt(50)).toDouble
      (i.toLong / 4, qty, math.round(qty * (900 + rng.nextInt(100000))) / 100.0,
        rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
        "ANR".charAt(rng.nextInt(3)).toString, "FO".charAt(rng.nextInt(2)).toString)
    }.toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus"), "lineitem")
  }
}
