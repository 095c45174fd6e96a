package bambench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.bam.check.Checker
import graft.bam.codec.{Bam, Pos}
import graft.bam.io.{BlockReader, LocalFileInput, SeekableInput, UncompressedReader}
import graft.bam.ops.SplitTiming

/** The benchmark's own tests: seeded inputs, pass-through of the tracing
  * wrappers, and that every output check refuses a wrong answer. None
  * needs a Spark session. */
class BenchSpec extends AnyFunSuite {

  private val dir: Path = Files.createTempDirectory("bambench-spec")
  private def gen(name: String, seed: Long, n: Long = 20000): Gen.BamTruth =
    Gen.writeBam(dir.resolve(name), n, seed, threads = 2)
  private lazy val t = gen("a.bam", 7)
  private def bytes(t: Gen.BamTruth): Array[Byte] = Files.readAllBytes(Path.of(t.path))

  test("the same seed writes identical bytes, another seed different bytes") {
    val again = gen("b.bam", 7)
    val other = gen("c.bam", 8)
    assert(java.util.Arrays.equals(bytes(t), bytes(again)))
    assert(!java.util.Arrays.equals(bytes(t), bytes(other)))
  }

  test("the bytes do not depend on the writer thread count") {
    val one = Gen.writeBam(dir.resolve("d.bam"), 20000, 7, threads = 1)
    assert(java.util.Arrays.equals(bytes(t), bytes(one)))
  }

  test("no side-car files are written") {
    assert(!Files.exists(Path.of(t.path + ".records")))
    assert(!Files.exists(Path.of(t.path + ".gri")))
    assert(!Files.exists(Path.of(t.path + ".bai")))
  }

  test("the ground truth agrees with a plain decode of the file") {
    val blocks = new BlockReader(SeekableInput.open(t.path))
    try {
      val r = new UncompressedReader(blocks)
      r.seek(Pos(0, 0))
      Bam.readHeader(r)
      val recs = Iterator.continually(Bam.readRecord(r)).takeWhile(_ != null).toVector
      assert(recs.length == t.records)
      assert(recs.count(_.mapq >= Gen.MapqCut) == t.passing)
      assert(recs.groupBy(_.refIdx).map { case (k, v) => k -> v.length.toLong } == t.perRef)
      assert(recs.map(_.pos.toLong).sum == t.posSum)
      assert(recs.map(_.seq.length.toLong).sum == t.seqBases)
    } finally blocks.close()
  }

  test("the expected splits are what SplitTiming.computeSplits finds") {
    Seq(64L << 10, 256L << 10, 8L << 20).foreach { s =>
      val want = t.splits(s)
      assert(Checks.splits(SplitTiming.computeSplits(t.path, s, relaxed = false), want))
    }
  }

  test("the counting input passes every byte through and counts the reads") {
    val plain = new LocalFileInput(t.path)
    val counted = new CountingInput(new LocalFileInput(t.path))
    try {
      val a = new Array[Byte](4096)
      val b = new Array[Byte](4096)
      Seq(0L, 17L, 65535L, t.fileBytes - 100).foreach { p =>
        assert(plain.readAt(p, a, 0, a.length) == counted.readAt(p, b, 0, b.length))
        assert(java.util.Arrays.equals(a, b))
      }
      assert(counted.calls == 4)
      assert(counted.bytes == 3 * 4096 + 100)
      assert(counted.length == plain.length)
    } finally { plain.close(); counted.close() }
  }

  test("the counting accept returns the checker's verdicts unchanged") {
    val blocks = new BlockReader(SeekableInput.open(t.path))
    try {
      val r = new UncompressedReader(blocks)
      r.seek(Pos(0, 0))
      val header = Bam.readHeader(r)
      val checker = new Checker(blocks, header.contigs.map(_.length))
      val accept = new CountingAccept(checker.eager _)
      // a record start with the tail of the previous record before it
      val b = t.firstOff.indexWhere(_ > 100)
      val positions = (t.firstOff(b) - 100 to t.firstOff(b) + 100)
        .map(o => Pos(t.blockStarts(b), o))
      val verdicts = positions.map(accept)
      assert(verdicts == positions.map(checker.eager))
      assert(verdicts.contains(true) && verdicts.contains(false))
      assert(accept.probes == positions.length)
      assert(accept.accepts == verdicts.count(identity))
    } finally blocks.close()
  }

  test("bam_scan checks refuse a wrong answer") {
    assert(Checks.fullScan(t.records, t))
    assert(!Checks.fullScan(t.records - 1, t))
    assert(Checks.countReads(t.perRefPassing, t))
    assert(!Checks.countReads(t.perRef, t))
    assert(!Checks.countReads(t.perRefPassing.updated(0, t.perRefPassing(0) + 1), t))
    val sums = Seq(t.records, t.posSum, t.seqBases, t.attrEntries, t.seqBases)
    assert(Checks.content(sums, t))
    sums.indices.foreach(i => assert(!Checks.content(sums.updated(i, sums(i) + 1), t)))
  }

  test("bam_splits checks refuse a wrong answer") {
    val want = t.splits(64L << 10)
    val (pos, names) = want.unzip
    assert(Checks.splits(pos, want) && Checks.firstReads(names, want))
    assert(!Checks.splits(pos.tail, want))
    assert(!Checks.splits(pos.updated(1, Pos(pos(1).blockPos, pos(1).offset + 1)), want))
    assert(!Checks.firstReads(names.tail, want))
    assert(!Checks.firstReads(names.reverse, want))
  }

  test("a query whose digest differs from the stored one fails") {
    val (q, d) = SqlQueries.expected.head
    assert(SqlQueries.expected.keySet == SqlQueries.Queries.toSet)
    assert(Checks.sql(q, d))
    assert(!Checks.sql(q, d + "0"))
    assert(!Checks.sql("no_such_query", d))
  }
}
