package bambench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** The benchmark's one command:
  *
  * {{{
  * Main --workload <bam_scan|bam_splits> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * One client runs a closed loop: each op starts only after the previous
  * one returned, passes repeat until `--seconds` have elapsed. Every op's
  * output is checked; a wrong answer counts as a failed op. The last stdout
  * line is one JSON object: with `--trace 0` the end-to-end metrics, with
  * `--trace 1` the per-layer metrics of a traced run.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")))
  }

  /** One executed op: the op, seconds, output correct. */
  final case class Sample(op: Op, s: Double, ok: Boolean)

  def time(op: Op): Sample = {
    val t0 = System.nanoTime()
    val ok = try op.run() catch {
      case e: Exception =>
        System.err.println(s"[bambench] ${op.name} failed: $e")
        false
    }
    Sample(op, (System.nanoTime() - t0) / 1e9, ok)
  }

  /** Closed loop: whole passes until `seconds` have elapsed. */
  def loop(w: Workload, seconds: Double, each: Op => Sample = time): Seq[Seq[Sample]] = {
    val passes = ArrayBuffer.empty[Seq[Sample]]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += w.pass.map(each)
    passes.toSeq
  }

  /** Median seconds of op `i` (0 = `a`, 1 = `b`) over the passes. */
  def opMedian(passes: Seq[Seq[Sample]], i: Int): Double = median(passes.map(_(i).s))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it. */
  def tailPercentile(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (n - 10) / n).toInt
    if (p >= 50) Some(p) else None
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("bambench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // as graft.Bench: one local executor, so delay scheduling only idles
      .config("spark.locality.wait", "0")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val spark = session(cores, a.work)
    val ctx = Ctx(spark, a.seed, a.work, cores)
    val w = Workload(a.workload, ctx)
    val setupOk = w.setup()
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // a traced run splits its window: untraced loop, then traced loop
    val window = if (a.trace) a.seconds / 2 else a.seconds
    val passes = loop(w, window)
    val samples = passes.flatten
    var attempted = samples.length
    var failed = samples.count(!_.ok)
    val byOp = samples.groupBy(_.op.name).map { case (k, v) => k -> v.map(_.s) }
    val opA = opMedian(passes, 0)
    val opB = opMedian(passes, 1)

    println(s"workload ${w.name}: seed ${a.seed}, closed loop, 1 client, " +
      s"local[$cores], ${passes.length} passes in $window s")
    w.pass.map(_.name).foreach { n =>
      val xs = byOp(n)
      val tail = tailPercentile(xs.length).map(p => f", p$p ${quantile(xs, p / 100.0)}%.4f s")
        .getOrElse(", no tail percentile (fewer than 20 samples)")
      println(f"  op $n%-16s n=${xs.length}%3d  median ${median(xs)}%.4f s$tail")
      println("    samples: " + xs.map(x => f"$x%.3f").mkString(" "))
    }
    w.derived(n => median(byOp(n))).foreach { case (n, v, u) =>
      println(f"  $n%-20s $v%.4f $u")
    }
    val rss = peakRssMb()
    println(f"  setup_s              $setupS%.3f s")
    println(f"  error_rate           ${failed.toDouble / attempted}%.4f (failed $failed of $attempted)")
    println(f"  peak_rss_mb          $rss%.1f MB")

    val metrics = LinkedHashMap.empty[String, (Double, String)]
    var ok = setupOk && failed == 0
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("op_a_s") = (opA, "s")
      metrics("op_b_s") = (opB, "s")
    } else {
      val spans = new Spans
      val profile = new Profile(spans)
      spark.sparkContext.addSparkListener(profile)
      val tracedPasses = loop(w, window, op => spans.op(op.name) {
        profile.around(spark)(time(op))._1
      })
      val traced = tracedPasses.flatten
      attempted += traced.length
      failed += traced.count(!_.ok)
      ok &&= failed == 0
      val tasks = profile.taskSeconds
      val tA = opMedian(tracedPasses, 0)
      val tB = opMedian(tracedPasses, 1)
      val probes = new Probes(ctx, spans, profile)
      val bam = w.bam
      probes.splits(bam, w.splitSize)
      probes.blocks(bam)
      probes.decode(bam)
      probes.reader(bam)
      probes.scan(bam, w.splitSize)
      probes.sink(Gen.writeBam(a.work.resolve("sink.bam"), Workload.SinkRecords, a.seed, cores))
      val tables = a.work.resolve("sql")
      SqlQueries.writeTables(spark, tables)
      probes.sql(tables)
      spark.sparkContext.removeSparkListener(profile)
      ok &&= probes.ok

      metrics("ds.task_cpu_s_p50") = (median(tasks), "s")
      metrics("ds.task_cpu_s_max") = (tasks.max, "s")
      metrics ++= probes.out
      metrics("trace.overhead_pct") = (100 * (tA + tB - opA - opB) / (opA + opB), "%")

      println(s"  traced: ${tracedPasses.length} passes; op_a ${tA} s, op_b ${tB} s " +
        s"(untraced $opA s, $opB s)")
      println("  span self time (name, count, total s, self s):")
      spans.summary.foreach { case (n, c, tot, self) =>
        println(f"    $n%-28s $c%6d $tot%10.4f $self%10.4f")
      }
      val f = Probes.spanFile(ctx, w.name)
      Files.createDirectories(f.getParent)
      Files.write(f, spans.toJson.getBytes("UTF-8"))
      println(s"  spans written to $f")
    }
    metrics.foreach { case (n, (v, u)) => println(f"  $n%-32s $v%.6g $u") }

    spark.stop()
    println(Json.result(ok, attempted, failed, metrics.toSeq))
    System.exit(0)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, (Double, String))]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, (v, u)) =>
        s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}"""
      }.mkString(", ") + "}}"
}
