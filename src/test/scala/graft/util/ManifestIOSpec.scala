package graft.util

import java.nio.file.Files

import graft.SparkTestBase

/** [[ManifestIO]] — the versioned commit seam under every
  * manifest-committed store. The property that matters: at EVERY
  * point of a swap (including a crash that tears the new version's
  * write), a committed manifest remains resolvable — the flat
  * overwrite this replaced had a window with none. */
class ManifestIOSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(vals: (Long, Long)*) = vals.toDF("a", "b")

  private def got(dir: String): Set[(Long, Long)] =
    ManifestIO.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def versionDirs(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Set.empty
    else d.listFiles().toSet.filter(_.isDirectory).map((f: java.io.File) => f.getName)
  }

  test("swap commits, re-swap replaces and retires the old version") {
    val dir = Files.createTempDirectory("mio").toString + "/_m"
    assert(!ManifestIO.exists(spark, dir))
    ManifestIO.swap(spark, dir, rows((1L, 10L)))
    assert(ManifestIO.exists(spark, dir))
    assert(got(dir) == Set((1L, 10L)))
    ManifestIO.swap(spark, dir, rows((2L, 20L), (3L, 30L)))
    assert(got(dir) == Set((2L, 20L), (3L, 30L)))
    // exactly one version dir survives a completed swap
    assert(versionDirs(dir).size == 1, versionDirs(dir))
  }

  test("append lands inside the live version") {
    val dir = Files.createTempDirectory("mio-app").toString + "/_m"
    ManifestIO.swap(spark, dir, rows((1L, 10L)))
    ManifestIO.append(spark, dir, rows((2L, 20L)))
    assert(got(dir) == Set((1L, 10L), (2L, 20L)))
    assert(versionDirs(dir).size == 1)
  }

  test("a torn swap (no _SUCCESS) is invisible; the next swap sweeps it") {
    val dir = Files.createTempDirectory("mio-torn").toString + "/_m"
    ManifestIO.swap(spark, dir, rows((1L, 10L)))
    // crash mid-swap: v=1 has data files but the job never committed —
    // poison rows prove resolution never touches it
    rows((666L, 666L)).coalesce(1).write.parquet(s"$dir/v=1")
    val marker = new java.io.File(s"$dir/v=1/_SUCCESS")
    assert(marker.exists() && marker.delete(), "fixture: tear the commit marker")
    assert(ManifestIO.exists(spark, dir))
    assert(got(dir) == Set((1L, 10L)), "torn version must not resolve")
    // appends keep working against the live version
    ManifestIO.append(spark, dir, rows((2L, 20L)))
    assert(got(dir) == Set((1L, 10L), (2L, 20L)))
    // the next swap lands past the torn id and retires it
    ManifestIO.swap(spark, dir, rows((3L, 30L)))
    assert(got(dir) == Set((3L, 30L)))
    assert(versionDirs(dir).size == 1, versionDirs(dir))
  }

  test("swap refuses to retire when the new version has no commit marker") {
    val dir = Files.createTempDirectory("mio-nomark").toString + "/_m"
    ManifestIO.swap(spark, dir, rows((1L, 10L)))
    // success markers disabled (the committer config a shared cluster
    // profile can set): the swap's new version never gets _SUCCESS, so
    // retiring the old versions would destroy the only committed
    // manifests — the swap must abort loudly and leave them live
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setBoolean(key, false)
    try {
      intercept[IllegalArgumentException](
        ManifestIO.swap(spark, dir, rows((2L, 20L))))
    } finally conf.unset(key)
    assert(got(dir) == Set((1L, 10L)),
      "the prior committed version must survive the aborted swap")
    // and a normal swap afterwards recovers cleanly
    ManifestIO.swap(spark, dir, rows((3L, 30L)))
    assert(got(dir) == Set((3L, 30L)))
  }

  test("a fresh dir neither exists nor reads") {
    val dir = Files.createTempDirectory("mio-fresh").toString + "/_m"
    assert(!ManifestIO.exists(spark, dir))
    intercept[IllegalArgumentException](ManifestIO.read(spark, dir))
  }
}
