package graft.jobs

import java.nio.file.Files

import graft.SparkSpec

/** The bin readers' bounded open-ahead (round-18: object-store per-open
  * latency) must be a pure performance change: exactly the rows the bins
  * hold, correct behavior under injected per-open latency (through
  * [[graft.SlowOpenLocalFileSystem]], the bench's stand-in), and no hang
  * or stream leak when the consumer stops early (limit) or a file in the
  * middle is unreadable. The latency WALL itself is measured by the
  * bench's standing `bin_open_latency` section, not asserted here.
  */
class OpenAheadSpec extends SparkSpec {

  private val header = "k.a,v.b"

  private def mkBins(n: Int): (java.nio.file.Path, Seq[String]) = {
    val dir = Files.createTempDirectory("graft-openahead")
    (0 until n).foreach { i =>
      Files.write(dir.resolve(f"bin$i%04d.csv"),
        s"$header\n$i,x$i\n${i + 1},y$i\n".getBytes("UTF-8"))
    }
    (dir, (0 until n).map(i => f"bin$i%04d.csv"))
  }

  test("open-ahead yields exactly the written rows, with injected per-open latency") {
    val (dir, rels) = mkBins(150)
    spark.sparkContext.hadoopConfiguration.set("fs.slowopen.impl",
      classOf[graft.SlowOpenLocalFileSystem].getName)
    graft.SlowOpenLocalFileSystem.delayMs = 2L
    try {
      val got = Restructure.readCsvBinFiles(spark, s"slowopen:$dir", "", rels, header)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
      val want = rels.zipWithIndex.flatMap { case (p, i) =>
        Seq((i.toString, s"x$i", p), ((i + 1).toString, s"y$i", p))
      }.sorted
      assert(got == want)
    } finally graft.SlowOpenLocalFileSystem.delayMs = 0L
  }

  test("partial consumption (limit) completes without hanging on in-flight opens") {
    val (dir, rels) = mkBins(120)
    val got = Restructure.readCsvBinFiles(spark, dir.toString, "", rels, header)
      .limit(3).collect()
    assert(got.length == 3)
  }

  test("an unreadable file mid-stream fails the read cleanly (no hang), sequential and ahead") {
    val (dir, rels) = mkBins(40)
    Files.delete(dir.resolve("bin0020.csv"))
    // the whole list opens ahead; the missing file alone takes the
    // single-file sequential open
    for (members <- Seq(rels, Seq("bin0020.csv"))) {
      val e = intercept[org.apache.spark.SparkException] {
        Restructure.readCsvBinFiles(spark, dir.toString, "", members, header).count()
      }
      assert(e.getMessage != null)
    }
  }
}
