package graft.perfbench

import java.io.{BufferedInputStream, File, FileInputStream, InputStream}
import java.security.MessageDigest
import java.util.zip.GZIPInputStream

import scala.collection.mutable

/** Small file-tree helpers. */
object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Regular files under `root`, sorted by relative path. */
  def walk(root: File): Seq[File] = {
    val out = mutable.ArrayBuffer.empty[File]
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.sortBy(_.getName).foreach(go))
      else if (f.isFile) out += f
    go(root)
    out.toSeq
  }

  def rel(root: File, f: File): String = root.toPath.relativize(f.toPath).toString

  def bytes(root: File): Long = walk(root).map(_.length).sum

  /** SHA-256 over every (relative path, content) pair of the tree. */
  def treeDigest(root: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    walk(root).foreach { f =>
      md.update(rel(root, f).getBytes("UTF-8")); md.update(0.toByte)
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Output checks that compare the program's results with what the
  * generators know independently. Each returns failure descriptions;
  * empty means the check passed.
  */
object Checks {

  private def open(f: File): InputStream = {
    val in = new BufferedInputStream(new FileInputStream(f), 1 << 16)
    if (f.getName.endsWith(".gz")) new GZIPInputStream(in, 1 << 16) else in
  }

  /** Data rows of a CSV bin: lines after the header. Generated values
    * never contain quotes or line breaks, so a newline count suffices.
    */
  def dataRows(f: File): Long = {
    val in = open(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var lines = 0L; var last = '\n'.toByte
      var n = in.read(buf)
      while (n >= 0) {
        var i = 0
        while (i < n) { if (buf(i) == '\n') lines += 1; i += 1 }
        if (n > 0) last = buf(n - 1)
        n = in.read(buf)
      }
      if (last != '\n') lines += 1
      math.max(0L, lines - 1)
    } finally in.close()
  }

  final case class BinScan(rows: Map[String, Long], attemptFiles: Int,
      dirsWithoutSidecar: Seq[String])

  /** Data rows per base bin (summed over its `_N` attempt files), the
    * number of attempt files, and bin directories lacking a schema sidecar.
    */
  def scanBins(outRoot: File): BinScan = {
    val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var attempts = 0
    val binDirs = mutable.Set.empty[File]
    val sidecarDirs = mutable.Set.empty[File]
    Files.walk(outRoot).foreach { f =>
      val dir = f.getParentFile
      if (f.getName.startsWith("schema-")) sidecarDirs += dir
      else RadarStore.baseBin(f.getName).foreach { case (base, isAttempt) =>
        rows(s"${Files.rel(outRoot, dir)}/$base") += dataRows(f)
        binDirs += dir
        if (isAttempt) attempts += 1
      }
    }
    BinScan(rows.toMap, attempts, (binDirs -- sidecarDirs).toSeq.map(Files.rel(outRoot, _)).sorted)
  }

  /** Every base bin holds exactly the generator's distinct records, and
    * every bin directory has its schema sidecar.
    */
  def binsMatch(scan: BinScan, expected: Map[String, Long]): Seq[String] = {
    val wrong = (expected.keySet ++ scan.rows.keySet).toSeq.sorted.flatMap { k =>
      val (e, g) = (expected.getOrElse(k, 0L), scan.rows.getOrElse(k, 0L))
      if (e != g) Some(s"bin $k: $g rows, expected $e") else None
    }
    val sidecars = scan.dirsWithoutSidecar.map(d => s"directory $d has no schema sidecar")
    (wrong.take(5) ++ (if (wrong.size > 5) Seq(s"... ${wrong.size} bins differ") else Nil)) ++
      sidecars.take(5)
  }

  private val PartRe = "\\{\"topic\":\"([^\"]+)\",\"partition\":(\\d+),\"ranges\":\\[([^\\]]*)\\]\\}".r
  private val RangeRe = "\"from\":(\\d+),\"to\":(\\d+)".r

  /** Offset intervals per (topic, partition), read from the ledger JSON. */
  def ledgerIntervals(json: String): Map[(String, Int), Seq[(Long, Long)]] =
    PartRe.findAllMatchIn(json).map { m =>
      (m.group(1), m.group(2).toInt) ->
        RangeRe.findAllMatchIn(m.group(3)).map(r => (r.group(1).toLong, r.group(2).toLong)).toSeq
    }.toMap

  def covers(ivs: Seq[(Long, Long)], from: Long, to: Long): Boolean = {
    var need = from
    ivs.sortBy(_._1).foreach { case (f, t) => if (f <= need && t >= need) need = t + 1 }
    need > to
  }

  /** The ledger covers every offset of every landed file. */
  def ledgerCovers(ledger: File, files: Seq[LandedFile]): Seq[String] =
    if (!ledger.isFile) Seq(s"no ledger at ${ledger.getName}")
    else {
      val ivs = ledgerIntervals(new String(java.nio.file.Files.readAllBytes(ledger.toPath), "UTF-8"))
      files.filterNot(f => covers(ivs.getOrElse((f.topic, f.partition), Nil), f.from, f.to))
        .take(5).map(f => s"ledger misses ${f.topic}+${f.partition}+${f.from}+${f.to}")
    }

  /** Source files the cleaner must keep: the newest file per partition. */
  def newestPerPartition(files: Seq[LandedFile]): Seq[LandedFile] =
    files.groupBy(f => (f.topic, f.partition)).values.map(_.maxBy(_.from)).toSeq

  def newestKept(files: Seq[LandedFile]): Seq[String] =
    newestPerPartition(files).filterNot(_.path.isFile)
      .map(f => s"cleaner deleted the newest file ${f.path.getName}")

  /** Streaming: planted copies dropped, planted disjoint documents kept. */
  def streamOutcome(b: CorpusGen.StreamBatch, survivors: Set[Long]): Seq[String] =
    (b.mustDrop.intersect(survivors).toSeq.sorted.map(id => s"batch ${b.id}: copy $id survived") ++
      (b.mustSurvive -- survivors).toSeq.sorted.map(id => s"batch ${b.id}: unique doc $id dropped"))
      .take(5)
}
