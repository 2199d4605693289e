package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.jobs.Restructure
import graft.sources.TopicFiles

/** Per-layer counters of a traced run, accumulated per scope and reported
  * as per-operation means.
  */
object Layers {
  private val windows = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val fs = mutable.Map.empty[String, mutable.Map[String, Long]]
  private val fsOps = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val ledgerLoad = mutable.ArrayBuffer.empty[Double]
  private val ledgerSave = mutable.ArrayBuffer.empty[Double]
  private val skips = mutable.ArrayBuffer.empty[Double]

  def install(spark: SparkSession): ScopeListener = {
    val l = new ScopeListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Runs `f` as one operation of `scope`, recording its wall window. */
  def window[T](l: ScopeListener, scope: String)(f: => T): T = {
    val spark = SparkSession.active
    val t0 = System.currentTimeMillis()
    try ScopeListener.withScope(spark.sparkContext, scope)(f)
    finally windows.getOrElseUpdate(scope, mutable.ArrayBuffer.empty) +=
      ((t0, System.currentTimeMillis()))
  }

  private def drained(l: ScopeListener, scope: String): (l.Counters, Seq[(Long, Long)]) = {
    PerfbenchBus.drain(SparkSession.active.sparkContext)
    (l.counters(scope), windows.getOrElse(scope, mutable.ArrayBuffer.empty).toSeq)
  }

  def spark(run: Run, l: ScopeListener, scope: String, cores: Int): Unit = {
    val (c, ws) = drained(l, scope)
    val n = math.max(1, ws.size).toDouble
    val wall = ws.map { case (a, b) => (b - a) / 1000.0 }.sum
    run.layer(s"$scope.spark.jobs", c.jobs / n, "count")
    run.layer(s"$scope.spark.stages", c.stages / n, "count")
    run.layer(s"$scope.spark.tasks", c.tasks / n, "count")
    run.layer(s"$scope.spark.shuffle_write_mb", c.shuffleWriteBytes / n / 1048576.0, "MB")
    run.layer(s"$scope.spark.task_busy_s", c.taskBusyNs / n / 1e9, "s")
    run.layer(s"$scope.spark.core_util",
      if (wall == 0) 0.0 else c.taskBusyNs / 1e9 / (wall * cores), "ratio")
    run.layer(s"$scope.spark.driver_gap_s",
      ScopeListener.driverGapSeconds(ws, c.jobIntervals.toSeq) / n, "s")
  }

  def sparkQuery(run: Run, l: ScopeListener, q: String): Unit = {
    val (c, ws) = drained(l, q)
    val n = math.max(1, ws.size).toDouble
    run.layer(s"$q.spark.jobs", c.jobs / n, "count")
    run.layer(s"$q.spark.shuffle_write_mb", c.shuffleWriteBytes / n / 1048576.0, "MB")
    run.layer(s"$q.spark.driver_gap_s",
      ScopeListener.driverGapSeconds(ws, c.jobIntervals.toSeq) / n, "s")
  }

  /** Adds the filesystem counter deltas since `before` to `scope` and
    * re-reports the scope's per-operation means.
    */
  def fsDelta(run: Run, scope: String, before: Map[String, Long]): Unit = {
    val now = CountingLocalFileSystem.snapshot()
    val acc = fs.getOrElseUpdate(scope, mutable.Map.empty[String, Long].withDefaultValue(0L))
    now.foreach { case (k, v) => acc(k) += v - before.getOrElse(k, 0L) }
    fsOps(scope) += 1
    acc.foreach { case (k, v) =>
      run.layer(s"$scope.fs.$k", v.toDouble / fsOps(scope), if (k.startsWith("bytes")) "bytes" else "count")
    }
  }

  /** Share of listed source files the ledger already covers, read before a
    * restructure.
    */
  def skipRatio(run: Run, ledger: File, listing: Map[String, Seq[FileStatus]]): Unit = {
    val ivs = if (ledger.isFile)
      Checks.ledgerIntervals(new String(java.nio.file.Files.readAllBytes(ledger.toPath), "UTF-8"))
    else Map.empty[(String, Int), Seq[(Long, Long)]]
    val ranges = listing.values.flatten.flatMap(st => TopicFiles.parseFilename(st.getPath.getName)).toSeq
    val covered = ranges.count(r => r.to.exists(to =>
      Checks.covers(ivs.getOrElse((r.topic, r.partition), Nil), r.from, to)))
    skips += (if (ranges.isEmpty) 0.0 else covered.toDouble / ranges.size)
    run.layer("ledger.skip_ratio", Stats.median(skips.toSeq), "ratio")
  }

  /** Times a load of the ledger and a save of it to a scratch path. */
  def ledgerIo(run: Run, ledger: File): Unit = {
    val spark = SparkSession.active
    val path = new HPath(ledger.getPath)
    val hfs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (set, load) = Stats.time(run.tracer.span("ledger.load")(Restructure.loadLedger(hfs, ledger.getPath)))
    val copy = new File(ledger.getParentFile, s"perfbench-ledger-copy.json")
    val (_, save) = Stats.time(run.tracer.span("ledger.save")(Restructure.saveLedger(hfs, copy.getPath, set)))
    copy.delete()
    ledgerLoad += load; ledgerSave += save
    val intervals = Checks.ledgerIntervals(
      new String(java.nio.file.Files.readAllBytes(ledger.toPath), "UTF-8")).values.map(_.size).sum
    run.layer("ledger.load_s", Stats.median(ledgerLoad.toSeq), "s")
    run.layer("ledger.save_s", Stats.median(ledgerSave.toSeq), "s")
    run.layer("ledger.json_bytes", ledger.length.toDouble, "bytes")
    run.layer("ledger.intervals", intervals.toDouble, "count")
  }

  /** Path → size/mtime signature of every file under `root`. */
  def snapshot(root: File): Map[String, Long] =
    Files.walk(root).map(f => Files.rel(root, f) -> (f.length * 31 + f.lastModified)).toMap

  /** Tracing overhead: traced minus untraced mean operation wall. The
    * operations come in ABBA-ordered pairs, and means (not medians) let
    * a linear warming trend cancel.
    */
  def overhead(run: Run, untraced: Seq[Double], traced: Seq[Double]): Unit =
    run.layer("trace.overhead_s", traced.sum / traced.size - untraced.sum / untraced.size, "s")
}
