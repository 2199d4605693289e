package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem,
  LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded by the benchmark around its calls into the program:
  * name, start, end and parent, all under one run id. Kept in memory and
  * written when the run ends. Disabled, `span` is a plain call.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        done += Span(id, name, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Summed wall of every span with this name. */
  def total(name: String): Double = done.filter(_.name == name).map(_.seconds).sum

  /** Summed self time per span name: duration minus the part of it that
    * child spans cover (children of one parent never overlap here).
    */
  def selfTimes: Map[String, Double] = {
    val childCover = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childCover.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJsonLines: Seq[String] = done.sortBy(_.startNs).map { s =>
    s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.toSeq
}

/** Spark scheduler counters per benchmark scope. The scope travels as a
  * job-local property, so attribution survives the listener bus's
  * asynchronous delivery.
  */
final class ScopeListener extends SparkListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleWriteBytes = 0L; var taskBusyNs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }
  private val byScope = mutable.Map.empty[String, Counters]
  private val jobScope = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageScope = mutable.Map.empty[Int, String]

  def counters(scope: String): Counters = synchronized(byScope.getOrElseUpdate(scope, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(ScopeListener.Key)))
    scope.foreach { s =>
      jobScope(e.jobId) = s
      jobStartMs(e.jobId) = e.time
      counters(s).jobs += 1
      e.stageIds.foreach(stageScope(_) = s)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobScope.remove(e.jobId).foreach { s =>
      counters(s).jobIntervals += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageScope.get(e.stageInfo.stageId).foreach(s => counters(s).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageScope.get(e.stageId).foreach { s =>
      val c = counters(s)
      c.tasks += 1
      if (e.taskMetrics != null) {
        c.taskBusyNs += e.taskMetrics.executorRunTime * 1000000L
        c.shuffleWriteBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

object ScopeListener {
  val Key = "perfbench.scope"

  def withScope[T](sc: SparkContext, scope: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, scope)
    try f finally sc.setLocalProperty(Key, prev)
  }

  /** Wall inside `windows` during which no job of the scope ran. */
  def driverGapSeconds(windows: Seq[(Long, Long)], jobs: Seq[(Long, Long)]): Double = {
    val merged = jobs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (js, je)) if js <= e => (s, math.max(e, je)) :: rest
      case (acc, iv) => iv :: acc
    }
    windows.map { case (ws, we) =>
      val busy = merged.map { case (s, e) => math.max(0L, math.min(e, we) - math.max(s, ws)) }.sum
      (we - ws - busy) / 1000.0
    }.sum
  }
}

/** The local `file:` FileSystem with per-operation counters. Hadoop's
  * global storage statistics carry only byte counts for `file:`, so the
  * traced run installs this class as `fs.file.impl` to count the
  * operations the program issues; untraced runs use the stock class.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def create(f: HPath, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops("op_create").incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    ops("op_open").incrementAndGet(); super.open(f, bufferSize)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    ops("op_rename").incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: HPath, recursive: Boolean): Boolean = {
    ops("op_delete").incrementAndGet(); super.delete(f, recursive)
  }
  override def getFileStatus(f: HPath): FileStatus = {
    ops("op_get_file_status").incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: HPath): Array[FileStatus] = {
    ops("op_list_status").incrementAndGet(); super.listStatus(f)
  }
}

object CountingLocalFileSystem {
  val ops: Map[String, AtomicLong] =
    Seq("op_create", "op_open", "op_rename", "op_delete", "op_get_file_status", "op_list_status")
      .map(_ -> new AtomicLong).toMap

  /** Current op counts plus `file:` byte counters from Hadoop's global
    * storage statistics.
    */
  def snapshot(): Map[String, Long] = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    def stat(n: String): Long =
      Option(st).flatMap(s => Option(s.getLong(n))).map(_.longValue).getOrElse(0L)
    ops.map { case (k, v) => k -> v.get } ++
      Map("bytes_read" -> stat("bytesRead"), "bytes_written" -> stat("bytesWritten"))
  }
}
