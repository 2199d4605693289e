package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry: one workload run per process.
  *
  * `graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *  --trace <0|1> --work <dir> --out <report.json>` (or `--selftest`).
  * Prints nothing the caller parses; the report file carries metrics,
  * checks and run context.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File, selftest: Boolean)

  def parse(argv: Seq[String]): Args = {
    val self = argv.contains("--selftest")
    val m = argv.filterNot(_ == "--selftest").sliding(2, 2)
      .collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      new File(m.getOrElse("work", ".bench_build/work")),
      new File(m.getOrElse("out", ".bench_build/report.json")), self)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    Files.deleteTree(args.work)
    args.work.mkdirs()
    val run = new Run(args)
    val t0 = System.nanoTime()
    val spark = session(args.trace, args.work)
    run.setupPhase("spark_start_s", (System.nanoTime() - t0) / 1e9)
    val code =
      try {
        if (args.selftest) SelfTest.run(spark, run)
        else Workloads.byName.get(args.workload) match {
          case Some(w) => w(spark, run)
          case None => throw new IllegalArgumentException(s"unknown workload ${args.workload}")
        }
        run.write()
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    sys.exit(code)
  }

  def session(trace: Boolean, work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // scratch (shuffle, checkpoints) stays inside the run's directory
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
    // traced runs count filesystem operations (see CountingLocalFileSystem)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (trace) {
      // drop any `file:` instance cached before the session set the class,
      // then cache the counting one for driver and tasks alike
      org.apache.hadoop.fs.FileSystem.closeAll()
      val fs = new org.apache.hadoop.fs.Path("file:///").getFileSystem(s.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingLocalFileSystem], s"file: resolves to ${fs.getClass}")
    }
    s
  }
}

/** What one run measured: end-to-end metrics, per-layer metrics, the
  * operations attempted and failed, and the failures' descriptions.
  */
final class Run(val args: Main.Args) {
  val tracer = new Tracer(args.trace, s"${args.workload}-${args.seed}-${ProcessHandle.current().pid()}")
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val aliases = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val setup = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val notes = mutable.ArrayBuffer.empty[String]
  private val loadStart = Proc.loadAvg1()
  var attempted = 0L
  var failed = 0L
  var oracle: Option[(File, File, File)] = None // corpus, results, oracle sql

  def work: File = args.work
  def seed: Long = args.seed

  def setupPhase(name: String, s: Double): Unit = setup(name) = s
  def setupSeconds: Double = setup.values.sum

  /** One operation's outcome: counts as failed if any check failed. */
  def op(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) { failed += 1; failures ++= problems.take(5) }
  }
  def check(problems: Seq[String]): Unit = if (problems.nonEmpty) {
    failed += 1; failures ++= problems.take(5)
  }

  def metric(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def alias(name: String, v: Double, unit: String): Unit = aliases(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def note(s: String): Unit = notes += s

  def write(): Unit = {
    metric("setup_s", setupSeconds, "s")
    metric("peak_rss_mb", Proc.peakRssMb(), "MB")
    args.out.getParentFile.mkdirs()
    if (args.trace) {
      java.nio.file.Files.write(new File(args.out.getPath + ".spans.jsonl").toPath,
        (tracer.toJsonLines.mkString("\n") + "\n").getBytes(UTF_8))
      note("span self times (s, summed over the run): " + tracer.selfTimes.toSeq.sortBy(_._1)
        .map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))
    }
    def obj(m: collection.Map[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${Json.q(k)}: {${Json.q("value")}: ${Json.num(v)}, " +
        s"${Json.q("unit")}: ${Json.q(u)}}" }.mkString("{", ", ", "}")
    val ctx = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_master" -> Json.q(s"local[${Runtime.getRuntime.availableProcessors()}]"),
      "loadavg_1m_start" -> Json.num(loadStart),
      "loadavg_1m_end" -> Json.num(Proc.loadAvg1()),
      "seed" -> args.seed.toString,
      "trace" -> args.trace.toString)
    val json = Seq(
      "workload" -> Json.q(args.workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.take(20).map(Json.q).mkString("[", ", ", "]"),
      "metrics" -> obj(e2e),
      "aliases" -> obj(aliases),
      "layers" -> obj(layers),
      "setup" -> setup.map { case (k, v) => s"${Json.q(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}"),
      "notes" -> notes.map(Json.q).mkString("[", ", ", "]"),
      "context" -> ctx.map { case (k, v) => s"${Json.q(k)}: $v" }.mkString("{", ", ", "}"),
      "oracle" -> oracle.fold("null") { case (c, r, s) =>
        s"{${Json.q("corpus")}: ${Json.q(c.getPath)}, ${Json.q("results")}: ${Json.q(r.getPath)}, " +
          s"${Json.q("sql")}: ${Json.q(s.getPath)}}" })
    java.nio.file.Files.write(args.out.toPath,
      json.map { case (k, v) => s"${Json.q(k)}: $v" }.mkString("{", ",\n", "}\n").getBytes(UTF_8))
  }
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Proc {
  private def read(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(new File(p).toPath), UTF_8)
    catch { case _: Exception => "" }

  def loadAvg1(): Double = read("/proc/loadavg").split(' ').headOption
    .flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** Peak resident set (VmHWM) of this JVM. */
  def peakRssMb(): Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:"))
    .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
