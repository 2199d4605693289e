package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement plumbing for [[Bench]]: the session's job/stage/task
  * counter listener and the workload-honest corpus replication.
  */
private[graft] object BenchSupport {

  /** Per-query Spark job/stage/task counters + shuffle volume, fed by a
    * SparkListener. Listener events drain ASYNCHRONOUSLY after an action
    * returns — call [[settle]] before reading, and [[reset]] before the
    * measured work.
    */
  final class Counters {
    val jobs = new AtomicInteger
    val jobsEnded = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    def reset(): Unit = {
      jobs.set(0); jobsEnded.set(0); stages.set(0); tasks.set(0)
      shufRead.set(0); shufWrite.set(0)
    }
    /** Wait for the listener bus to drain, by observation rather than a
      * fixed sleep (which undercounted on a loaded host mid-bench): the
      * measured action has returned, so every job has been submitted AND
      * finished — poll until every started job's end event has been
      * processed and the counters are quiescent across two consecutive
      * samples (the bus is ordered, so a job's stage/task events precede
      * its end event). Bounded at 2 s so a dropped event can never hang
      * the bench.
      */
    def settle(): Unit = {
      def snap = (jobs.get, jobsEnded.get, stages.get, tasks.get, shufRead.get, shufWrite.get)
      val deadline = System.nanoTime() + 2L * 1000 * 1000 * 1000
      var last = snap
      var stable = 0
      while (stable < 2 && System.nanoTime() < deadline) {
        Thread.sleep(10)
        val cur = snap
        if (cur == last && jobsEnded.get >= jobs.get) stable += 1
        else { stable = 0; last = cur }
      }
    }
    def shufWriteMb: Double = math.rint(shufWrite.get / 1048576.0 * 10) / 10
    def shufReadMb: Double = math.rint(shufRead.get / 1048576.0 * 10) / 10
  }

  /** Attach a counter listener to `spark` (stays attached for the session —
    * the counters are reset per measurement, never detached).
    */
  def attachCounters(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { val _ = c.jobs.incrementAndGet() }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val _ = c.jobsEnded.incrementAndGet()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val _ = c.stages.incrementAndGet()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val _ = c.tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          val _ = c.shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          val _ = c.shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    c
  }

  /** WORKLOAD-HONEST replication of the documents + embeddings tables into
    * a temp directory: each replica gets a disjoint id space AND a disjoint
    * token space (every token suffixed per replica), so replication grows
    * the vocabulary/pair/cluster structure the way a bigger corpus does —
    * NOT `rep` exact copies, which would collapse under dedup and make
    * every near-dup operator look artificially fast. Caller owns (and
    * deletes) the returned directory.
    */
  def replicateCorpus(spark: SparkSession, sfDir: String, rep: Int,
      prefix: String, withTpch: Boolean = false): java.nio.file.Path = {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory(prefix)
    replicatedDocs(Tables.load(spark, sfDir, "documents"), rep)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    val embs = Tables.load(spark, sfDir, "embeddings")
    (0 until rep).map { r =>
      embs.withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    // TPC-H join tables for the q_top_orders 10× row: each replica gets a
    // disjoint key space on every join key, so the join fan-out and group
    // count scale linearly with the data (rep independent copies of the
    // base join graph), never quadratically in the replica count
    if (withTpch) {
      def shifted(name: String, keys: Seq[String]): Unit =
        (0 until rep).map { r =>
          keys.foldLeft(Tables.load(spark, sfDir, name)) { (df, k) =>
            df.withColumn(k, col(k) + lit(r * 10000000L))
          }
        }.reduce(_ unionByName _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$work/$name.parquet")
      shifted("customer", Seq("c_custkey"))
      shifted("orders", Seq("o_orderkey", "o_custkey"))
      shifted("lineitem", Seq("l_orderkey"))
    }
    work
  }

  /** In-memory form of the documents replication (no parquet write): the
    * same disjoint-id + disjoint-token-space scheme, for benches that feed
    * a DataFrame directly (the streaming batch-size sweep).
    */
  def replicatedDocs(docs: org.apache.spark.sql.DataFrame, rep: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    (0 until rep).map { r =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
      // replica 0 keeps the original text; others shift the token space
      if (r == 0) d
      else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1x" + r))
    }.reduce(_ unionByName _)
  }
}
