package graft

import org.apache.spark.sql.SparkSession

/** RawLocalFileSystem injecting a fixed per-open latency — the
  * object-store stand-in for the bin readers' per-open GET round-trip, used
  * by [[Bench]]'s `bin_open_latency` section and by `OpenAheadSpec`. Static
  * delay because local-mode executors share the driver JVM.
  */
class SlowOpenLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "slowopen"
  override def getUri: java.net.URI = SlowOpenLocalFileSystem.FsUri
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    val d = SlowOpenLocalFileSystem.delayMs
    if (d > 0) Thread.sleep(d)
    super.open(f, bufferSize)
  }
}

object SlowOpenLocalFileSystem {
  val FsUri: java.net.URI = java.net.URI.create("slowopen:///")
  @volatile var delayMs: Long = 0L
}

/** Benchmark main: one JSON line with per-query wall times at the target
  * scale factor. A warm-up pass runs every query at sf0.001 first (same plan
  * shapes → primes JIT, codegen and catalog caches), so the measured pass
  * reflects steady-state throughput rather than JVM start-up.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = SparkEntry.queries.keys.toSeq.sorted
    // warm pass at the TARGET SF: first execution of each plan pays whole-
    // stage-codegen compilation + JIT (measured 5-10× the steady-state run
    // time on small inputs); the measured pass below reports steady-state
    // throughput. (A cross-SF warm-up at sf0.001 was tried and measured NET
    // NEGATIVE — same-SF warming is what primes scan + codegen caches.)
    // clearCache drops CacheManager entries (operator-internal persists) but
    // NOT raw persisted RDDs — connected-components localCheckpoints survive
    // it and accumulate across 48 queries × (warm + 2 measured) runs until
    // the storage pool crowds the 8g heap and the heavy dedup queries run
    // 8-10× slower from GC/spill pressure (measured: q_corpus_dedup 47 s in
    // the full bench vs 5.9 s isolated). Sweep both per query.
    def dropCachedBlocks(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    // jobs + shuffle-write per query, captured on the WARM pass (plan and
    // exchange structure are identical to the measured passes; counters on
    // the warm pass keep the listener settle-sleep out of measured time).
    // Every artifact carries this decomposition: a wall-time gap with jobs
    // high / shuffle small is Spark's ~0.1-0.2 s/stage scheduling floor
    // (amortizes at scale); shuffle high is data volume (widens at scale). File/stderr artifact only — never
    // part of the budget-bounded stdout line.
    val counters = BenchSupport.attachCounters(spark)
    val profile: Map[String, (Int, Double)] = names.map { name =>
      dropCachedBlocks()
      counters.reset()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => }
      counters.settle()
      name -> (counters.jobs.get, counters.shufWriteMb)
    }.toMap
    val _ = warmDir

    // clearCache between queries: several operators persist their
    // materialization points (LSH candidates) and never unpersist — the
    // accumulated entries tax every later query's plan-cache lookup more
    // than the occasional cross-query cache hit saves (measured ~6% net),
    // and from-scratch per-query times are the honest numbers.
    // Two measured passes, min per query: steady-state throughput with the
    // run-to-run machine-contention noise halved (each pass is still a
    // full from-scratch execution — the cache is cleared every time).
    def measure(name: String): (Double, Boolean) = {
      dropCachedBlocks()
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          Console.err.println(s"[bench] FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // 4-decimal seconds: the driver captures a bounded stdout tail; full
    // double precision overflowed it in round 4 and clipped the JSON head
    def r4(x: Double): Double = math.rint(x * 1e4) / 1e4
    // 1-min system load average sampled around every sweep: two bench
    // snapshots of IDENTICAL code differed 2-4× on this host purely from
    // co-tenant load (rounds 6/7 measured 62.6 s and 23.9 s for the same
    // binary), so a snapshot without load context is not comparable. The
    // driver/judge can now reject noise-poisoned runs by the load marker.
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadSamples = scala.collection.mutable.ArrayBuffer(loadAvg)

    // restructure setup (input Avro tree + codegen/JIT warm-up) happens once
    // BEFORE the measured sweeps; its two measured cold+append runs are then
    // INTERLEAVED between query sweeps below, same decorrelation rationale
    val restructure = prepareRestructure(spark, sfDir)

    // INTERLEAVED full sweeps, min AND median per query: this host shows
    // intermittent multi-second noise bursts (the same plan measured 2.0 s
    // and 26.4 s in adjacent bench runs); back-to-back repeats of one query
    // let a single burst poison all of its passes, while interleaving
    // decorrelates the passes by the length of a full sweep. min ≈ the
    // uncontended number; median-vs-min spread flags contention.
    val passCount = sys.env.get("SPARK_GRAFT_BENCH_PASSES").flatMap(_.toIntOption).getOrElse(3)
    val restructureRuns = 2
    val sweeps = (1 to passCount).map { pass =>
      val sweep = names.map(measure)
      loadSamples += loadAvg
      if (pass <= restructureRuns) {
        dropCachedBlocks(); System.gc()
        restructure.runMeasured()
        loadSamples += loadAvg
      }
      sweep
    }
    val results = names.zipWithIndex.map { case (name, i) =>
      val runs = sweeps.map(_(i))
      (name, runs.map(_._1).min, median(runs.map(_._1)), runs.forall(_._2))
    }
    // guide §1.4 measurement-bug note (round 18): the measured action above
    // is count(), which lets the optimizer PRUNE deterministic final
    // projections and ELIMINATE the presentation sort — projection-dominated
    // queries (simhash, redact, rolling-hash, quantize …) time as roughly
    // scan+count while the oracle computes the full expressions. The
    // standing `queries` numbers KEEP the count() action for cross-round
    // comparability (r1-r17 all measured it); these additional interleaved
    // sweeps time each query under the noop SINK (eager materialization of
    // every output column, guide §1.4) and land in the file/stderr artifact
    // as `queries_noop`/`total_noop` — never on the budget-bounded stdout
    // line. Documented in OPTIMIZATION_r18.md.
    val noopPasses = sys.env.get("SPARK_GRAFT_NOOP_PASSES").flatMap(_.toIntOption).getOrElse(2)
    def measureNoop(name: String): (Double, Boolean) = {
      dropCachedBlocks()
      spark.sparkContext.setJobDescription(s"noop: $name")
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          Console.err.println(s"[bench] noop FAILED $name: ${e.getMessage}")
          false
        }
      spark.sparkContext.setJobDescription(null)
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // load sampled INSIDE the sweep loop (round-19, ADVICE fix): the
    // strict post-hoc sampling appended N identical samples after every
    // sweep had finished, so contention DURING the noop section was
    // invisible to the documented noise-rejection load marker
    val noopSweeps = (1 to noopPasses).map { _ =>
      val sweep = names.map(measureNoop)
      loadSamples += loadAvg
      sweep
    }
    val noopResults: Seq[(String, Double, Boolean)] =
      if (noopPasses < 1) Nil
      else names.zipWithIndex.map { case (name, i) =>
        val runs = noopSweeps.map(_(i))
        (name, runs.map(_._1).min, runs.forall(_._2))
      }

    // a failed query reports -1, never a fake elapsed time
    val qs = results.map { case (k, v, _, ok) =>
      "\"" + k + "\":" + (if (ok) r4(v) else -1)
    }.mkString("{", ",", "}")
    val qsMedian = results.map { case (k, _, m, ok) =>
      "\"" + k + "\":" + (if (ok) r4(m) else -1)
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
    val total = r4(results.filter(_._4).map(_._2).sum)
    val totalMedian = r4(results.filter(_._4).map(_._3).sum)
    val restructureJson = restructure.toJson

    // standing scale sections, one measured run each (plans are already
    // warm from the sweeps above): the 10× replicated headline queries and
    // the cleaner verify+delete over a tree the restructure path just wrote
    val tenXJson = benchTenX(spark, sfDir, dropCachedBlocks _)
    loadSamples += loadAvg
    // NATIVE sf1 (ScaleGen-generated — real file counts and cardinalities,
    // not replication): the same heavy subset, both sides. Round-19
    // additions (verdict tasks #4/#8): the CC/dedup-family heavies join
    // the per-query count series (so the driver's 8-vs-32-core runs carry
    // a PARALLELISM signal at a scale where the scheduling floor no
    // longer dominates), and the top noop-measured kernels get their own
    // noop-sink rows at sf1 (their count() numbers are scan-pruned).
    // Oracle pairing and the section ratio stay on the standing TenXNames
    // subset — additions only, ratio series comparable across rounds.
    val (sfNativeJson, sfNativeRatio) = benchSfNative(spark, sfDir, dropCachedBlocks _,
      extraNames = Seq("q_cluster_sizes", "q_dedup_cluster", "q_dedup_quality",
        "q_split_leakfree", "q_minhash_calib"),
      noopNames = Seq("q_quantize", "q_mask_spans", "q_decontam_mask", "q_repetition"))
    loadSamples += loadAvg
    // second native point (sf3): turns "nothing super-linear" into a
    // two-point native curve — real multi-hundred-file listings and 18M-row
    // lineitem shuffles. The paired oracle EXCLUDES q_corpus_dedup (its
    // recursive-CTE connected components already collapses at sf1, 90 s/
    // pass; at sf3 it would blow the sweep budget) — instead ONE capped
    // attempt is recorded separately as "oracle_cc" so the collapse itself
    // stays on the record.
    val (sf3NativeJson, sf3NativeRatio) = benchSfNative(spark, sfDir, dropCachedBlocks _,
      sfRatio = 30.0, tag = "sf3native",
      oracleNames = TenXNames.filterNot(_ == "q_corpus_dedup"),
      oraclePasses = 2,
      postFields = dir => {
        val capMin = 6
        val cc = runOracleSweep(dir,
          SparkEntry.oracleSql.view.filterKeys(_ == "q_corpus_dedup").toMap,
          passes = 1, timeoutMin = capMin)
        // a timed-out CC attempt is itself the evidence (the recursive-CTE
        // oracle collapses where the contraction CC holds) — record it
        // structurally, DISTINCT from plain absence (no duckdb, script
        // error), which stays null
        val ccJson =
          if (cc == "timeout") s"""{"timed_out_after_min":$capMin}"""
          else embeddableOracle(cc)
        s""""oracle_cc_excluded_from_ratio":true,"oracle_cc":$ccJson,"""
      })
    loadSamples += loadAvg
    // THIRD native point (sf10 ≈ 1.7 GB, ratio 100 vs sf0.1): OFF by
    // default — its generation + sweeps add ~10 min — enabled with
    // SPARK_GRAFT_SF10=1 for one-shot native-curve extension runs. The
    // paired oracle excludes q_corpus_dedup (its recursive-CTE CC already
    // times out at sf3) AND q_minhash_pairs (66 s/pass at sf3,
    // super-linear) — each gets ONE capped attempt recorded structurally,
    // same treatment as sf3's oracle_cc.
    val sf10NativeJson: Option[String] =
      if (!sys.env.get("SPARK_GRAFT_SF10").contains("1")) None
      else Some(benchSfNative(spark, sfDir, dropCachedBlocks _,
        sfRatio = 100.0, tag = "sf10native",
        oracleNames = TenXNames.filterNot(n =>
          n == "q_corpus_dedup" || n == "q_minhash_pairs"),
        oraclePasses = 2,
        postFields = dir => {
          val capMin = 10
          def capped(q: String): String = {
            val res = runOracleSweep(dir,
              SparkEntry.oracleSql.view.filterKeys(_ == q).toMap,
              passes = 1, timeoutMin = capMin)
            if (res == "timeout") s"""{"timed_out_after_min":$capMin}"""
            else embeddableOracle(res)
          }
          s""""oracle_cc_excluded_from_ratio":true,"oracle_cc":${capped("q_corpus_dedup")},""" +
            s""""oracle_minhash_excluded_from_ratio":true,""" +
            s""""oracle_minhash":${capped("q_minhash_pairs")},"""
        })._1)
    sf10NativeJson.foreach(_ => loadSamples += loadAvg)
    val cleanerJson = benchCleaner(spark, sfDir, dropCachedBlocks _)
    loadSamples += loadAvg
    // Spark-vs-oracle pairing inside the SAME artifact: run the identical
    // 80 oracle SQLs in DuckDB at this sfDir and record total + per-query
    // seconds, so every bench snapshot carries both sides of the ratio at
    // one commit. The harness is the DRIVER-side python+duckdb (shelled
    // out, never a library dependency); a host without it degrades to
    // "oracle": null rather than failing the bench.
    val oracleJson = embeddableOracle(benchOracle(sfDir))
    loadSamples += loadAvg
    // jobs at 10×: the sf1x10 section scales the QUERY side; this scales
    // the two JOBS — cleaner verification over a 10×-replicated event
    // store, and a dynamic-schema (map-keyed CSV headers) topic exercising
    // the fingerprint-cache write path at volume
    val jobs10xJson = benchJobs10x(spark, sfDir, dropCachedBlocks _)
    loadSamples += loadAvg
    // opt-in 20k-bin write-path row (generation + two full runs ≈ minutes)
    val binsJson: Option[String] =
      if (!sys.env.get("SPARK_GRAFT_BINS").contains("1")) None
      else Some(benchBins(spark, dropCachedBlocks _))
    binsJson.foreach(_ => loadSamples += loadAvg)
    // standing object-store-open-latency point for the bespoke bin readers
    val openLatJson = benchBinOpenLatency(spark)
    loadSamples += loadAvg
    // streaming service loop: sustained incremental near-dedup records/s
    val streamingJson = benchStreaming(spark, sfDir, dropCachedBlocks _, counters)
    loadSamples += loadAvg

    val failedJson = if (failed.isEmpty) "" else s""","failed":[${failed.mkString(",")}]"""
    // CONTENTION-PROOF headline: both sides of the ratio are sums of
    // per-query MINS over interleaved passes (the Spark side's `value` is
    // min-of-passCount sweeps; the oracle script's `total` is likewise its
    // per-query min sum), so one co-tenant burst during either side's
    // sweep cannot masquerade as a plan regression — the per-pass arrays
    // stay in the artifact for spread inspection.
    val oracleTotalMin = extractOracleTotal(oracleJson).getOrElse("null")
    val ratioPairedMin = pairedMinRatio(total, failed.isEmpty, oracleJson)
    val loadJson = s"""{"start":${r4(loadSamples.head)},"end":${r4(loadSamples.last)},""" +
      s""""max":${r4(loadSamples.max)},"cpus":$cpus}"""
    val profileJson = names.map { name =>
      val (j, mb) = profile(name)
      "\"" + name + "\":{\"jobs\":" + j + ",\"shufw_mb\":" + mb + "}"
    }.mkString("{", ",", "}")
    val noopJson = noopResults.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) r4(v) else -1)
    }.mkString("{", ",", "}")
    val noopTotal = r4(noopResults.filter(_._3).map(_._2).sum)
    val noopFields =
      if (noopResults.isEmpty) ""
      else s""""total_noop":$noopTotal,"queries_noop":$noopJson,"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","total_median":$totalMedian,""" +
      s""""ratio_paired_min":$ratioPairedMin,"oracle_total_min":$oracleTotalMin,""" +
      noopFields +
      s""""queries":$qs,"queries_median":$qsMedian$failedJson,"load":$loadJson,""" +
      s""""sf":"$sfDir","restructure":$restructureJson,""" +
      s""""sf1x10":$tenXJson,"sf1_native":$sfNativeJson,"sf3_native":$sf3NativeJson,""" +
      sf10NativeJson.map(j => s""""sf10_native":$j,""").getOrElse("") +
      s""""cleaner":$cleanerJson,"jobs1x10":$jobs10xJson,""" +
      binsJson.map(j => s""""restructure_bins":$j,""").getOrElse("") +
      s""""bin_open_latency":$openLatJson,""" +
      s""""streaming":$streamingJson,"profile":$profileJson,"oracle":$oracleJson}"""
    // file copy survives even if the stdout tail truncates the line
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => }
    // The driver captures a bounded stdout TAIL (2000 chars in rounds 10-11)
    // and the full line above overflows it — two rounds of "parsed": null in
    // BENCH_r*.json. The full artifact lives in BENCH_LOCAL.json and on
    // stderr; stdout carries ONLY a budget-aware compact line as the
    // absolute last print: per-query at 2 decimals, trimmed to the
    // slowest-N (with an explicit queries_omitted count) if the line would
    // still overflow the capture window.
    Console.err.println(line)
    def r2(x: Double): Double = math.rint(x * 100) / 100
    def compact(budget: Int): String = {
      val bySlowest = results.sortBy { case (_, v, _, ok) => if (ok) -v else 1.0 }
      def build(n: Int): String = {
        val qj = bySlowest.take(n).map { case (k, v, _, ok) =>
          "\"" + k + "\":" + (if (ok) r2(v) else -1)
        }.mkString("{", ",", "}")
        val omitted = results.size - n
        val omittedJson = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
        // the native-sf1 paired ratio rides the compact line too: it is the
        // one scale headline the budget can afford verbatim (returned
        // structurally by measureScaledSet — never re-parsed from JSON)
        // total_noop rides the compact line too (round-19, verdict #8):
        // one number promotes the honest-kernel series to the headline
        // without touching the standing queries/value contract
        s"""{"metric":"total","value":${r2(total)},"unit":"sec",""" +
          s""""total_median":${r2(totalMedian)},"total_noop":${r2(noopTotal)},""" +
          s""""oracle_total":$oracleTotalMin,""" +
          s""""ratio_paired_min":$ratioPairedMin,"ratio_sf1_native":$sfNativeRatio,""" +
          s""""ratio_sf3_native":$sf3NativeRatio,""" +
          s""""sf":${jsonStr(sfDir)},"queries":$qj$omittedJson$failedJson}"""
      }
      var n = results.size
      var s = build(n)
      while (s.length > budget && n > 0) { n = math.max(0, n - 8); s = build(n) }
      s
    }
    // 1800 = 2000-char capture window minus sbt's trailing "[success] …" line
    // and headroom for future query additions
    println(compact(1800))
    spark.stop()
  }

  /** DuckDB-oracle sweep over `SparkEntry.oracleSql` at the same sfDir,
    * via `tools/oracle_bench.py` (the driver-side python+duckdb — a
    * subprocess, NOT a dependency of the library). Returns the script's
    * one-line JSON ({"total":…,"threads":…,"queries":{…}}) or "null" when
    * python/duckdb/the script are unavailable or the sweep exceeds its
    * 20-minute budget.
    */
  private def benchOracle(sfDir: String): String =
    runOracleSweep(sfDir, SparkEntry.oracleSql)

  private[graft] def runOracleSweep(sfDir: String, sql: Map[String, String],
      passes: Int = 2, timeoutMin: Int = 20): String =
    try {
      val entries = sql.toSeq.sortBy(_._1)
        .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
        .mkString("{", ",", "}")
      val tmp = java.nio.file.Files.createTempFile("graft-oracle-sql", ".json")
      try {
        java.nio.file.Files.write(tmp, entries.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val script = java.nio.file.Paths.get("tools/oracle_bench.py")
        if (!java.nio.file.Files.exists(script)) "null"
        else {
          // child output goes to FILES, not pipes: a chatty duckdb filling
          // a 64KB pipe while we sit in waitFor would deadlock the child
          // and misread as a 20-minute timeout
          val outFile = java.nio.file.Files.createTempFile("graft-oracle-out", ".txt")
          val errFile = java.nio.file.Files.createTempFile("graft-oracle-err", ".txt")
          try {
            val pb = new ProcessBuilder("python3", script.toString, sfDir,
              tmp.toString, passes.toString)
            pb.redirectOutput(outFile.toFile)
            pb.redirectError(errFile.toFile)
            val proc = pb.start()
            proc.getOutputStream.close()
            if (!proc.waitFor(timeoutMin.toLong, java.util.concurrent.TimeUnit.MINUTES)) {
              proc.destroyForcibly()
              Console.err.println(s"[bench] oracle sweep timed out after $timeoutMin min")
              // distinct sentinel: a TIMEOUT is evidence (the workload blew
              // its budget), a "null" is absence (no duckdb, script error).
              // Callers embedding into JSON must map both via oracleJson().
              "timeout"
            } else {
              val out = new String(java.nio.file.Files.readAllBytes(outFile),
                java.nio.charset.StandardCharsets.UTF_8).trim
              if (proc.exitValue() == 0 && out.startsWith("{") && out.endsWith("}")) out
              else {
                // surface WHY "oracle": null (missing duckdb? SQL error?)
                val err = new String(java.nio.file.Files.readAllBytes(errFile),
                  java.nio.charset.StandardCharsets.UTF_8)
                Console.err.println(s"[bench] oracle sweep failed (rc=${proc.exitValue()}): " +
                  err.linesIterator.take(5).mkString(" | "))
                "null"
              }
            }
          } finally {
            java.nio.file.Files.deleteIfExists(outFile)
            java.nio.file.Files.deleteIfExists(errFile)
          }
        }
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] oracle sweep FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      "null"
    }

  /** Embeddable JSON for a [[runOracleSweep]] result: the non-JSON
    * sentinels ("timeout", "null") both map to JSON null.
    */
  private def embeddableOracle(sweep: String): String =
    if (sweep.startsWith("{")) sweep else "null"

  /** The oracle sweep's `"total"` (its sum of per-query mins) as the raw
    * numeric string, or None when the sweep is absent/unparseable.
    */
  private def extractOracleTotal(oracleJson: String): Option[String] =
    """"total"\s*:\s*(-?[0-9.eE+]+)""".r
      .findFirstMatchIn(oracleJson).map(_.group(1))

  /** Paired-min ratio sparkTotal / oracleTotal — or "null" whenever the
    * two sides cover DIFFERENT query sets: any Spark-side failure
    * (sparkAllOk=false) or any oracle-side -1 means each total silently
    * excludes different queries, and a ratio over mismatched sets is a
    * biased number, not a contention-proof one. ONE implementation for the
    * headline and the sf1x10 section, so the failure semantics cannot
    * drift between them.
    */
  private def pairedMinRatio(sparkTotal: Double, sparkAllOk: Boolean,
      oracleJson: String): String = {
    // oracle_bench.py emits an EXPLICIT "failed": [names] array; key
    // validity off that, not off scanning the document for -1 sentinels
    // (per-pass arrays legitimately contain -1.0). A missing/unparseable
    // "failed" key is treated as a failure — conservative null, never a
    // silently mis-kept ratio.
    val oracleHasFailure = """"failed"\s*:\s*\[\s*\]""".r.findFirstIn(oracleJson).isEmpty
    if (!sparkAllOk || oracleHasFailure) "null"
    else extractOracleTotal(oracleJson).flatMap(_.toDoubleOption).filter(_ > 0)
      .map(ot => r4(sparkTotal / ot).toString).getOrElse("null")
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""

  private def r4(x: Double): Double = math.rint(x * 1e4) / 1e4

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Standing streaming row: the incremental near-dedup service loop
    * (StreamingNearDedup.dedupBatch — the exact per-micro-batch step the
    * foreachBatch driver runs) fed the documents table in `slices`
    * id-hashed micro-batches against an accumulating history. The number
    * that matters is sustained records/s across the whole loop: every
    * batch pays the in-batch LSH dedup PLUS the band probe against all
    * prior survivors, so a leak (growing history re-scan, cache residue,
    * unpruned partitions) shows up as a sub-linear rate, not just a slow
    * single batch. Min-of-2 measured loops after a warm loop; each loop
    * uses a fresh history dir + epoch.
    */
  private def benchStreaming(spark: SparkSession, sfDir: String,
      dropCachedBlocks: () => Unit, counters: BenchSupport.Counters): String =
    try {
      import org.apache.spark.sql.functions._
      val docs = Tables.load(spark, sfDir, "documents")
      // batch-SIZE sweep at a FIXED batch count: the per-batch overhead
      // floor (LSH probe scheduling, history listing, parquet commit) is
      // constant per batch, so sustained records/s must rise with batch
      // size if — and only if — the floor amortizes. 1×/4×/16× batch
      // sizes: quarter corpus / full corpus / 4×-replicated corpus
      // (disjoint id+token spaces — BenchSupport.replicatedDocs, the same
      // workload-honest scheme as sf1x10), 10 micro-batches each.
      val slices = 10
      // the quarter corpus slices modulo 40 (doc_id%40 ∈ [0,10) selects the
      // quarter AND gives 10 equal batches); a %4-then-%10 scheme would
      // leave every odd batch empty
      val configs = Seq(
        ("batch_1x", docs.filter(pmod(col("doc_id"), lit(40)) < 10), 40),
        ("batch_4x", docs, slices),
        ("batch_16x", BenchSupport.replicatedDocs(docs, 4), slices))
      def onePass(tag: String, d: org.apache.spark.sql.DataFrame, m: Int): Double = {
        val work = java.nio.file.Files.createTempDirectory(s"graft-bench-stream-$tag")
        try {
          dropCachedBlocks(); System.gc()
          val t0 = System.nanoTime()
          (0 until slices).foreach { b =>
            val _ = graft.streaming.StreamingNearDedup.dedupBatch(
              d.filter(pmod(col("doc_id"), lit(m)) === b), b.toLong,
              work.toString, epoch = s"bench-$tag")
          }
          (System.nanoTime() - t0) / 1e9
        } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
      }
      // one warm loop with the LAST (replicated) config — its union +
      // token-shift projection is a superset of the other configs' plain
      // filtered-scan shapes (replica 0 IS the plain branch), so a single
      // warm pass compiles codegen/JIT for every measured shape; warming
      // only the small config left the 16x row's first pass paying JIT and
      // misreading as contention in the passes array
      val _ = onePass("warm", configs.last._2, configs.last._3)
      val rows = configs.map { case (tag, d, m) =>
        val cn = d.count()
        val runs = Seq(onePass(s"$tag-a", d, m), onePass(s"$tag-b", d, m))
        val best = runs.min
        (tag, cn, best, runs)
      }
      val sweepJson = rows.map { case (tag, cn, best, runs) =>
        s"""{"label":${jsonStr(tag)},"records":$cn,"batches":$slices,""" +
          s""""batch_records":${cn / slices},"sec":${r4(best)},""" +
          s""""records_per_sec":${r4(cn / best)},"passes":[${runs.map(r4).mkString(",")}]}"""
      }.mkString("[", ",", "]")
      // Floor ATTRIBUTION (round-14 verdict task #3): one instrumented
      // full-corpus loop decomposes the measured ~1.5 s/batch floor into
      // the shipped step's own phases via dedupBatch's phaseSink —
      // in-batch LSH dedup, history listing/partition discovery, the
      // history-probe execution, and the parquet commit; "other" is loop
      // wall minus attributed phases (driver plan construction + loop
      // scheduling). Per-batch averages over the 10-batch loop.
      val phaseTotals = scala.collection.mutable.LinkedHashMap[String, Double](
        "inbatch_dedup" -> 0.0, "history_list" -> 0.0,
        "probe_exec" -> 0.0, "commit" -> 0.0)
      // STANDING jobs/batch metric (round-16 verdict task #6): each removed
      // job bought ~55 ms/batch in rounds 15-16, so a regression here is a
      // latency regression at micro-batch sizes — count Spark jobs over the
      // instrumented loop with the session's counter listener
      val work = java.nio.file.Files.createTempDirectory("graft-bench-stream-decomp")
      val decompWall =
        try {
          dropCachedBlocks(); System.gc()
          counters.reset()
          val d = configs(1)._2
          val t0 = System.nanoTime()
          (0 until slices).foreach { b =>
            val _ = graft.streaming.StreamingNearDedup.dedupBatch(
              d.filter(pmod(col("doc_id"), lit(slices)) === b), b.toLong,
              work.toString, epoch = "bench-decomp",
              phaseSink = (n, s) => phaseTotals(n) = phaseTotals.getOrElse(n, 0.0) + s)
          }
          val wall = (System.nanoTime() - t0) / 1e9
          counters.settle()
          wall
        } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
      val jobsPerBatch = r4(counters.jobs.get.toDouble / slices)
      val attributed = phaseTotals.values.sum
      val decompJson = (phaseTotals.toSeq :+ ("other" -> (decompWall - attributed)))
        .map { case (n, s) => s"${jsonStr(n)}:${r4(s / slices)}" }
        .mkString(s"""{"loop_sec":${r4(decompWall)},"jobs_per_batch":$jobsPerBatch,""" +
          """"per_batch":{""", ",", "}}")
      // top-level fields keep the prior rounds' shape (the full-corpus row)
      val (_, bn, bbest, bruns) = rows(1)
      s"""{"records":$bn,"batches":$slices,"sec":${r4(bbest)},""" +
        s""""records_per_sec":${r4(bn / bbest)},"passes":[${bruns.map(r4).mkString(",")}],""" +
        s""""batch_sweep":$sweepJson,"floor_decomposition":$decompJson}"""
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] streaming FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      s"""{"error":${jsonStr(e.toString)}}"""
    }

  /** Standing ≥10× scale row: the headline dedup/ANN/text queries over a
    * 10×-replicated corpus, so the per-round bench records a scaling trend,
    * not just the sf0.1 point.
    *
    * Replication is WORKLOAD-HONEST: each document replica gets a disjoint
    * id space AND a disjoint token space (every token suffixed with the
    * replica tag), so the corpus-wide duplicate structure is 10 independent
    * copies of the base corpus's — near-dup pair counts scale ~linearly
    * with the corpus, as real data does, instead of quadratically in the
    * replica count (which identical-text replication would produce).
    * Embedding replicas keep their vectors (ANN work is linear in rows and
    * bounded-heap in k, so identical vectors do not inflate it).
    */
  private def benchTenX(spark: SparkSession, sfDir: String,
      dropCachedBlocks: () => Unit): String =
    try {
      val rep = 10
      val work = BenchSupport.replicateCorpus(spark, sfDir, rep, "graft-bench-10x",
        withTpch = true)
      // headline dedup/ANN/text set PLUS the two corpus-aggregation sf0.1
      // laggards (q_tfidf, q_bigram_logprob) — their "scheduling floor
      // amortizes at scale" claim needs the same both-sides-at-10× evidence
      // the dedup family has — PLUS the two worst remaining sf0.1 ratios
      // with ≥0.9 s absolute (q_bloom_dedup 60×, q_top_orders 15× — both
      // profiled as floor-bound, ≤0.5 MiB shuffle; these rows put the
      // amortization claim on the record for them too)
      measureScaledSet(spark, work.toString, TenXNames, dropCachedBlocks,
        prefixFields = s""""replication":$rep,"base_sf":${jsonStr(sfDir)},""",
        cleanup = () => org.apache.commons.io.FileUtils.deleteDirectory(work.toFile))._1
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] 10x setup FAILED: ${e.getClass.getName}: ${e.getMessage}")
      s"""{"error":${jsonStr(s"${e.getClass.getSimpleName}: ${e.getMessage}")}}"""
    }

  /** The heavy scale subset shared by the sf1x10 (replicated) and
    * sf1_native (ScaleGen-generated) sections.
    */
  private val TenXNames = Seq("q_corpus_dedup", "q_minhash_pairs", "q_repeated_spans",
    "q_ivfpq_topk", "q_tfidf", "q_bigram_logprob",
    "q_bloom_dedup", "q_top_orders")

  /** NATIVE larger scale point (round-14 verdict task #5): generate sf1
    * with [[ScaleGen]] — real file counts, parquet layout, and
    * cardinalities grown naturally, NOT ×10 replication of sf0.1 — and run
    * the same heavy subset both-sides on it. Generation is untimed setup;
    * its seconds are recorded for context.
    */
  private def benchSfNative(spark: SparkSession, sfDir: String,
      dropCachedBlocks: () => Unit, sfRatio: Double = 10.0,
      tag: String = "sf1native", oracleNames: Seq[String] = TenXNames,
      oraclePasses: Int = 3,
      extraNames: Seq[String] = Nil,
      noopNames: Seq[String] = Nil,
      postFields: String => String = _ => ""): (String, String) =
    try {
      val work = java.nio.file.Files.createTempDirectory(s"graft-bench-$tag")
      // generation runs under its own guard: a throw here (disk full, OOM
      // at larger ratios) must delete the partially written multi-GB dir —
      // measureScaledSet's finally-cleanup only covers the measured phase
      val genSec =
        try {
          val g0 = System.nanoTime()
          ScaleGen.generate(spark, work.toString, sfRatio, baseDir = sfDir)
          (System.nanoTime() - g0) / 1e9
        } catch { case e: Throwable =>
          try org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
          catch { case _: Throwable => }
          throw e
        }
      // PAIR-GRAPH VOLUME, emitted by the bench itself so every BENCH_rN
      // is self-attributing (round-16 verdict task #2): the dedup family's
      // true work measure is the LSH candidate-pair graph, which densifies
      // super-linearly in docs (one shared vocabulary, like real corpora —
      // measured 63k/566k/6.23M pairs across sf1/sf3/sf10, ~98× pairs for
      // 10× docs), so a reader of the walls alone would mis-read
      // q_corpus_dedup's growth as super-linear when it is strongly
      // SUB-linear per pair. Untimed, computed AFTER the measured sweeps.
      val pairFields: String => String = dir => {
        val volume =
          try {
            val docs = Tables.load(spark, dir, "documents").count()
            val pairs = SparkEntry.queries("q_minhash_pairs")(spark, dir).count()
            s""""docs":$docs,"candidate_pairs":$pairs,""" +
              s""""pairs_per_doc":${r4(pairs.toDouble / math.max(1L, docs))},"""
          } catch { case e: Throwable =>
            Console.err.println(s"[bench] $tag pair-volume FAILED: ${e.getMessage}")
            s""""candidate_pairs":null,"""
          }
        volume + postFields(dir)
      }
      measureScaledSet(spark, work.toString, TenXNames ++ extraNames, dropCachedBlocks,
        prefixFields = s""""generator":"ScaleGen","sf_ratio_vs_sf01":$sfRatio,"gen_sec":${r4(genSec)},""",
        cleanup = () => org.apache.commons.io.FileUtils.deleteDirectory(work.toFile),
        oracleNames = oracleNames, oraclePasses = oraclePasses,
        noopNames = noopNames,
        postFields = pairFields)
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] $tag setup FAILED: ${e.getClass.getName}: ${e.getMessage}")
      (s"""{"error":${jsonStr(s"${e.getClass.getSimpleName}: ${e.getMessage}")}}""", "null")
    }

  /** Interleaved min-of-N measurement of `names` over `dir`, oracle-paired
    * on the same dir — ONE implementation for every scaled section so the
    * pass discipline and failure semantics cannot drift.
    */
  private def measureScaledSet(spark: SparkSession, dir: String, names: Seq[String],
      dropCachedBlocks: () => Unit, prefixFields: String,
      cleanup: () => Unit, oracleNames: Seq[String] = null,
      oraclePasses: Int = 3,
      noopNames: Seq[String] = Nil,
      postFields: String => String = _ => ""): (String, String) = try {
      val pairedNames = Option(oracleNames).getOrElse(names)
      def loadAvg: Double =
        java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      val sectionLoads = scala.collection.mutable.ArrayBuffer(loadAvg)
      def once(name: String): Double = {
        dropCachedBlocks()
        // GC BEFORE the clock starts: by this point the JVM carries ~15 min
        // of sweep debt, and in local mode shuffle-file/broadcast reclaim
        // rides on ContextCleaner, which only fires on a JVM GC (periodic
        // GC default 30 min — longer than the whole bench). Without this
        // the heavy 10× rows measured 2-3× their fresh-JVM wall on the
        // same code (minhash 3.6 s in-bench vs 1.2 s isolated), steady
        // across passes — debt, not noise, so min-of-N could not absorb it.
        System.gc()
        val t0 = System.nanoTime()
        try { SparkEntry.queries(name)(spark, dir).count() }
        catch { case e: Throwable =>
          Console.err.println(s"[bench] scaled FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          return -1.0
        }
        (System.nanoTime() - t0) / 1e9
      }
      // three interleaved passes for every query (round 11 saw a +33%
      // single-shot false alarm), then TWO MORE for the sub-3 s ones: this
      // host's noise bursts are multi-second, so a short query's min-of-3
      // can still be 100% noise (round 12's final artifact recorded 8.9 s
      // for a query three same-code snapshots put at 1.76-2.76 s) —
      // min-of-5 puts the fast rows' noise floor below their signal
      def sweep(ns: Seq[String]): Seq[Double] = {
        val r = ns.map(once); sectionLoads += loadAvg; r
      }
      val base = Seq(sweep(names), sweep(names), sweep(names))
      val subThree = names.zipWithIndex.filter { case (_, i) =>
        val runs = base.map(_(i)); runs.forall(_ >= 0) && runs.min < 3.0
      }.map(_._1)
      val extra = Seq(sweep(subThree), sweep(subThree))
      val allRuns: Map[String, Seq[Double]] = names.zipWithIndex.map { case (name, i) =>
        val e = subThree.indexOf(name)
        name -> (base.map(_(i)) ++ (if (e >= 0) extra.map(_(e)) else Nil))
      }.toMap
      val timed = names.map { name =>
        val runs = allRuns(name)
        name -> (if (runs.exists(_ < 0)) -1.0 else r4(runs.min))
      }
      // honest-kernel rows at scale (round-19, guide §1.4): the count()
      // action above prunes final projections, so projection-dominated
      // kernels (quantize, span masking, repetition) measure as ~scan
      // here; `noopNames` re-times those under the noop SINK — the same
      // action the headline queries_noop series uses — so the kernel
      // costs are on the record at this scale too. Interleaved min-of-2,
      // file artifact only.
      def onceNoop(name: String): Double = {
        dropCachedBlocks()
        System.gc()
        spark.sparkContext.setJobDescription(s"scaled-noop: $name")
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          Console.err.println(s"[bench] scaled noop FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          return -1.0
        } finally spark.sparkContext.setJobDescription(null)
        (System.nanoTime() - t0) / 1e9
      }
      val noopRuns: Map[String, Seq[Double]] =
        if (noopNames.isEmpty) Map.empty
        else {
          val sweeps = Seq(noopNames.map(onceNoop), {
            sectionLoads += loadAvg
            noopNames.map(onceNoop)
          })
          sectionLoads += loadAvg
          noopNames.zipWithIndex.map { case (n, i) => n -> sweeps.map(_(i)) }.toMap
        }
      val noopFields =
        if (noopNames.isEmpty) ""
        else {
          val qn = noopNames.map { n =>
            val runs = noopRuns(n)
            "\"" + n + "\":" + (if (runs.exists(_ < 0)) -1.0 else r4(runs.min))
          }.mkString("{", ",", "}")
          val pn = noopNames.map { n =>
            "\"" + n + "\":[" + noopRuns(n).map(r4).mkString(",") + "]"
          }.mkString("{", ",", "}")
          s""""queries_noop":$qn,"passes_noop":$pn,"""
        }
      // oracle pairing on the SAME scaled corpus: the "Spark's per-job
      // overhead amortizes at scale" argument needs both sides of the
      // ratio measured at scale, not just Spark's (3 passes + per-pass
      // array, mirroring the Spark side's noise legibility)
      val oracle10 = embeddableOracle(runOracleSweep(dir,
        SparkEntry.oracleSql.view.filterKeys(pairedNames.contains).toMap,
        passes = oraclePasses))
      val qs = timed.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // every pass alongside the min: a 4× same-code spread (round 12's
      // final artifact vs its three committed snapshots) is then legible
      // as contention in the artifact itself, not a silent plan regression
      val passesJson = names.map { name =>
        "\"" + name + "\":[" + allRuns(name).map(r4).mkString(",") + "]"
      }.mkString("{", ",", "}")
      // same paired-min ratio as the headline: per-query mins on both sides
      // (over the oracle-PAIRED subset when the caller excluded a query —
      // the validity gate matches: a failure of an EXCLUDED query is
      // visible as its -1 but must not null a fully-paired ratio)
      val sparkSum = timed.collect { case (k, v) if v >= 0 && pairedNames.contains(k) => v }.sum
      val ratio10 = pairedMinRatio(sparkSum,
        timed.forall { case (k, v) => v >= 0 || !pairedNames.contains(k) }, oracle10)
      // CONTENTION FLAG (the headline's clean-window rule, extended to
      // every scaled section): min-vs-median spread over the interleaved
      // passes, per query and summed. Co-tenancy inflates the 32-thread
      // Spark side asymmetrically (round 15: same-code sf1x10 read 1.42
      // and 1.94 across windows; q_corpus_dedup passes [16.1, 5.5, 37.0]),
      // so a section whose medians run far above its mins was measured on
      // a dirty window and its ratio must not be read as a plan number.
      // Rule (PLANS.md round-16): the committed head artifact's scaled
      // ratios come from a sweep whose sections are NOT contended.
      val okRuns = names.map(allRuns).filter(_.forall(_ >= 0))
      val sumMin = okRuns.map(_.min).sum
      val sumMed = okRuns.map(median).sum
      val sectionSpread = if (sumMin > 0) sumMed / sumMin else 1.0
      val maxQuerySpread = okRuns.filter(_.min > 0).map(r => median(r) / r.min)
        .foldLeft(1.0)(math.max)
      val contended = sectionSpread > 1.5 || maxQuerySpread > 2.5
      val contentionJson =
        s""""load":{"start":${r4(sectionLoads.head)},"end":${r4(sectionLoads.last)},""" +
        s""""max":${r4(sectionLoads.max)}},""" +
        s""""spread_median_over_min":${r4(sectionSpread)},""" +
        s""""max_query_spread":${r4(maxQuerySpread)},"contended":$contended,"""
      (s"""{$prefixFields$contentionJson${postFields(dir)}"queries":$qs,$noopFields""" +
        s""""ratio_paired_min":$ratio10,"passes":$passesJson,"oracle":$oracle10}""",
        ratio10)
  } finally cleanup() // a throw anywhere above must not leak the multi-GB scaled dir

  /** Standing cleaner row: verify+delete over a restructure tree written
    * for the purpose (setup untimed). Files carry CLOSED offset ranges in
    * two slices per partition, so slice 1 is delete-eligible (the ledger
    * covers past its end) and slice 2 is kept (newest) — the realistic
    * mixed outcome. The measured run is the full cleaner job: ledger load,
    * eligibility, the distributed timestamp-containment verification
    * (distinct-bin probe + anti-join), deletes, ledger flush.
    */
  private def benchCleaner(spark: SparkSession, sfDir: String,
      dropCachedBlocks: () => Unit): String =
    try {
      import org.apache.spark.sql.functions._
      val rows = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts").cast("double").as("tsec"))
        .collect()
      val schemaJson =
        """{"type":"record","name":"EventRecord","fields":[
          |{"name":"key","type":{"type":"record","name":"K","fields":[
          |  {"name":"projectId","type":["null","string"],"default":null},
          |  {"name":"userId","type":"string"},{"name":"sourceId","type":"string"}]}},
          |{"name":"value","type":{"type":"record","name":"V","fields":[
          |  {"name":"time","type":"double"},{"name":"eventType","type":"string"},
          |  {"name":"value","type":"double"}]}}]}""".stripMargin
      val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
      def writeClosedBatch(root: java.nio.file.Path, counters: Array[Long],
          batch: Array[org.apache.spark.sql.Row]): Unit = {
        // closed filenames need per-partition counts up front
        val byPart = batch.groupBy(r => (r.getLong(1) % 16).toInt)
        byPart.toSeq.sortBy(_._1).foreach { case (p, rs) =>
          val dir = root.resolve(s"in/events/partition=$p")
          java.nio.file.Files.createDirectories(dir)
          val from = counters(p)
          val to = from + rs.length - 1
          val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
            new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
          w.create(schema, dir.resolve(f"events+$p+$from%010d+$to%010d.avro").toFile)
          rs.foreach { r =>
            val k = new org.apache.avro.generic.GenericData.Record(schema.getField("key").schema)
            k.put("projectId", "bench"); k.put("userId", s"u${r.getLong(1) % 64}"); k.put("sourceId", "s0")
            val v = new org.apache.avro.generic.GenericData.Record(schema.getField("value").schema)
            v.put("time", r.getDouble(4)); v.put("eventType", r.getString(2)); v.put("value", r.getDouble(3))
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            rec.put("key", k); rec.put("value", v)
            w.append(rec)
          }
          w.close()
          counters(p) = to + 1
        }
      }
      val (rows1, rows2) = rows.splitAt((rows.length * 0.8).toInt)
      def runOnce(): (Double, Int, Int, String) = {
        val work = java.nio.file.Files.createTempDirectory("graft-bench-cln")
        val counters = new Array[Long](16)
        val cfg = graft.jobs.RestructureJobConfig(
          inputRoot = work.resolve("in").toString,
          outputRoot = work.resolve("out").toString,
          dedup = true, timeBinFormat = "yyyyMMdd")
        writeClosedBatch(work, counters, rows1)
        writeClosedBatch(work, counters, rows2)
        graft.jobs.Restructure.run(spark, cfg) // setup, untimed
        dropCachedBlocks(); System.gc() // untimed debt reclaim (see benchTenX)
        graft.util.Timer.reset()
        val t0 = System.nanoTime()
        val result = graft.jobs.Cleaner.run(spark, cfg, ageMs = 0L)
        val sec = (System.nanoTime() - t0) / 1e9
        val timerJson = graft.util.Timer.toJson
        org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
        (sec, result.deleted.size, result.rolledBack.size, timerJson)
      }
      // warm once (codegen/JIT for the verification plan), measure twice
      runOnce()
      val runs = Seq(runOnce(), runOnce())
      val best = runs.minBy(_._1)
      val passes = runs.map(r => r4(r._1)).mkString("[", ",", "]")
      s"""{"records":${rows.length},"deleted_files":${best._2},""" +
        s""""rolled_back":${best._3},"sec":${r4(best._1)},"passes":$passes,""" +
        s""""timer":${best._4}}"""
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] cleaner bench FAILED: ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
      s"""{"error":${jsonStr(s"${e.getClass.getSimpleName}: ${e.getMessage}")}}"""
    }

  /** End-to-end restructure throughput at the target SF: the events table is
    * written out as Kafka-connector-shaped Avro container files (16
    * partitions), then the full job (scan → derive → flatten → dedup → bin
    * write → ledger) runs against them. Reports records/sec plus the
    * reference-Timer-named stage breakdown (BASELINE.md metric-name parity).
    *
    * Setup + warm-up happen in [[prepareRestructure]]; the measured
    * cold-write + append runs are triggered by `runMeasured()` (interleaved
    * between query sweeps by the caller) and `toJson` reports the best run.
    * Failures are NEVER swallowed: a broken setup or run reports an
    * `"error"` field (and stderr detail) instead of an empty object that
    * reads as "section silently missing".
    */
  private[graft] final case class RunStats(timerJson: String, sec: Double, n: Long,
    bins: Int, sec2: Double, n2: Long)

  private[graft] class RestructureBench(runOnce: () => RunStats, setupError: Option[Throwable]) {
    private val runs = scala.collection.mutable.ArrayBuffer.empty[Either[Throwable, RunStats]]
    def runMeasured(): Unit = if (setupError.isEmpty) {
      runs += (try Right(runOnce())
      catch { case e: Throwable =>
        Console.err.println(s"[bench] restructure run FAILED: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        Left(e)
      })
    }
    def toJson: String = {
      def r4(x: Double): Double = math.rint(x * 1e4) / 1e4
      val errors = setupError.toSeq ++ runs.collect { case Left(e) => e }
      val errJson = if (errors.isEmpty) ""
        else s""","error":${jsonStr(errors.map(e =>
          s"${e.getClass.getSimpleName}: ${e.getMessage}").mkString("; "))}"""
      val ok = runs.collect { case Right(s) => s }.toSeq
      ok match {
        case Nil => s"""{"records":0$errJson}"""
        case _ =>
          // per-PHASE mins, not best-by-total: the cold and append phases
          // are independently noise-exposed, and a burst in one pass's
          // append previously reported as a throughput regression (round
          // 12: 16.9k→14.4k rec/s on a single shot). Pass arrays make any
          // residual spread legible in the artifact.
          val bestCold = ok.minBy(_.sec)
          val bestApp = ok.minBy(_.sec2)
          val coldPasses = ok.map(s => r4(s.sec)).mkString("[", ",", "]")
          val appPasses = ok.map(s => r4(s.sec2)).mkString("[", ",", "]")
          s"""{"records":${bestCold.n},"bins":${bestCold.bins},"sec":${r4(bestCold.sec)},""" +
            s""""records_per_sec":${r4(bestCold.n / bestCold.sec)},""" +
            s""""append_records":${bestApp.n2},"append_sec":${r4(bestApp.sec2)},""" +
            s""""append_records_per_sec":${r4(bestApp.n2 / bestApp.sec2)},""" +
            s""""cold_passes":$coldPasses,"append_passes":$appPasses,""" +
            s""""timer":${bestCold.timerJson}$errJson}"""
      }
    }
  }

  private[graft] def prepareRestructure(spark: SparkSession, sfDir: String): RestructureBench =
    try {
      import org.apache.spark.sql.functions._
      import scala.jdk.CollectionConverters._
      val work = java.nio.file.Files.createTempDirectory("graft-bench-rst")
      val schemaJson =
        """{"type":"record","name":"EventRecord","fields":[
          |{"name":"key","type":{"type":"record","name":"K","fields":[
          |  {"name":"projectId","type":["null","string"],"default":null},
          |  {"name":"userId","type":"string"},{"name":"sourceId","type":"string"}]}},
          |{"name":"value","type":{"type":"record","name":"V","fields":[
          |  {"name":"time","type":"double"},{"name":"eventType","type":"string"},
          |  {"name":"value","type":"double"}]}}]}""".stripMargin
      val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
      val rows = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts").cast("double").as("tsec"))
        .collect()
      def writeBatchTo(root: java.nio.file.Path, counters: Array[Long],
                       batch: Array[org.apache.spark.sql.Row]): Unit = {
        val writers = (0 until 16).map { p =>
          val dir = root.resolve(s"in/events/partition=$p")
          java.nio.file.Files.createDirectories(dir)
          val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
            new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
          // open-ended slice starting after what this partition already holds
          w.create(schema, dir.resolve(f"events+$p+${counters(p)}%010d.avro").toFile)
          w
        }
        batch.foreach { r =>
          val p = (r.getLong(1) % 16).toInt
          val k = new org.apache.avro.generic.GenericData.Record(schema.getField("key").schema)
          // 64 users × hourly bins ≈ O(10k) bins at sf0.1 — a realistic
          // records-per-bin shape for the reference's workload
          k.put("projectId", "bench"); k.put("userId", s"u${r.getLong(1) % 64}"); k.put("sourceId", "s0")
          val v = new org.apache.avro.generic.GenericData.Record(schema.getField("value").schema)
          v.put("time", r.getDouble(4)); v.put("eventType", r.getString(2)); v.put("value", r.getDouble(3))
          val rec = new org.apache.avro.generic.GenericData.Record(schema)
          rec.put("key", k); rec.put("value", v)
          writers(p).append(rec)
          counters(p) += 1
        }
        writers.foreach(_.close())
      }
      // warm-up: the restructure pipeline's first execution pays whole-stage
      // codegen + JIT (measured ~5 s of a 9 s first run at sf0.1 — more than
      // the job itself); run the full job once on a small slice in a
      // throwaway directory so the measured phases report steady-state
      // throughput, same rationale as the query warm pass above
      val warmWork = java.nio.file.Files.createTempDirectory("graft-bench-rst-warm")
      val warmCounters = new Array[Long](16)
      writeBatchTo(warmWork, warmCounters, rows.take(2000))
      val warmCfg = graft.jobs.RestructureJobConfig(
        inputRoot = warmWork.resolve("in").toString,
        outputRoot = warmWork.resolve("out").toString,
        dedup = true, timeBinFormat = "yyyyMMdd")
      graft.jobs.Restructure.run(spark, warmCfg)
      // second slice exercises the append path (merge-existing plan shapes)
      writeBatchTo(warmWork, warmCounters, rows.slice(2000, 3000))
      graft.jobs.Restructure.run(spark, warmCfg)
      org.apache.commons.io.FileUtils.deleteDirectory(warmWork.toFile)

      // the measured runs (fresh work dir + ledger each) are triggered by
      // the caller, interleaved between query sweeps — best total reported,
      // same contention-noise rationale as the query min-of-N; each run is
      // a full cold-write + append sequence
      val (rows1, rows2) = rows.splitAt((rows.length * 0.8).toInt)
      def runPhases(): RunStats = {
        val work = java.nio.file.Files.createTempDirectory("graft-bench-rst")
        val perPart = new Array[Long](16)
        val cfg = graft.jobs.RestructureJobConfig(
          inputRoot = work.resolve("in").toString,
          outputRoot = work.resolve("out").toString,
          dedup = true,
          // daily bins: ~1.5k bins at sf0.1 → realistic records-per-bin
          // density for the reference workload (hourly bins on real RADAR
          // volumes have similar per-file record counts)
          timeBinFormat = "yyyyMMdd")
        // phase 1: cold write (empty output tree)
        writeBatchTo(work, perPart, rows1)
        graft.util.Timer.reset()
        val t0 = System.nanoTime()
        val result = graft.jobs.Restructure.run(spark, cfg)
        val sec = (System.nanoTime() - t0) / 1e9
        val timerJson = graft.util.Timer.toJson
        // phase 2: steady-state append — new slices land in EXISTING bins,
        // exercising the merge-rewrite + dedup path over the full bin set
        writeBatchTo(work, perPart, rows2)
        val t1 = System.nanoTime()
        val result2 = graft.jobs.Restructure.run(spark, cfg)
        val sec2 = (System.nanoTime() - t1) / 1e9
        val stats = RunStats(timerJson, sec,
          result.processedTopics.map(_.records).sum,
          result.processedTopics.map(_.bins.count).sum.toInt,
          sec2, result2.processedTopics.map(_.records).sum)
        org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
        stats
      }
      new RestructureBench(() => runPhases(), None)
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] restructure setup FAILED: ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
      new RestructureBench(() => sys.error("restructure setup failed"), Some(e))
    }

  /** Standing object-store-latency point for the bespoke bin readers
    * (round-17 watch item: a task opening hundreds of bins sequentially
    * rebuilds a seconds-scale wall on S3-class ~20-50 ms GETs). N tiny
    * bins re-read through a local FS whose every open sleeps `delay_ms`,
    * with the production bounded open-ahead — the 50k-bin merge-chunk wall
    * extrapolates linearly from this point. The sequential baseline it
    * replaced measured 3.74× slower (PLANS.md round 18).
    */
  private def benchBinOpenLatency(spark: SparkSession): String =
    try {
      val files = 3200
      val delayMs = 20L
      val dir = java.nio.file.Files.createTempDirectory("graft-bench-openlat")
      try {
        val header = "k.a,v.b"
        (0 until files).foreach { i =>
          java.nio.file.Files.write(dir.resolve(f"bin$i%05d.csv"),
            s"$header\n$i,x$i\n${i + 1},y$i\n".getBytes("UTF-8"))
        }
        spark.sparkContext.hadoopConfiguration.set("fs.slowopen.impl",
          classOf[SlowOpenLocalFileSystem].getName)
        val rels = (0 until files).map(i => f"bin$i%05d.csv")
        SlowOpenLocalFileSystem.delayMs = delayMs
        val ahd =
          try {
            val t0 = System.nanoTime()
            val n = graft.jobs.Restructure.readCsvBinFiles(spark, s"slowopen:$dir",
              "", rels, header).count()
            require(n == files * 2L, s"openlat read $n rows")
            (System.nanoTime() - t0) / 1e9
          } finally SlowOpenLocalFileSystem.delayMs = 0L
        s"""{"files":$files,"delay_ms":$delayMs,"ahead_sec":${r4(ahd)},""" +
          s""""ahead":${graft.jobs.Restructure.BinOpenAhead}}"""
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] bin_open_latency FAILED: ${e.getMessage}")
      s"""{"error":${jsonStr(e.toString)}}"""
    }

  /** Opt-in (`SPARK_GRAFT_BINS=1`) bin-count scaling row (round-16 verdict
    * task #5): the standing restructure bench writes ~1.5k bins, but the
    * write path's design arguments (per-parent mkdirs memo, sidecar sweep
    * election, fingerprint gating) are amortization claims about TENS of
    * thousands of bins — so measure them. A synthetic 16-partition topic
    * with exactly `users × hours` (200 × 100 = 20k) hourly bins, ~20
    * records each, runs the full job twice: cold write (empty tree) and
    * append (every bin merge-rewrites), with the per-stage Timer on both
    * phases. One measured pass per phase — a scaling-trend row, not the
    * noise-controlled headline.
    */
  private def benchBins(spark: SparkSession, dropCachedBlocks: () => Unit): String =
    try {
      val users = 200
      val hours = 100
      val rowsPerBin = 20
      val n = users * hours * rowsPerBin
      val schemaJson =
        """{"type":"record","name":"EventRecord","fields":[
          |{"name":"key","type":{"type":"record","name":"K","fields":[
          |  {"name":"projectId","type":["null","string"],"default":null},
          |  {"name":"userId","type":"string"},{"name":"sourceId","type":"string"}]}},
          |{"name":"value","type":{"type":"record","name":"V","fields":[
          |  {"name":"time","type":"double"},{"name":"eventType","type":"string"},
          |  {"name":"value","type":"double"}]}}]}""".stripMargin
      val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
      val work = java.nio.file.Files.createTempDirectory("graft-bench-bins")
      val counters = new Array[Long](16)
      val baseT = 1.6e9
      def writeSlice(from: Int, until: Int): Unit = {
        val writers = (0 until 16).map { p =>
          val dir = work.resolve(s"in/events/partition=$p")
          java.nio.file.Files.createDirectories(dir)
          val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
            new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
          w.create(schema, dir.resolve(f"events+$p+${counters(p)}%010d.avro").toFile)
          w
        }
        (from until until).foreach { j =>
          // bin coordinates: (user, hour) cycle fastest so both slices
          // touch EVERY bin — the append phase then merge-rewrites all 20k
          val user = j % users
          val hour = (j / users) % hours
          val p = user % 16
          val k = new org.apache.avro.generic.GenericData.Record(schema.getField("key").schema)
          k.put("projectId", "bench"); k.put("userId", f"u$user%03d"); k.put("sourceId", "s0")
          val v = new org.apache.avro.generic.GenericData.Record(schema.getField("value").schema)
          v.put("time", baseT + hour * 3600.0 + (j / (users * hours)) % 3600)
          v.put("eventType", "bench"); v.put("value", j.toDouble)
          val rec = new org.apache.avro.generic.GenericData.Record(schema)
          rec.put("key", k); rec.put("value", v)
          writers(p).append(rec)
          counters(p) += 1
        }
        writers.foreach(_.close())
      }
      val cfg = graft.jobs.RestructureJobConfig(
        inputRoot = work.resolve("in").toString,
        outputRoot = work.resolve("out").toString,
        dedup = true, timeBinFormat = "yyyyMMdd_HH00")
      def timedRun(): (Double, Long, Int, String) = {
        dropCachedBlocks(); System.gc()
        graft.util.Timer.reset()
        val t0 = System.nanoTime()
        val result = graft.jobs.Restructure.run(spark, cfg)
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, result.processedTopics.map(_.records).sum,
          result.processedTopics.map(_.bins.count).sum.toInt, graft.util.Timer.toJson)
      }
      try {
        // cold: 80% of rows, every bin created
        writeSlice(0, (n * 0.8).toInt)
        val (coldSec, coldN, coldBins, coldTimer) = timedRun()
        // append: remaining 20%, every bin merge-rewritten
        writeSlice((n * 0.8).toInt, n)
        val (appSec, appN, appBins, appTimer) = timedRun()
        s"""{"bins":$coldBins,"records":$coldN,"sec":${r4(coldSec)},""" +
          s""""records_per_sec":${r4(coldN / coldSec)},"timer":$coldTimer,""" +
          s""""append":{"bins":$appBins,"records":$appN,"sec":${r4(appSec)},""" +
          s""""records_per_sec":${r4(appN / appSec)},"timer":$appTimer}}"""
      } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] bins bench FAILED: ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
      s"""{"error":${jsonStr(s"${e.getClass.getSimpleName}: ${e.getMessage}")}}"""
    }

  /** Jobs at 10× (companion to the query-side `sf1x10` section): the
    * cleaner verifies+deletes over a 10×-replicated event store (disjoint
    * user space per replica, so bins scale with the data), and a
    * dynamic-schema topic (map-keyed CSV headers, 3 shapes) runs the
    * fingerprint-grouped write path at 10× volume. One measured run each —
    * these are scaling-trend rows, not the noise-controlled headline.
    */
  private def benchJobs10x(spark: SparkSession, sfDir: String,
      dropCachedBlocks: () => Unit): String =
    try {
      import org.apache.spark.sql.functions._
      val rep = 10
      // driver collect is a BENCH-HARNESS bound, not an engine one: the
      // Avro fixture writer needs the rows driver-side (same pattern as
      // prepareRestructure/benchCleaner), and at the bench's target SFs
      // (sf0.1 = 100k events ≈ tens of MB) this is far below driver heap.
      // The jobs under measurement never collect data rows.
      val rows = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts").cast("double").as("tsec"))
        .collect()

      // ---- cleaner at 10×: closed-range slices per replica; slice 2
      // protects slice 1 (ledger covers past its end), so ~half the files
      // are delete-eligible — the realistic mixed outcome at volume
      val eventSchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"EventRecord","fields":[
          |{"name":"key","type":{"type":"record","name":"K","fields":[
          |  {"name":"projectId","type":["null","string"],"default":null},
          |  {"name":"userId","type":"string"},{"name":"sourceId","type":"string"}]}},
          |{"name":"value","type":{"type":"record","name":"V","fields":[
          |  {"name":"time","type":"double"},{"name":"eventType","type":"string"},
          |  {"name":"value","type":"double"}]}}]}""".stripMargin)
      def writeClosed(root: java.nio.file.Path, counters: Array[Long],
          batch: Array[org.apache.spark.sql.Row], userOffset: Int): Unit = {
        val byPart = batch.groupBy(r => (r.getLong(1) % 16).toInt)
        byPart.toSeq.sortBy(_._1).foreach { case (p, rs) =>
          val dir = root.resolve(s"in/events/partition=$p")
          java.nio.file.Files.createDirectories(dir)
          val from = counters(p); val to = from + rs.length - 1
          val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
            new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](eventSchema))
          w.create(eventSchema, dir.resolve(f"events+$p+$from%010d+$to%010d.avro").toFile)
          rs.foreach { r =>
            val k = new org.apache.avro.generic.GenericData.Record(eventSchema.getField("key").schema)
            k.put("projectId", "bench")
            k.put("userId", s"u${r.getLong(1) % 64 + userOffset}")
            k.put("sourceId", "s0")
            val v = new org.apache.avro.generic.GenericData.Record(eventSchema.getField("value").schema)
            v.put("time", r.getDouble(4)); v.put("eventType", r.getString(2)); v.put("value", r.getDouble(3))
            val rec = new org.apache.avro.generic.GenericData.Record(eventSchema)
            rec.put("key", k); rec.put("value", v)
            w.append(rec)
          }
          w.close()
          counters(p) = to + 1
        }
      }
      val (rows1, rows2) = rows.splitAt((rows.length * 0.8).toInt)
      // the fixture (driver-side Avro writes — the expensive part) is built
      // ONCE into a pristine tree; the cleaner consumes its input (deletes
      // verified files), so each measured pass gets a cheap file-tree COPY
      // of the pristine input plus its own untimed restructure setup.
      // min-of-2: round 11's single-shot jobs10x rows produced a false
      // +33% alarm from one noise burst
      val pristine = java.nio.file.Files.createTempDirectory("graft-bench-cln10x-src")
      val ccounters = new Array[Long](16)
      (0 until rep).foreach { r => writeClosed(pristine, ccounters, rows1, r * 64) }
      (0 until rep).foreach { r => writeClosed(pristine, ccounters, rows2, r * 64) }
      def cleanerOnce(): (Double, Int, Int, String) = {
        val cwork = java.nio.file.Files.createTempDirectory("graft-bench-cln10x")
        org.apache.commons.io.FileUtils.copyDirectory(
          pristine.resolve("in").toFile, cwork.resolve("in").toFile)
        val ccfg = graft.jobs.RestructureJobConfig(
          inputRoot = cwork.resolve("in").toString,
          outputRoot = cwork.resolve("out").toString,
          dedup = true, timeBinFormat = "yyyyMMdd")
        graft.jobs.Restructure.run(spark, ccfg) // setup, untimed
        dropCachedBlocks(); System.gc() // untimed debt reclaim (see benchTenX)
        graft.util.Timer.reset()
        val ct0 = System.nanoTime()
        val cres = graft.jobs.Cleaner.run(spark, ccfg, ageMs = 0L)
        val csec = (System.nanoTime() - ct0) / 1e9
        val ctimer = graft.util.Timer.toJson
        org.apache.commons.io.FileUtils.deleteDirectory(cwork.toFile)
        (csec, cres.deleted.size, cres.rolledBack.size, ctimer)
      }
      val cruns = Seq(cleanerOnce(), cleanerOnce())
      org.apache.commons.io.FileUtils.deleteDirectory(pristine.toFile)
      val cbest = cruns.minBy(_._1)
      val cpasses = cruns.map(r => r4(r._1)).mkString("[", ",", "]")
      val cleaner10x = s"""{"records":${rows.length.toLong * rep},""" +
        s""""deleted_files":${cbest._2},"rolled_back":${cbest._3},""" +
        s""""sec":${r4(cbest._1)},"passes":$cpasses,"timer":${cbest._4}}"""

      // ---- dynamic-schema topic at 10×: a map-valued field whose key set
      // cycles through 3 shapes — the batch groups into 3 header
      // fingerprints, each writing from the ONE cached scan
      val dynSchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"DynRecord","fields":[
          |{"name":"key","type":{"type":"record","name":"K","fields":[
          |  {"name":"userId","type":"string"}]}},
          |{"name":"value","type":{"type":"record","name":"V","fields":[
          |  {"name":"time","type":"double"},
          |  {"name":"m","type":{"type":"map","values":"double"}}]}}]}""".stripMargin)
      def writeDyn(root: java.nio.file.Path, counters: Array[Long],
          batch: Array[org.apache.spark.sql.Row], userOffset: Int): Long = {
        val writers = (0 until 16).map { p =>
          val dir = root.resolve(s"in/dyn/partition=$p")
          java.nio.file.Files.createDirectories(dir)
          val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
            new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](dynSchema))
          w.create(dynSchema, dir.resolve(f"dyn+$p+${counters(p)}%010d.avro").toFile)
          w
        }
        var i = 0L
        batch.foreach { r =>
          val p = (r.getLong(1) % 16).toInt
          val k = new org.apache.avro.generic.GenericData.Record(dynSchema.getField("key").schema)
          k.put("userId", s"u${r.getLong(1) % 64 + userOffset}")
          val m = new java.util.LinkedHashMap[String, java.lang.Double]()
          val nKeys = 1 + (i % 3).toInt
          (0 until nKeys).foreach(j => m.put(s"k$j", r.getDouble(3)))
          val v = new org.apache.avro.generic.GenericData.Record(dynSchema.getField("value").schema)
          v.put("time", r.getDouble(4)); v.put("m", m)
          val rec = new org.apache.avro.generic.GenericData.Record(dynSchema)
          rec.put("key", k); rec.put("value", v)
          writers(p).append(rec)
          counters(p) += 1
          i += 1
        }
        writers.foreach(_.close())
        i
      }
      // warm the dynamic plan shapes on a small slice (throwaway dir)
      val dwarm = java.nio.file.Files.createTempDirectory("graft-bench-dyn-warm")
      writeDyn(dwarm, new Array[Long](16), rows.take(2000), 0)
      graft.jobs.Restructure.run(spark, graft.jobs.RestructureJobConfig(
        inputRoot = dwarm.resolve("in").toString,
        outputRoot = dwarm.resolve("out").toString, timeBinFormat = "yyyyMMdd"))
      org.apache.commons.io.FileUtils.deleteDirectory(dwarm.toFile)
      val dwork = java.nio.file.Files.createTempDirectory("graft-bench-dyn10x")
      val dcounters = new Array[Long](16)
      var dynRecords = 0L
      (0 until rep).foreach { r => dynRecords += writeDyn(dwork, dcounters, rows, r * 64) }
      // min-of-2 measured runs over the SAME input tree (fresh output root
      // + ledger each pass, so both are full cold extractions): round 11's
      // single-shot jobs10x rows produced a false +33% alarm from one
      // noise burst — the input fixture is the expensive part and is
      // reused, so the second pass costs only the job itself
      def dynOnce(): (Double, Long, Long) = {
        val out = java.nio.file.Files.createTempDirectory("graft-bench-dyn10x-out")
        dropCachedBlocks(); System.gc() // untimed debt reclaim (see benchTenX)
        val dt0 = System.nanoTime()
        val dres = graft.jobs.Restructure.run(spark, graft.jobs.RestructureJobConfig(
          inputRoot = dwork.resolve("in").toString,
          outputRoot = out.toString, timeBinFormat = "yyyyMMdd"))
        val dsec = (System.nanoTime() - dt0) / 1e9
        org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
        (dsec, dres.processedTopics.map(_.records).sum,
          dres.processedTopics.map(_.bins.count).sum)
      }
      val druns = Seq(dynOnce(), dynOnce())
      val (dsec, dn, dbins) = druns.minBy(_._1)
      org.apache.commons.io.FileUtils.deleteDirectory(dwork.toFile)
      val dpasses = druns.map(r => r4(r._1)).mkString("[", ",", "]")
      val dyn10x = s"""{"records":$dn,"bins":$dbins,"shapes":3,"sec":${r4(dsec)},""" +
        s""""records_per_sec":${r4(dn / dsec)},"passes":$dpasses}"""

      s"""{"replication":$rep,"cleaner":$cleaner10x,"restructure_dynamic":$dyn10x}"""
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] jobs10x FAILED: ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
      s"""{"error":${jsonStr(s"${e.getClass.getSimpleName}: ${e.getMessage}")}}"""
    }
}
