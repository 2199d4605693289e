package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.jobs.{Cleaner, Restructure, RestructureJobConfig}
import graft.paths.PathTemplate
import graft.sources.{AvroRead, TopicFiles}
import graft.streaming.StreamingNearDedup
import graft.time.TimeExtract

/** The closed-loop workloads, one client each. Every operation count is
  * fixed per `--seconds` (sized to fill it on a 4-core host), so a slower
  * program does the same work in more time rather than less work.
  */
object Workloads {

  val byName: Map[String, (SparkSession, Run) => Unit] = Map(
    "service_incremental" -> serviceIncremental,
    "operator_queries" -> operatorQueries)

  val IncrShape = RadarShape(records = 8000, users = 6, hours = 8, partitions = 4,
    recordsPerFile = 500, redelivery = 0.02, newPerIteration = 800)
  // half the measured sf0.1 corpus: 2,500 documents, 1,000 embeddings,
  // 50,000 events
  val Corpus = CorpusShape.sf01(0.5)
  val IncrIterationSeconds = 10.0
  val QueryPassSeconds = 9.0
  val StreamBatchDocs = 200
  val StreamBatchSeconds = 2.5
  // compaction every 8 batches (the default is 16), so a run of 11
  // batches includes one
  val StreamCompactEvery = 8

  val Queries: Seq[String] = Seq("q_corpus_dedup", "q_ivfpq_topk", "q_tfidf", "q_asof_join",
    "q_mask_spans")

  /** Fixed op count for a run of `seconds`, at `opSeconds` per op (the
    * op's wall on a 4-core host), at least `min`.
    */
  private def ops(run: Run, opSeconds: Double, min: Int): Int =
    math.max(min, math.round(run.args.seconds / opSeconds).toInt)

  /** Generates inputs twice into sibling directories and returns the
    * second; the setup phase records the median generation time, and the
    * two trees must be byte-identical (same seed, same inputs).
    */
  private def generate[T](run: Run, name: String)(gen: File => T): (File, T) = {
    val results = (0 until 2).map { i =>
      val dir = new File(run.work, s"$name-gen$i")
      Files.deleteTree(dir)
      dir.mkdirs()
      val (r, s) = Stats.time(gen(dir))
      (dir, r, s)
    }
    run.setupPhase("generate_s", Stats.median(results.map(_._3)))
    val (d0, d1) = (results(0)._1, results(1)._1)
    run.check(if (Files.treeDigest(d0) == Files.treeDigest(d1)) Nil
      else Seq(s"$name: the same seed generated different inputs"))
    Files.deleteTree(d0)
    (d1, results(1)._2)
  }

  // ------------------------------------------------------------ restructure

  private def restructureConfig(in: File, out: File, gzip: Boolean): RestructureJobConfig =
    RestructureJobConfig(inputRoot = in.getPath, outputRoot = out.getPath,
      dedup = true, gzip = gzip, topicParallelism = 1)

  private def records(r: Restructure.RunResult): Long = r.processedTopics.map(_.records).sum

  private def restructureProblems(r: Restructure.RunResult): Seq[String] =
    r.failedTopics.map { case (t, e) => s"restructure failed topic $t: $e" }

  /** A cold restructure of `cfg.inputRoot` with its layers traced: listing,
    * per-topic schema read, decode and routing (each run on its own beside
    * the restructure), the ledger's skip ratio and I/O, and the
    * restructure under the `cold` scope. Returns the result and the wall of
    * listing plus restructure.
    */
  private def coldLayers(spark: SparkSession, run: Run, l: ScopeListener,
      cfg: RestructureJobConfig): (Restructure.RunResult, Double) = {
    val t = run.tracer
    val (listing, listS) =
      Stats.time(t.span("sources.list")(TopicFiles.listTopicsAll(spark, Seq(cfg.inputRoot))))
    for ((topic, sts) <- listing.toSeq.sortBy(_._1)) {
      val files = sts.map(_.getPath.toString)
      val schema = t.span("sources.schema")(AvroRead.topicReaderSchema(spark, files))
      t.span("paths.route") {
        val df = t.span("sources.decode") {
          val d = AvroRead.read(spark, files, Some(schema))
          d.write.format("noop").mode("overwrite").save()
          d
        }
        routed(df, topic, cfg).write.format("noop").mode("overwrite").save()
      }
    }
    Layers.skipRatio(run, new File(cfg.ledger), listing)
    val fs0 = CountingLocalFileSystem.snapshot()
    val (res, wall) = Stats.time(Layers.window(l, "cold")(
      t.span("jobs.restructure")(Restructure.run(spark, cfg, Some(listing)))))
    Layers.fsDelta(run, "cold", fs0)
    Layers.ledgerIo(run, new File(cfg.ledger))
    (res, listS + wall)
  }

  /** Per-layer metrics of the traced cold restructure into `out`: span
    * totals, the bytes it wrote, and the scope's scheduler counters.
    */
  private def coldLayerMetrics(spark: SparkSession, run: Run, l: ScopeListener,
      store: RadarStore, out: File): Unit = {
    val t = run.tracer
    val n = t.spans.count(_.name == "jobs.restructure").toDouble
    val recs = store.files.map(_.records.toLong).sum
    val bins = store.expectedBins.size
    val decode = t.total("sources.decode") / n
    val route = t.total("paths.route") / n
    val schema = t.total("sources.schema") / n
    val restructure = t.total("jobs.restructure") / n
    run.layer("sources.list_s", t.total("sources.list") / n, "s")
    run.layer("sources.files_listed", store.files.size.toDouble, "count")
    run.layer("sources.schema_s", schema, "s")
    run.layer("sources.decode_s", decode, "s")
    run.layer("sources.decode_records_per_s", recs / decode, "rec/s")
    run.layer("paths.route_s", route, "s")
    run.layer("paths.route_self_s", route - decode, "s")
    run.layer("paths.bins", bins.toDouble, "count")
    // estimated: the restructure's wall minus the layer spans measured
    // beside it (schema read and decode+route)
    run.layer("jobs.write_s", math.max(0.0, restructure - schema - route), "s")
    run.layer("jobs.bins_per_s", bins / restructure, "1/s")
    run.layer("jobs.cold_records_per_s", recs / restructure, "rec/s")
    run.layer("jobs.bytes_written", Files.bytes(out).toDouble, "bytes")
    Layers.spark(run, l, "cold", cores(spark))
  }

  /** The restructure's own time and path derivation over a decoded batch. */
  private def routed(df: DataFrame, topic: String, cfg: RestructureJobConfig): DataFrame = {
    val dataSchema = StructType(df.schema.fields.filterNot(f =>
      f.name == AvroRead.FileCol || f.name == AvroRead.PosCol))
    val timeCol = TimeExtract.timeColumn(dataSchema)
    val params = PathTemplate.fixedParams(dataSchema, timeCol, lit(topic), cfg.extension,
      cfg.timeBinFormat)
    df.select(PathTemplate.compile(cfg.pathTemplate, params, Some(timeCol), Some(dataSchema))
      .as("__path"))
  }

  private def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  // ----------------------------------------------------- service iterations

  /** Service-loop iterations over a pre-populated `.csv.gz` store: land one
    * closed file per (topic, partition), restructure, clean with age 0.
    */
  def serviceIncremental(spark: SparkSession, run: Run): Unit = {
    val (in, store) = generate(run, "incr-in") { dir =>
      val s = new RadarStore(dir, run.seed, IncrShape); s.backlog(); s
    }
    val out = new File(run.work, "incr-out")
    val cfg = restructureConfig(in, out, gzip = true)
    val listener = if (run.args.trace) Some(Layers.install(spark)) else None
    // the store build is a cold restructure; traced runs take its layers
    val (first, storeS) = listener match {
      case Some(l) => coldLayers(spark, run, l, cfg)
      case None => Stats.time(Restructure.run(spark, cfg,
        Some(TopicFiles.listTopicsAll(spark, Seq(in.getPath)))))
    }
    run.op(restructureProblems(first) ++ Checks.binsMatch(Checks.scanBins(out), store.expectedBins))
    listener.foreach(coldLayerMetrics(spark, run, _, store, out))
    run.setupPhase("store_build_s", storeS)
    val t = run.tracer
    var newRecords = 0L
    var reextracted = 0L
    var rolledBack = 0L
    var deleted = 0L
    var eligible = 0L
    var merged = 0L

    final case class Iter(restructure: Double, cleaner: Double, list: Double) {
      def wall: Double = restructure + cleaner + list
    }
    val traced = listener.nonEmpty
    def scopedWindow[T](on: Boolean, scope: String)(f: => T): T =
      listener.filter(_ => on).fold(f)(Layers.window(_, scope)(f))
    def iteration(i: Int, measured: Boolean): Iter = {
      val probe = traced && measured // warm-up iterations stay out of the layers
      val landed = store.land(i)
      val landedRecords = landed.map(_.records.toLong).sum
      val before = if (probe) Layers.snapshot(out) else Map.empty[String, Long]
      val fs0 = CountingLocalFileSystem.snapshot()
      val (listing, listS) = Stats.time(t.span("sources.list")(
        TopicFiles.listTopicsAll(spark, Seq(in.getPath))))
      if (probe) Layers.skipRatio(run, new File(cfg.ledger), listing)
      val (res, rS) = Stats.time(scopedWindow(probe, "incr_restructure")(
        t.span("jobs.restructure")(Restructure.run(spark, cfg, Some(listing)))))
      if (probe) {
        Layers.fsDelta(run, "incr_restructure", fs0)
        Layers.ledgerIo(run, new File(cfg.ledger))
        val after = Layers.snapshot(out)
        merged += before.count { case (p, sig) => after.get(p).exists(_ != sig) }
      }
      val problems = restructureProblems(res) ++ Checks.ledgerCovers(new File(cfg.ledger), store.files)
      val eligibleNow = store.files.count(_.path.isFile) -
        Checks.newestPerPartition(store.files).count(_.path.isFile)
      val fs1 = CountingLocalFileSystem.snapshot()
      val (clean, cS) = Stats.time(scopedWindow(probe, "incr_cleaner")(
        t.span("jobs.cleaner")(Cleaner.run(spark, cfg, ageMs = 0L))))
      if (probe) Layers.fsDelta(run, "incr_cleaner", fs1)
      run.op(problems ++ Checks.newestKept(store.files) ++
        clean.failedTopics.map { case (tp, e) => s"cleaner failed topic $tp: $e" })
      if (measured) {
        newRecords += landedRecords
        reextracted += records(res) - landedRecords
        rolledBack += clean.rolledBack.size
        deleted += clean.deleted.size
        eligible += eligibleNow
      }
      Iter(rS, cS, listS)
    }

    // the first iteration JIT-compiles the merge and cleaner paths: set-up
    val (_, warmS) = Stats.time(iteration(0, measured = false))
    run.setupPhase("warmup_s", warmS)
    val n = ops(run, IncrIterationSeconds, 2)
    val iters = (1 to n).map(iteration(_, measured = true))
    run.check(Checks.binsMatch(Checks.scanBins(out), store.expectedBins))
    val walls = iters.map(_.wall)
    val loop = walls.sum
    val backlog = store.files.count(_.path.isFile) - Checks.newestPerPartition(store.files).size
    run.metric("op_p50_s", Stats.median(walls), "s")
    run.metric("work_per_s", newRecords / loop, "1/s")
    run.alias("incr.iter_p50_s", Stats.median(walls), "s")
    run.alias("incr.new_records_per_s", newRecords / loop, "rec/s")
    run.alias("incr.source_backlog_files", backlog.toDouble, "files")
    run.note(s"incremental: $n iterations, $newRecords new records, $reextracted re-extracted, " +
      s"$rolledBack files rolled back by the cleaner, $backlog source files left beyond the newest")
    run.note("iteration walls (list+restructure+cleaner): " +
      iters.map(i => f"${i.list}%.2f+${i.restructure}%.2f+${i.cleaner}%.2f").mkString(" "))
    if (traced) {
      run.layer("sources.list_s", Stats.median(iters.map(_.list)), "s")
      run.layer("sources.files_listed", store.files.count(_.path.isFile).toDouble, "count")
      run.layer("jobs.restructure_iter_s", Stats.median(iters.map(_.restructure)), "s")
      run.layer("jobs.merged_bins", merged.toDouble / n, "count")
      run.layer("jobs.reextracted_records", reextracted.toDouble, "count")
      run.layer("jobs.cleaner_s", Stats.median(iters.map(_.cleaner)), "s")
      run.layer("jobs.cleaner_deleted_ratio", if (eligible == 0) 0.0 else deleted.toDouble / eligible,
        "ratio")
      run.layer("jobs.cleaner_rolled_back", rolledBack.toDouble, "files")
      run.layer("jobs.source_backlog_files", backlog.toDouble, "files")
      run.layer("jobs.attempt_files", Checks.scanBins(out).attemptFiles.toDouble, "files")
      listener.foreach { l =>
        Layers.spark(run, l, "incr_restructure", cores(spark))
        Layers.spark(run, l, "incr_cleaner", cores(spark))
      }
    }
  }

  // ---------------------------------------------------------------- queries

  /** The operator queries, each materialized through the `noop` sink,
    * interleaved across passes so a noise burst hits one sample of many
    * queries rather than every sample of one.
    */
  def operatorQueries(spark: SparkSession, run: Run): Unit = {
    val (corpus, _) = generate(run, "corpus")(dir => CorpusGen.write(spark, dir, run.seed, Corpus))
    val results = new File(run.work, "results")
    // one materialized pass: the oracle compare reads it, and it warms the JVM
    val (_, dumpS) = Stats.time(Queries.foreach { q =>
      SparkEntry.queries(q)(spark, corpus.getPath).coalesce(1).write.mode("overwrite")
        .parquet(new File(results, q).getPath)
      clearCaches(spark)
    })
    // one untimed noop pass: the measured plans end in the noop sink, and
    // their first run still compiles code the parquet pass did not need
    def noopPass(): Unit = Queries.foreach { q => noop(spark, corpus, q); clearCaches(spark) }
    val (_, noopS) = Stats.time(noopPass())
    run.setupPhase("warmup_s", dumpS + noopS)
    val sql = new File(run.work, "oracle_sql.json")
    java.nio.file.Files.write(sql.toPath, Queries.map(q =>
      s"${Json.q(q)}: ${Json.q(SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}")
      .getBytes("UTF-8"))
    run.oracle = Some((corpus, results, sql))

    val listener = if (run.args.trace) Some(Layers.install(spark)) else None
    def pass(traced: Boolean): Map[String, Double] = Queries.map { q =>
      val (_, s) = Stats.time(
        if (traced) listener.fold(noop(spark, corpus, q))(l => Layers.window(l, q)(
          run.tracer.span(s"operators.$q")(noop(spark, corpus, q))))
        else noop(spark, corpus, q))
      run.op(Nil) // the result is checked against the oracle from the warm-up pass
      clearCaches(spark)
      q -> s
    }.toMap
    // an even pass count in traced runs keeps the ABBA order balanced
    val n = ops(run, QueryPassSeconds, 2) match { case k if listener.nonEmpty => k + k % 2; case k => k }
    // traced runs pair each untraced pass with a traced one, in ABBA order
    // (untraced first on even pairs, traced first on odd ones), so the
    // JVM's warming over the run falls on both sides alike
    // the first measured pass is still warming up: traced runs add one
    // more untimed pass, so the overhead pairs see a settled JVM
    if (listener.nonEmpty) noopPass()
    val both = (0 until n).map { i =>
      if (listener.isEmpty || i % 2 == 0) {
        val u = pass(traced = false)
        (u, listener.map(_ => pass(traced = true)))
      } else {
        val t = pass(traced = true)
        (pass(traced = false), Some(t))
      }
    }
    val passes = both.map(_._1)
    val med = Queries.map(q => q -> Stats.median(passes.map(_(q)))).toMap
    val total = med.values.sum
    run.metric("op_p50_s", Stats.geomean(med.values.toSeq), "s")
    run.metric("work_per_s", Queries.size / total, "1/s")
    run.alias("queries.total_s", total, "s")
    run.alias("queries.geomean_s", Stats.geomean(med.values.toSeq), "s")
    run.note("query pass walls: " + passes.map(p => f"${p.values.sum}%.2f").mkString(" "))
    if (listener.nonEmpty)
      run.note("traced query pass walls: " + both.flatMap(_._2).map(p => f"${p.values.sum}%.2f")
        .mkString(" "))
    run.note(s"queries: $n passes; per-query medians " +
      Queries.map(q => f"$q=${med(q)}%.3f").mkString(" "))
    listener.foreach { l =>
      val traced = both.flatMap(_._2)
      Queries.foreach(q => run.layer(s"operators.${q}_s", Stats.median(traced.map(_(q))), "s"))
      Queries.foreach(q => Layers.sparkQuery(run, l, q))
      Layers.overhead(run, passes.map(_.values.sum), traced.map(_.values.sum))
      streamLayers(spark, run, l)
    }
  }

  private def noop(spark: SparkSession, corpus: File, q: String): Unit =
    SparkEntry.queries(q)(spark, corpus.getPath).write.format("noop").mode("overwrite").save()

  /** Drops cached frames and checkpoint blocks between queries, so each
    * query starts from the same memory state.
    */
  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  // --------------------------------------------------------------- streaming

  /** Traced-only section of `operator_queries`: consecutive
    * `StreamingNearDedup.dedupBatch` calls over one history, from the same
    * document generator. The first batch warms up on its own history;
    * batch 8 of the measured run compacts the history.
    */
  private def streamLayers(spark: SparkSession, run: Run, l: ScopeListener): Unit = {
    val n = ops(run, StreamBatchSeconds, 11)
    val batches = CorpusGen.streamBatches(run.seed, n, StreamBatchDocs)
    def loop(hist: File, bs: Seq[CorpusGen.StreamBatch], scope: Option[String]): Seq[(Double, Long)] =
      bs.zipWithIndex.map { case (b, i) =>
        val frame = CorpusGen.batchFrame(spark, b).cache()
        frame.count()
        val (out, s) = Stats.time(scope.fold(step(frame, i, hist))(sc => Layers.window(l, sc)(
          run.tracer.span("streaming.batch")(step(frame, i, hist)))))
        val survivors = out.select("doc_id").collect().map(_.getLong(0)).toSet
        frame.unpersist()
        run.op(Checks.streamOutcome(b, survivors))
        (s, survivors.size.toLong)
      }
    // warm-up batches come from another seed: their history is separate
    loop(new File(run.work, "hist-warm"),
      CorpusGen.streamBatches(run.seed ^ 0x5bd1e995L, 1, StreamBatchDocs), None)
    val hist = new File(run.work, "hist")
    val res = loop(hist, batches, Some("stream_batch"))
    val walls = res.map(_._1)
    val docs = batches.map(_.docs.size).sum
    val compact = walls.indices.filter(i => i > 0 && i % StreamCompactEvery == 0)
    run.layer("streaming.batch_p50_s", Stats.median(walls), "s")
    run.layer("streaming.records_per_s", docs / walls.sum, "rec/s")
    run.layer("streaming.plain_batch_s", Stats.median(walls.indices.diff(compact).map(walls)), "s")
    run.layer("streaming.compact_batch_s",
      if (compact.isEmpty) 0.0 else Stats.median(compact.map(walls)), "s")
    run.layer("streaming.dropped_ratio", 1.0 - res.map(_._2).sum.toDouble / docs, "ratio")
    run.layer("streaming.history_mb", Files.bytes(hist) / 1048576.0, "MB")
    // the slowest batch: a run has too few batches for a tail percentile
    // with ten batches beyond it
    run.layer("streaming.batch_max_s", walls.max, "s")
    run.layer("streaming.batches", walls.size.toDouble, "count")
    Layers.spark(run, l, "stream_batch", cores(spark))
  }

  private def step(frame: DataFrame, i: Int, hist: File): DataFrame =
    StreamingNearDedup.dedupBatch(frame, i.toLong, hist.getPath, compactEvery = StreamCompactEvery)
}
