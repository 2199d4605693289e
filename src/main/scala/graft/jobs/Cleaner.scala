package graft.jobs

import java.time.Instant

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{AvroRead, TopicFiles}
import graft.time.TimeExtract

/** The cleaner job (§3.2 / §2.6 of SURVEY.md): delete source Avro files whose
  * records are verifiably present in the output.
  *
  *  - C1 eligibility: file older than `ageMs` AND the ledger also covers
  *    `to+1` (a later offset was processed — the newest file is never
  *    deleted, cleaner/SourceDataCleaner.kt:106-113).
  *  - C2 verification: re-derive every record's (bin path, time) with the
  *    writer's path function and anti-join against the distinct time
  *    values of the target bins and their attempt files (timestamp-set
  *    containment, cleaner/TimestampExtractionCheck.kt) — one distributed
  *    join per topic instead of per-record file reads.
  *  - C3 rollback: a file that fails verification has its range removed
  *    from the ledger so the next restructure run re-extracts it.
  */
object Cleaner {

  final case class CleanResult(deleted: Seq[String], rolledBack: Seq[String],
      failedTopics: Seq[(String, String)] = Nil)

  def run(spark: SparkSession, cfg: RestructureJobConfig, ageMs: Long = 7L * 24 * 3600 * 1000,
      // cleaner.maxFilesPerTopic (SourceDataCleaner.kt:39-40): cap the
      // files verified+deleted per topic per iteration
      maxFilesPerTopic: Option[Int] = None): CleanResult = {
    val fs = new HPath(cfg.outputRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    val store = cfg.ledgerStore()
    val ledger = store match {
      case Some(s) =>
        s.get(cfg.ledger).map(graft.ledger.OffsetRangeSet.fromJson)
          .getOrElse(new graft.ledger.OffsetRangeSet)
      case None => Restructure.loadLedger(fs, cfg.ledger)
    }
    Restructure.sweepStaleUnzipTemps(fs, cfg.outputRoot, cfg.staleTempAgeMs)
    val now = System.currentTimeMillis()
    val deleted = Seq.newBuilder[String]
    val rolledBack = Seq.newBuilder[String]

    val topics = TopicFiles.listTopicsAll(spark, cfg.inputRoot +: cfg.extraInputRoots)
    val fileLimit = maxFilesPerTopic.getOrElse(Int.MaxValue)
    // per-topic failure isolation (reference SourceDataCleaner.kt:67-69
    // warn-and-continue): one unreadable topic must not block deletion
    // across the rest of the store. A failed topic's files stay put and
    // re-verify next iteration.
    val failedTopics = Seq.newBuilder[(String, String)]
    for ((topic, files) <- topics.toSeq.sortBy(_._1)) {
      val tCfg = cfg.topicConfig(topic)
      if (!tCfg.exclude && !tCfg.excludeFromDelete) try {
        val eligible = files
          .map(st => (st, TopicFiles.parseFilename(st.getPath.getName)))
          .collect { case (st, Some(r)) => (st, r) }
          .filter { case (st, r) =>
            st.getLen > 0 &&
            (now - st.getModificationTime) >= ageMs &&
            r.to.isDefined && // open-ended file = newest slice, keep
            ledger.contains(r.topic, r.partition, r.from, r.to.get + 1,
              Instant.ofEpochMilli(st.getModificationTime))
          }
          .take(fileLimit)
        if (eligible.nonEmpty) {
          val missingByFile = graft.util.Timer.time("cleaner.contains")(
            verifyTopic(spark, cfg, topic, eligible.map(_._1.getPath.toString)))
          eligible.foreach { case (st, r) =>
            val name = st.getPath.getName
            if (missingByFile.getOrElse(name, 0L) == 0L) {
              // resolve the FS per file: roots may live on different stores
              val removed = graft.util.Timer.time("cleaner.delete")(st.getPath
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
                .delete(st.getPath, false))
              // CHECK the boolean: a false return would report a surviving
              // file as deleted. The file stays eligible and re-verifies
              // next run, so a warn is the right severity.
              if (removed) deleted += st.getPath.toString
              else Console.err.println(
                s"[graft] cleaner could not delete verified file ${st.getPath} — will retry next run")
            } else {
              ledger.remove(r.topic, r.partition, r.from, r.to.get)
              rolledBack += st.getPath.toString
            }
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(
            s"[graft] cleaner failed on topic $topic: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failedTopics += topic -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    store match {
      case Some(s) => try s.set(cfg.ledger, ledger.toJson) finally s.close()
      case None => Restructure.saveLedger(fs, cfg.ledger, ledger)
    }
    CleanResult(deleted.result(), rolledBack.result(), failedTopics.result())
  }

  /** Count of not-yet-extracted records per source file name (0 = safe to
    * delete). Records without a time value count as extracted (A4 rule).
    * Each record's target is derived by the writer's own path function
    * ([[Restructure.binPaths]]: path plugins, template, bucket prefix); a
    * base bin's stored times are read from the base file and every
    * existing `_1…_N` attempt sibling.
    */
  private def verifyTopic(
      spark: SparkSession, cfg: RestructureJobConfig, topic: String,
      files: Seq[String]): Map[String, Long] = {
    val df = AvroRead.read(spark, files)
    val dataSchema = StructType(df.schema.fields.filterNot(f =>
      f.name == AvroRead.FileCol || f.name == AvroRead.PosCol))
    val (dfE, pathCol) = Restructure.binPaths(cfg, topic, df, dataSchema)

    // persisted: read twice (distinct target paths + the anti-join count)
    val source = dfE.select(col(AvroRead.FileCol).as("__src"),
      pathCol.as("__path"), TimeExtract.timeColumn(dataSchema).as("__time"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    import spark.implicits._
    // The stored time field and its render-back-to-epoch-seconds converter,
    // in the SAME priority order as TimeExtract's chain — so the value
    // compared against __time is the one __time was derived from.
    val chain: Seq[(String, Column => Column)] = Seq(
      "value.time" -> (c => c.cast(DoubleType)),
      "key.timeStart" -> (c => c.cast(DoubleType)),
      "key.start" -> (c => c.cast(DoubleType) / 1000.0), // stored millis
      "value.dateTime" -> (c => to_timestamp(regexp_replace(c, "Z$", "")).cast(DoubleType)),
      "value.date" -> (c => to_date(c).cast(TimestampType).cast(DoubleType)),
      "value.timeReceived" -> (c => c.cast(DoubleType)),
      "value.timeCompleted" -> (c => c.cast(DoubleType)))
    val leaves = graft.model.Flatten.leafPaths(dataSchema).map(_._1)
    val timeField = chain.flatMap { case (n, conv) =>
      leaves.find(_.equalsIgnoreCase(n)).map(_ -> conv)
    }.headOption

    // cleaner.cache = target-side metadata work (reference: TimestampFileCache
    // loading, cleaner/TimestampFileCache.kt:39-68): one probe row per base
    // bin with its existing (file, header) slots — the base and its attempt
    // siblings up to the first missing one. Every topic walks the siblings:
    // the eligible files' schema need not be the one the writer saw (a
    // batch that mixed in a map-typed schema version wrote attempt files).
    // An unreadable target is dropped: its records count as missing, so
    // the source file is kept.
    val outputRoot = cfg.outputRoot
    val ext = cfg.extension
    val needHeader = !cfg.zip && cfg.format != "json"
    val probed = Restructure.probeEach(spark, outputRoot,
        source.select(col("__path")).distinct().as[String]) { (pfs, p) =>
      // the reference's attempt loop (cleaner/TimestampExtractionCheck.kt)
      val stored = Iterator.from(0).map(i => Restructure.attemptPath(p, ext, i))
        .map(a => a -> new HPath(s"$outputRoot/$a")).takeWhile { case (_, full) => pfs.exists(full) }
        .flatMap { case (a, full) =>
          if (!needHeader) Some((a, ""))
          else Restructure.readHeaderLine(pfs, full).map(a -> _)
        }.toSeq
      if (stored.isEmpty) None else Some((p, stored))
    }

    // One chunk's stored (__path, __time) frame, each row keyed by its
    // BASE bin path. The scan construction is Restructure.existingBinFrames,
    // shared with the merge. A zip bin that fails to stream is simply
    // absent: its records count as missing. None = no readable target.
    val outFs = new HPath(outputRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def targetTimesFor(chunk: Seq[(String, Seq[(String, String)])],
        temps: scala.collection.mutable.Buffer[HPath]): Option[DataFrame] =
      timeField.filter(_ => chunk.nonEmpty).flatMap { case (name, conv) =>
        val (frames, _) = Restructure.existingBinFrames(spark, outFs, outputRoot,
          chunk.flatMap(_._2), cfg.format, None, cfg.zip, temps)
        val c =
          if (cfg.format == "json") graft.model.Flatten.leafColumn(name)
          else col(graft.model.Flatten.quote(name))
        val siblings = for ((base, stored) <- chunk; (a, _) <- stored if a != base)
          yield (a, base)
        frames.map(_.select(conv(c).as("__time"), col("__path"))).reduceOption(_ unionByName _)
          .map(_.join(broadcast(siblings.toDF("__path", "__base")), Seq("__path"), "left")
            .select(col("__time"), coalesce(col("__base"), col("__path")).as("__path"))
            .distinct())
      }

    // Missing-record counts are ADDITIVE across chunks: chunks partition
    // the bin space and every record belongs to exactly one bin path.
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val withTime = source.filter(col("__time").isNotNull)
    try Restructure.forEachExistingChunk(spark, outFs, cfg.mergeChunkBins, "cleaner.cache",
        withTime, probed) { (chunk, rows, temps) =>
      val missing = targetTimesFor(chunk, temps)
        .fold(rows)(t => rows.join(t, Seq("__path", "__time"), "left_anti"))
      // chunked fetch of the per-source-file verdicts (tiny agg rows)
      val it = missing.groupBy(col("__src")).count().toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        counts.update(r.getString(0), counts.getOrElse(r.getString(0), 0L) + r.getLong(1))
      }
    } finally source.unpersist(false)
    files.map(f => new HPath(f).getName).map(n => n -> counts.getOrElse(n, 0L)).toMap
  }
}
