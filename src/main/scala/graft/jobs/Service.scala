package graft.jobs

import org.apache.spark.sql.SparkSession

/** Service mode (§3.3 of SURVEY.md): fixed-interval conflated job loop —
  * restructure and cleaner never overlap (the reference serializes them via
  * a shared mutex, worker/Job.kt:26-49; a single driver loop gives the same
  * guarantee). Errors are caught and logged per iteration; the loop never
  * dies.
  */
object Service {

  final case class ServiceConfig(
      intervalMs: Long = 300000L,            // service.interval default 300 s
      cleanerEnabled: Boolean = false,
      cleanerAgeMs: Long = 7L * 24 * 3600 * 1000,
      // source.index.fullSyncInterval. Default 0 = fresh listing every
      // iteration (no staleness); set higher only when listing cost
      // dominates and up-to-interval-delayed pickup is acceptable.
      fullSyncIntervalMs: Long = 0L,
      // source.index.emptyDirectorySyncInterval (StorageIndexConfig.kt)
      emptyDirSyncIntervalMs: Long = 900000L,
      // worker.enable / --no-restructure: cleaner-only service loops
      restructureEnabled: Boolean = true,
      // cleaner.maxFilesPerTopic per iteration
      cleanerMaxFilesPerTopic: Option[Int] = None,
      maxIterations: Option[Int] = None)     // bounded loops for tests

  def runLoop(spark: SparkSession, cfg: RestructureJobConfig, svc: ServiceConfig): Unit = {
    // S10: cached source listing between iterations, slow full-resync
    // cadence — one index per input root, topic maps merged
    val indexes = try {
      (cfg.inputRoot +: cfg.extraInputRoots).map { root =>
        val inFs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        new graft.sources.StorageIndex(inFs, root,
          svc.fullSyncIntervalMs, svc.emptyDirSyncIntervalMs)
      }
    } catch { case _: Exception => Nil }
    def mergedTopics(): Map[String, Seq[org.apache.hadoop.fs.FileStatus]] =
      indexes.map(_.topics()).reduce { (a, b) =>
        (a.keySet ++ b.keySet).iterator.map { t =>
          t -> (a.getOrElse(t, Nil) ++ b.getOrElse(t, Nil))
        }.toMap
      }
    var iter = 0
    while (svc.maxIterations.forall(iter < _)) {
      val t0 = System.currentTimeMillis()
      graft.util.Timer.reset()
      try {
        if (svc.restructureEnabled)
          Restructure.run(spark, cfg,
            if (indexes.isEmpty) None else Some(mergedTopics()))
        if (svc.cleanerEnabled) {
          Cleaner.run(spark, cfg, svc.cleanerAgeMs, svc.cleanerMaxFilesPerTopic)
          indexes.foreach(_.invalidate()) // deletes change the tree
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[graft-service] iteration $iter failed: ${e.getMessage}")
      }
      println(s"[graft] timings ${graft.util.Timer.toJson}")
      iter += 1
      if (svc.maxIterations.forall(iter < _)) {
        val elapsed = System.currentTimeMillis() - t0
        val sleep = svc.intervalMs - elapsed
        if (sleep > 0) Thread.sleep(sleep) // conflated: no overlap, no backlog
      }
    }
  }
}
