package graft

import org.apache.spark.sql.SparkSession

import graft.jobs.{Cleaner, CliArgs, ConfigLoader, Restructure, Service}

/** CLI entry point — the reference's `radar-output-restructure` surface
  * (config/CommandLineArgs.kt) with its config layering
  * (Application.kt:214-217): YAML file → environment overrides
  * (`SOURCE_S3_*`, `TARGET_AZURE_*`, `REDIS_URI`, …) → command-line flags,
  * then validate.
  *
  * Usage: graft.Main [-F <config.yml>] [options] [<input_path> ...]
  * (see `CliArgs.usage`; a bare leading `<config.yml>` argument is also
  * accepted for compatibility with earlier rounds' invocation).
  */
object Main {
  def main(args: Array[String]): Unit = {
    // legacy form: first positional arg ending in .yml/.yaml is the config
    val argv = args.toSeq match {
      case head +: rest if head.endsWith(".yml") || head.endsWith(".yaml") =>
        Seq("-F", head) ++ rest.map {
          case "--service" => "-S" // legacy spellings of the reference flags
          case other => other
        }
      case other => other
    }
    val cli = CliArgs.parse(argv)
    if (cli.help) { println(CliArgs.usage); return }
    val configPath = cli.configFile.getOrElse("restructure.yml")
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(configPath)), "UTF-8")
    val loaded = ConfigLoader.load(yaml, sys.env, cli).validate()

    val builder = SparkSession.builder()
      .appName("graft-restructure")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    // local default; spark-submit --master overrides
    val spark = (if (sys.env.contains("MASTER")) builder
                 else builder.master(s"local[${Runtime.getRuntime.availableProcessors()}]"))
      .getOrCreate()
    loaded.hadoopConf.foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }
    // G6: instantiate enrichment-backed path plugins (e.g. `mp:`) now that a
    // session exists to broadcast their dimension tables
    val job = loaded.job.copy(pathPlugins = graft.paths.PathFormatterPlugin.fromNames(
      loaded.pathPluginNames, loaded.pathProperties))

    val cleanerAgeMs = loaded.cleanerAgeDays.toLong * 24 * 3600 * 1000
    if (loaded.serviceEnabled) {
      Service.runLoop(spark, job, Service.ServiceConfig(
        intervalMs = loaded.serviceIntervalSec * 1000,
        cleanerEnabled = loaded.cleanerEnabled,
        cleanerAgeMs = cleanerAgeMs,
        fullSyncIntervalMs = loaded.indexFullSyncMs,
        emptyDirSyncIntervalMs = loaded.indexEmptyDirSyncMs,
        restructureEnabled = loaded.workerEnabled,
        cleanerMaxFilesPerTopic = loaded.cleanerMaxFilesPerTopic))
    } else {
      if (loaded.workerEnabled) {
        val result = Restructure.run(spark, job)
        result.processedTopics.foreach { t =>
          println(s"[graft] ${t.topic}: ${t.files.size} files, ${t.records} records, ${t.bins.count} bins")
        }
        result.failedTopics.foreach { case (topic, err) =>
          Console.err.println(s"[graft] FAILED topic $topic: $err (will re-extract next run)")
        }
      }
      if (loaded.cleanerEnabled) {
        val c = Cleaner.run(spark, job, cleanerAgeMs, loaded.cleanerMaxFilesPerTopic)
        println(s"[graft] cleaner: deleted ${c.deleted.size}, rolled back ${c.rolledBack.size}")
        c.failedTopics.foreach { case (topic, err) =>
          Console.err.println(s"[graft] cleaner FAILED topic $topic: $err")
        }
      }
      println(s"[graft] timings ${graft.util.Timer.toJson}")
    }
    spark.stop()
  }
}
