package graft.jobs

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.SparkSpec

class CleanerSpec extends SparkSpec {

  private val fixtures = Paths.get("/root/reference/src/integrationTest/resources")
  private val closedFile =
    "application_server_status/partition=1/application_server_status+1+0000000018+0000000020.avro"
  private val openFile =
    "application_server_status/partition=1/application_server_status+1+0000000021.avro"

  private def setup(): (Path, Path, RestructureJobConfig) = {
    val work = Files.createTempDirectory("graft-cleaner")
    val in = work.resolve("in")
    val out = work.resolve("out")
    Seq(closedFile, openFile).foreach { f =>
      Files.createDirectories(in.resolve(f).getParent)
      Files.copy(fixtures.resolve(f), in.resolve(f), StandardCopyOption.REPLACE_EXISTING)
    }
    val cfg = RestructureJobConfig(
      inputRoot = in.toString, outputRoot = out.toString,
      topics = Map("application_server_status" -> TopicJobConfig(
        pathTemplate = Some("${projectId}/${userId}/${topic}/${value:serverStatus}/${filename}"))))
    (in, out, cfg)
  }

  test("cleaner deletes verified closed-range file, keeps newest open-ended file") {
    val (in, _, cfg) = setup()
    Restructure.run(spark, cfg)
    val result = Cleaner.run(spark, cfg, ageMs = 0)
    assert(result.deleted.map(p => Paths.get(p).getFileName.toString) ==
      Seq("application_server_status+1+0000000018+0000000020.avro"))
    assert(result.rolledBack.isEmpty)
    assert(!Files.exists(in.resolve(closedFile)))
    assert(Files.exists(in.resolve(openFile)))
  }

  test("chunked target verification (mergeChunkBins=1) reaches the same delete/rollback verdicts") {
    // the fixture's records span several serverStatus bins, so chunk size 1
    // forces multiple per-chunk anti-join passes plus the no-target
    // remainder pass; verdicts must match the single-pass plan exactly
    val (in, _, cfg0) = setup()
    val cfg = cfg0.copy(mergeChunkBins = 1)
    Restructure.run(spark, cfg)
    val result = Cleaner.run(spark, cfg, ageMs = 0)
    assert(result.deleted.map(p => Paths.get(p).getFileName.toString) ==
      Seq("application_server_status+1+0000000018+0000000020.avro"))
    assert(result.rolledBack.isEmpty)
    assert(!Files.exists(in.resolve(closedFile)))
    assert(Files.exists(in.resolve(openFile)))
    // and a bin deleted out from under the cleaner rolls back, chunked too
    val (in2, out2, cfg2a) = setup()
    val cfg2 = cfg2a.copy(mergeChunkBins = 1)
    Restructure.run(spark, cfg2)
    import scala.jdk.CollectionConverters._
    Files.walk(out2).iterator().asScala
      .filter(p => p.toString.endsWith(".csv")).foreach(Files.delete)
    val r2 = Cleaner.run(spark, cfg2, ageMs = 0)
    assert(r2.deleted.isEmpty && r2.rolledBack.nonEmpty)
    assert(Files.exists(in2.resolve(closedFile)))
  }

  test("cleaner.maxFilesPerTopic caps deletions per iteration; next run takes the rest") {
    val (in, _, cfg) = setup()
    Restructure.run(spark, cfg)
    // cap 0: eligible file survives this iteration
    val capped = Cleaner.run(spark, cfg, ageMs = 0, maxFilesPerTopic = Some(0))
    assert(capped.deleted.isEmpty && Files.exists(in.resolve(closedFile)))
    // next iteration with headroom deletes it
    val next = Cleaner.run(spark, cfg, ageMs = 0, maxFilesPerTopic = Some(1))
    assert(next.deleted.size == 1 && !Files.exists(in.resolve(closedFile)))
  }

  test("verification round-trips EVERY time-field flavor of the extraction chain") {
    // TimeExtract's chain and the cleaner's render-back converter chain are
    // dual implementations — this sweep pins them per flavor: a drift in
    // any converter would leave records "missing" and the file undeleted
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    final case class Flavor(name: String, keyField: Option[(String, String)],
        valueField: Option[(String, String)], put: (GenericData.Record, GenericData.Record, Int) => Unit)
    val flavors = Seq(
      Flavor("value.time", None, Some(("time", "double")),
        (_, v, i) => v.put("time", 1.58021982e9 + i * 7200)),
      Flavor("key.timeStart", Some(("timeStart", "double")), None,
        (k, _, i) => k.put("timeStart", 1.58021982e9 + i * 7200)),
      Flavor("key.start", Some(("start", "long")), None,
        (k, _, i) => k.put("start", 1580219820000L + i * 7200000L)),
      Flavor("value.dateTime", None, Some(("dateTime", "string")),
        (_, v, i) => v.put("dateTime", f"2020-01-28T${10 + i}%02d:00:00Z")),
      Flavor("value.date", None, Some(("date", "string")),
        (_, v, i) => v.put("date", f"2020-01-${10 + i}%02d")),
      Flavor("value.timeReceived", None, Some(("timeReceived", "double")),
        (_, v, i) => v.put("timeReceived", 1.58021982e9 + i * 7200)),
      Flavor("value.timeCompleted", None, Some(("timeCompleted", "double")),
        (_, v, i) => v.put("timeCompleted", 1.58021982e9 + i * 7200)))
    flavors.foreach { fl =>
      val keyExtra = fl.keyField.fold("")(f => s""",{"name":"${f._1}","type":"${f._2}"}""")
      val valExtra = fl.valueField.fold("")(f => s""",{"name":"${f._1}","type":"${f._2}"}""")
      val schema = new Schema.Parser().parse(
        s"""{"type":"record","name":"R","fields":[
           |{"name":"key","type":{"type":"record","name":"K","fields":[
           |  {"name":"userId","type":"string"}$keyExtra]}},
           |{"name":"value","type":{"type":"record","name":"V","fields":[
           |  {"name":"x","type":"string"}$valExtra]}}]}""".stripMargin)
      val work = Files.createTempDirectory(s"graft-clnchain")
      val dir = work.resolve("in/t/partition=0")
      Files.createDirectories(dir)
      def write(name: String, is: Range): Unit = {
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
        w.create(schema, dir.resolve(name).toFile)
        is.foreach { i =>
          val k = new GenericData.Record(schema.getField("key").schema)
          k.put("userId", "u1")
          val v = new GenericData.Record(schema.getField("value").schema)
          v.put("x", s"r$i")
          fl.put(k, v, i)
          val r = new GenericData.Record(schema)
          r.put("key", k); r.put("value", v)
          w.append(r)
        }
        w.close()
      }
      write("t+0+0000000000+0000000002.avro", 0 until 3)
      write("t+0+0000000003+0000000005.avro", 3 until 6)
      val cfg = RestructureJobConfig(
        inputRoot = work.resolve("in").toString, outputRoot = work.resolve("out").toString)
      val run = Restructure.run(spark, cfg)
      assert(run.failedTopics.isEmpty, s"[${fl.name}] ${run.failedTopics}")
      val result = Cleaner.run(spark, cfg, ageMs = 0)
      assert(result.failedTopics.isEmpty, s"[${fl.name}] ${result.failedTopics}")
      assert(result.deleted.map(p => Paths.get(p).getFileName.toString) ==
        Seq("t+0+0000000000+0000000002.avro"),
        s"[${fl.name}] chain round-trip failed: deleted=${result.deleted} " +
          s"rolledBack=${result.rolledBack}")
    }
  }

  test("a topic whose source turned unreadable fails alone: others still delete") {
    // reference SourceDataCleaner.kt:67-69 warn-and-continue semantics
    val (in, _, cfg) = setup()
    val badClosed = in.resolve("bad_topic/partition=1/bad_topic+1+0000000018+0000000020.avro")
    val badOpen = in.resolve("bad_topic/partition=1/bad_topic+1+0000000021.avro")
    Files.createDirectories(badClosed.getParent)
    Files.copy(fixtures.resolve(closedFile), badClosed)
    Files.copy(fixtures.resolve(openFile), badOpen)
    Restructure.run(spark, cfg) // extracts both topics, ledger covers both
    // source rot: the extracted file is later corrupted in place; mtime kept
    // old so the ledger still considers it processed (eligible for deletion)
    Files.write(badClosed, "no longer an avro container".getBytes)
    badClosed.toFile.setLastModified(1000L)
    val result = Cleaner.run(spark, cfg, ageMs = 0)
    assert(result.deleted.map(p => Paths.get(p).getFileName.toString) ==
      Seq("application_server_status+1+0000000018+0000000020.avro"),
      s"good topic must still delete: ${result.deleted}")
    assert(result.failedTopics.map(_._1) == Seq("bad_topic"), s"${result.failedTopics}")
    assert(Files.exists(badClosed), "failed topic's files must stay put")
  }

  test("cleaner verifies gzip-compressed bins (header read through the decompressor)") {
    val (in, _, cfg0) = setup()
    val cfg = cfg0.copy(gzip = true)
    Restructure.run(spark, cfg)
    val result = Cleaner.run(spark, cfg, ageMs = 0)
    assert(result.rolledBack.isEmpty && result.deleted.nonEmpty)
    assert(!Files.exists(in.resolve(closedFile)))
  }

  test("cleaner verifies JSON-format output (typed leaf lookup, inference read)") {
    // the JSON verification branch resolves the stored time field as a
    // nested leaf over inferred JSON — previously untested; chunked too
    for (chunk <- Seq(1000000, 1)) {
      val (in, out, cfg0) = setup()
      val cfg = cfg0.copy(format = "json", mergeChunkBins = chunk)
      Restructure.run(spark, cfg)
      val result = Cleaner.run(spark, cfg, ageMs = 0)
      assert(result.rolledBack.isEmpty, s"chunk=$chunk: json bins unreadable during verification")
      assert(result.deleted.map(p => Paths.get(p).getFileName.toString) ==
        Seq("application_server_status+1+0000000018+0000000020.avro"), s"chunk=$chunk")
      assert(!Files.exists(in.resolve(closedFile)) && Files.exists(in.resolve(openFile)))
      // and a json bin deleted out from under the cleaner rolls back
      import scala.jdk.CollectionConverters._
      val (in2, out2, cfg2a) = setup()
      val cfg2 = cfg2a.copy(format = "json", mergeChunkBins = chunk)
      Restructure.run(spark, cfg2)
      Files.walk(out2).iterator().asScala
        .filter(p => p.toString.endsWith(".json") &&
          !p.getFileName.toString.startsWith("schema-") &&
          !p.getFileName.toString.startsWith("_")).foreach(Files.delete)
      val r2 = Cleaner.run(spark, cfg2, ageMs = 0)
      assert(r2.deleted.isEmpty && r2.rolledBack.nonEmpty, s"chunk=$chunk: $r2")
      assert(Files.exists(in2.resolve(closedFile)))
    }
  }

  test("cleaner verifies through zip bins (decompressed read)") {
    val (in, _, cfg0) = setup()
    val cfg = cfg0.copy(zip = true)
    Restructure.run(spark, cfg)
    val result = Cleaner.run(spark, cfg, ageMs = 0)
    assert(result.rolledBack.isEmpty, "zip bins must be readable during verification")
    assert(result.deleted.nonEmpty)
    assert(!Files.exists(in.resolve(closedFile)))
    // no unzip temp directories left behind on the output tree
    import scala.jdk.CollectionConverters._
    val outDir = java.nio.file.Paths.get(cfg.outputRoot)
    val leftovers = java.nio.file.Files.walk(outDir).iterator().asScala
      .filter(_.getFileName.toString.contains("graft-unzip")).toSeq
    assert(leftovers.isEmpty, s"unzip temps leaked: $leftovers")
  }

  test("cleaner verifies zip bins CHUNKED (mergeChunkBins=1): same verdicts, no temp leaks") {
    val (in, _, cfg0) = setup()
    val cfg = cfg0.copy(zip = true, mergeChunkBins = 1)
    Restructure.run(spark, cfg)
    val result = Cleaner.run(spark, cfg, ageMs = 0)
    assert(result.rolledBack.isEmpty && result.deleted.nonEmpty)
    assert(!Files.exists(in.resolve(closedFile)))
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.walk(java.nio.file.Paths.get(cfg.outputRoot))
      .iterator().asScala.filter(_.getFileName.toString.contains("graft-unzip")).toSeq
    assert(leftovers.isEmpty, s"unzip temps leaked: $leftovers")
  }

  test("verification converts key.start millis to seconds (priority chain parity)") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"R","fields":[
        |{"name":"key","type":{"type":"record","name":"K","fields":[
        |  {"name":"userId","type":"string"},{"name":"start","type":"long"}]}},
        |{"name":"value","type":{"type":"record","name":"V","fields":[
        |  {"name":"n","type":"int"}]}}]}""".stripMargin)
    val work = Files.createTempDirectory("graft-clean-ms")
    val dir = work.resolve("in/ms_topic/partition=0")
    Files.createDirectories(dir)
    def write(name: String, startMs: Long): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, dir.resolve(name).toFile)
      val k = new GenericData.Record(schema.getField("key").schema)
      k.put("userId", "u1"); k.put("start", startMs)
      val v = new GenericData.Record(schema.getField("value").schema)
      v.put("n", 1)
      val r = new GenericData.Record(schema)
      r.put("key", k); r.put("value", v)
      w.append(r); w.close()
    }
    write("ms_topic+0+0000000000+0000000000.avro", 1609581600000L) // 2021-01-02T10:00Z
    write("ms_topic+0+0000000001.avro", 1609581601000L)            // newest, kept
    val cfg = RestructureJobConfig(inputRoot = work.resolve("in").toString,
      outputRoot = work.resolve("out").toString)
    Restructure.run(spark, cfg)
    val result = Cleaner.run(spark, cfg, ageMs = 0)
    assert(result.rolledBack.isEmpty,
      "millis/seconds mismatch would make verification fail and roll back")
    assert(result.deleted.map(p => Paths.get(p).getFileName.toString) ==
      Seq("ms_topic+0+0000000000+0000000000.avro"))
  }

  test("failed verification rolls ledger back instead of deleting; re-run re-extracts") {
    val (in, out, cfg) = setup()
    val r1 = Restructure.run(spark, cfg)
    // corrupt the output: remove one bin file the records live in
    val bin = out.resolve(
      "STAGING_PROJECT/1543bc93-3c17-4381-89a5-c5d6272b827c/application_server_status/CONNECTED/20200128_1300.csv")
    Files.delete(bin)
    val result = Cleaner.run(spark, cfg, ageMs = 0)
    assert(result.deleted.isEmpty)
    assert(result.rolledBack.nonEmpty)
    assert(Files.exists(in.resolve(closedFile)))
    // rollback makes the file visible to restructure again
    val r2 = Restructure.run(spark, cfg)
    assert(r2.processedTopics.exists(_.files.exists(_.endsWith("0000000018+0000000020.avro"))))
    assert(Files.exists(bin))
  }

  // --- exactly-once across a clean, dedup OFF (the default) ---------------
  // Each case lands an older file, restructures, lands a newer file (same
  // hour bin, so the second run merges), restructures, cleans, and
  // restructures once more. The cleaner must find every record where the
  // writer put it: the older file is deleted, nothing rolls back, and the
  // last run re-extracts nothing — with dedup off a re-extraction would
  // append the older file's rows a second time.

  /** RADAR-shaped records; with `answers`, record i carries the map keys
    * `q0..q(i % 3)`, so a bin holding three consecutive records has three
    * header shapes (CSV attempt files `_1`, `_2`).
    */
  private def radarSchema(answers: Boolean) = {
    val answersField =
      if (answers) ",{\"name\":\"answers\",\"type\":{\"type\":\"map\",\"values\":\"int\"}}"
      else ""
    new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"R","fields":[
        |{"name":"key","type":{"type":"record","name":"K","fields":[
        |  {"name":"projectId","type":"string"},{"name":"userId","type":"string"},
        |  {"name":"sourceId","type":"string"}]}},
        |{"name":"value","type":{"type":"record","name":"V","fields":[
        |  {"name":"time","type":"double"},{"name":"status","type":"string"}$answersField
        |]}}]}""".stripMargin)
  }

  private def writeRadar(dir: Path, name: String, is: Range, answers: Boolean): Unit = {
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import scala.jdk.CollectionConverters._
    val schema = radarSchema(answers)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, dir.resolve(name).toFile)
    is.foreach { i =>
      val k = new GenericData.Record(schema.getField("key").schema)
      k.put("projectId", "p1"); k.put("userId", "u1"); k.put("sourceId", "s1")
      val v = new GenericData.Record(schema.getField("value").schema)
      v.put("time", 1.6095816e9 + i * 60) // 2021-01-02T10:00Z + i minutes
      v.put("status", s"st${i % 2}")
      if (answers) v.put("answers", (0 to i % 3).map(q => s"q$q" -> Int.box(i)).toMap.asJava)
      val r = new GenericData.Record(schema)
      r.put("key", k); r.put("value", v)
      w.append(r)
    }
    w.close()
  }

  private def csvFiles(out: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    Files.walk(out).iterator().asScala.filter(_.toString.endsWith(".csv")).toSeq.sorted
  }

  /** Every output line, tagged with its file: the multiset a re-append grows. */
  private def outputRows(out: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    csvFiles(out).flatMap(f => Files.readAllLines(f).asScala.map(l => s"${out.relativize(f)}|$l"))
      .sorted
  }

  /** `clean` deletes exactly `deleted` and rolls nothing back; one more
    * restructure then re-extracts nothing, the output rows are as they
    * were before the clean and the ledger is exactly `t/0: [0, 11]`.
    */
  private def assertCleanedExactlyOnce(label: String, cfg: RestructureJobConfig, out: Path,
      clean: => Cleaner.CleanResult, deleted: String): Unit = {
    val before = outputRows(out)
    assert(before.size == 12 + csvFiles(out).size, s"[$label] one line per record plus headers")
    val result = clean
    assert(result.failedTopics.isEmpty, s"[$label] ${result.failedTopics}")
    assert(result.rolledBack.isEmpty, s"[$label] verification missed stored records: $result")
    assert(result.deleted.map(p => Paths.get(p).getFileName.toString) == Seq(deleted), s"[$label]")

    val again = Restructure.run(spark, cfg)
    assert(again.processedTopics.isEmpty, s"[$label] re-extracted: ${again.processedTopics}")
    assert(outputRows(out) == before, s"[$label] output rows changed after the clean")
    val fs = new org.apache.hadoop.fs.Path(cfg.outputRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = Restructure.loadLedger(fs, cfg.ledger)
    assert(ledger.topicPartitions == Seq(("t", 0)), s"[$label] ${ledger.toJson}")
    assert(ledger("t", 0).intervals.map(r => (r._1, r._2)) == Seq((0L, 11L)),
      s"[$label] ${ledger.toJson}")
  }

  /** Runs the land/restructure/clean/restructure sequence on topic `t` and
    * returns the output's CSV files (relative), for the caller's routing
    * checks.
    */
  private def cleanExactlyOnce(label: String, answers: Boolean,
      mkCfg: (Path, Path) => RestructureJobConfig): Seq[Path] = {
    val work = Files.createTempDirectory(s"graft-clean-$label")
    val dir = work.resolve("in/t/partition=0")
    Files.createDirectories(dir)
    val out = work.resolve("out")
    val cfg = mkCfg(work.resolve("in"), out)
    assert(!cfg.dedup && cfg.topics.isEmpty, "these cases run with dedup off")
    val older = "t+0+0000000000+0000000005.avro"
    val newer = "t+0+0000000006+0000000011.avro"
    writeRadar(dir, older, 0 until 6, answers)
    assert(Restructure.run(spark, cfg).failedTopics.isEmpty, label)
    writeRadar(dir, newer, 6 until 12, answers)
    assert(Restructure.run(spark, cfg).failedTopics.isEmpty, label)

    assertCleanedExactlyOnce(label, cfg, out, Cleaner.run(spark, cfg, ageMs = 0), older)
    assert(!Files.exists(dir.resolve(older)) && Files.exists(dir.resolve(newer)))
    csvFiles(out).map(out.relativize)
  }

  test("dedup off: a dynamic-header bin's attempt files verify; no rollback, no re-append") {
    // two base bins (by status), each with three header shapes; chunk size
    // 1 takes the many-chunks branch of the probe loop as well
    for (chunk <- Seq(100000, 1)) {
      val files = cleanExactlyOnce(s"attempts$chunk", answers = true, (in, out) =>
        RestructureJobConfig(inputRoot = in.toString, outputRoot = out.toString,
          pathTemplate = "${projectId}/${userId}/${topic}/${value:status}/${filename}",
          mergeChunkBins = chunk))
      assert(files.map(_.toString) == Seq("st0", "st1").flatMap(st => Seq(
        s"p1/u1/t/$st/20210102_1000.csv", s"p1/u1/t/$st/20210102_1000_1.csv",
        s"p1/u1/t/$st/20210102_1000_2.csv")), s"chunk=$chunk: three header shapes per bin")
    }
  }

  test("dedup off: a batch mixing map and map-less schemas; the map-less file verifies alone") {
    // one restructure batch reads a (map field, offsets 0-3), b (no map
    // field, 4-7) and c (map field, 8-11) into one bin: a's three header
    // shapes take the base and `_1`, `_2`, b's map-less rows take `_3`.
    // Only b is eligible (a is too young, c is the newest), so the cleaner
    // reads a schema without the map field and must still walk the siblings.
    val work = Files.createTempDirectory("graft-clean-mixed")
    val dir = work.resolve("in/t/partition=0")
    Files.createDirectories(dir)
    val out = work.resolve("out")
    val cfg = RestructureJobConfig(inputRoot = work.resolve("in").toString,
      outputRoot = out.toString, pathTemplate = "${projectId}/${userId}/${topic}/${filename}")
    val b = "t+0+0000000004+0000000007.avro"
    writeRadar(dir, "t+0+0000000000+0000000003.avro", 0 until 4, answers = true)
    writeRadar(dir, b, 4 until 8, answers = false)
    writeRadar(dir, "t+0+0000000008+0000000011.avro", 8 until 12, answers = true)
    Files.setLastModifiedTime(dir.resolve(b),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 2L * 24 * 3600 * 1000))
    assert(Restructure.run(spark, cfg).failedTopics.isEmpty)
    assert(csvFiles(out).map(out.relativize(_).toString) == Seq("", "_1", "_2", "_3")
      .map(a => s"p1/u1/t/20210102_1000$a.csv"), "three map shapes, then the map-less one")
    assert(Files.readAllLines(out.resolve("p1/u1/t/20210102_1000_3.csv")).size == 5,
      "b's four rows and a header in the last attempt file")

    assertCleanedExactlyOnce("mixed", cfg, out, Cleaner.run(spark, cfg, ageMs = 3600L * 1000), b)
    assert(!Files.exists(dir.resolve(b)))
  }

  test("dedup off: bucket-routed bins (bucketTemplate) verify; no rollback, no re-append") {
    val files = cleanExactlyOnce("bucket", answers = false, (in, out) =>
      RestructureJobConfig(inputRoot = in.toString, outputRoot = out.toString,
        pathTemplate = "${projectId}/${userId}/${topic}/${value:status}/${filename}",
        bucketTemplate = Some("bucket-${value:status}")))
    assert(files.nonEmpty && files.forall(_.toString.startsWith("bucket-st")), s"$files")
  }

  test("dedup off: mp: plugin-routed bins (MpDimensionSource.Static) verify; no rollback, no re-append") {
    import graft.paths.{MpDimensionSource, MpPathFormatterPlugin}
    val sql = spark
    import sql.implicits._
    val projects = Seq(("p1", "org-A", Map.empty[String, String]))
      .toDF("id", "organization", "attributes")
    val subjects = Seq(("p1", "u1", "grpX", "ext-7", Map.empty[String, String]))
      .toDF("projectId", "id", "group", "externalId", "attributes")
    val plugin = new MpPathFormatterPlugin(new MpDimensionSource.Static(projects, subjects))
    val files = cleanExactlyOnce("mp", answers = false, (in, out) =>
      RestructureJobConfig(inputRoot = in.toString, outputRoot = out.toString,
        pathTemplate = "${mp:organization}/${mp:group}/${userId}/${topic}/${filename}",
        pathPlugins = Seq(plugin)))
    assert(files.nonEmpty && files.forall(_.toString.startsWith("org-A/grpX/u1/t/")), s"$files")
  }
}
