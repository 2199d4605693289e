package graft.jobs

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import graft.SparkSpec

/** §7.4-1: data-dependent map/array CSV columns and attempt-file grouping
  * (different flattened headers → `bin.csv`, `bin_1.csv`, …).
  */
class DynamicSchemaSpec extends SparkSpec {

  private val schemaJson =
    """{"type":"record","name":"Rec","fields":[
      |{"name":"key","type":{"type":"record","name":"K","fields":[
      |  {"name":"userId","type":"string"}]}},
      |{"name":"value","type":{"type":"record","name":"V","fields":[
      |  {"name":"time","type":"double"},
      |  {"name":"props","type":{"type":"map","values":"int"}},
      |  {"name":"arr","type":{"type":"array","items":"string"}}]}}]}""".stripMargin

  private def rec(schema: Schema, user: String, time: Double,
      props: Map[String, Int], arr: Seq[String]): GenericRecord = {
    val k = new GenericData.Record(schema.getField("key").schema)
    k.put("userId", user)
    val v = new GenericData.Record(schema.getField("value").schema)
    v.put("time", time)
    v.put("props", props.map { case (a, b) => a -> Int.box(b) }.asJava)
    v.put("arr", arr.asJava)
    val r = new GenericData.Record(schema)
    r.put("key", k); r.put("value", v)
    r
  }

  test("non-ASCII and newline-bearing map keys: append REUSES the attempt slot (UTF-8 + quote-aware header read)") {
    // a header column `value.props.é中` must round-trip through the
    // written file's header byte-for-byte, and one containing a quoted
    // newline must not truncate the read at the embedded \n — either bug
    // makes the attempt-reuse comparison fail, leaking `_1`, `_2`, …
    // attempt files on every append of an identical-schema batch
    val schema = new Schema.Parser().parse(schemaJson)
    val work = Files.createTempDirectory("graft-dyn-utf8")
    val dir = work.resolve("in/map_topic/partition=0")
    Files.createDirectories(dir)
    val t = 1.6095816e9
    def slice(name: String, vals: Map[String, Int]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new File(dir.toFile, name))
      w.append(rec(schema, "u1", t, vals, Seq("x")))
      w.close()
    }
    val keys = Map("é中" -> 1, "has\nnewline" -> 2, "com,ma" -> 3)
    slice("map_topic+0+0000000001+0000000001.avro", keys.map { case (k, _) => k -> 1 })
    val out = work.resolve("out")
    val cfg = RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = out.toString)
    Restructure.run(spark, cfg)
    // append an identical-shape slice: must merge into the SAME file
    slice("map_topic+0+0000000002+0000000002.avro", keys.map { case (k, _) => k -> 2 })
    Restructure.run(spark, cfg)
    val binDir = out.resolve("unknown-project/u1/map_topic")
    val files = Files.list(binDir).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith("schema-")).toSeq.sorted
    assert(files == Seq("20210102_1000.csv"),
      s"identical-header append leaked attempt files: $files")
    // both rows present, all three exotic columns intact
    val got = spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(binDir.resolve("20210102_1000.csv").toString)
    assert(got.count() == 2)
    assert(got.columns.toSet.exists(_.contains("é中")), s"mojibaked: ${got.columns.toSeq}")
    assert(got.columns.exists(_.contains("has\nnewline")))
  }

  test("map keys/array indices become columns; header mismatch goes to attempt file") {
    val schema = new Schema.Parser().parse(schemaJson)
    val work = Files.createTempDirectory("graft-dyn")
    val dir = work.resolve("in/map_topic/partition=0")
    Files.createDirectories(dir)
    val f = new File(dir.toFile, "map_topic+0+0000000001+0000000003.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    val t = 1.6095816E9 // 2021-01-02T10:00Z
    w.append(rec(schema, "u1", t, Map("a" -> 1, "b" -> 2), Seq("x", "y")))
    w.append(rec(schema, "u1", t, Map("a" -> 3, "b" -> 4), Seq("p", "q")))
    w.append(rec(schema, "u1", t, Map("c" -> 5), Seq("z")))
    w.close()

    val out = work.resolve("out")
    Restructure.run(spark, RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = out.toString))

    val base = out.resolve("unknown-project/u1/map_topic/20210102_1000.csv")
    val attempt = out.resolve("unknown-project/u1/map_topic/20210102_1000_1.csv")
    assert(Files.exists(base), "base attempt file missing")
    assert(Files.exists(attempt), "attempt _1 file missing")

    val baseLines = Files.readAllLines(base).asScala
    assert(baseLines.head ==
      "key.userId,value.time,value.props.a,value.props.b,value.arr.0,value.arr.1")
    assert(baseLines.size == 3)
    assert(baseLines(1) == "u1,1.6095816E9,1,2,x,y")

    val attemptLines = Files.readAllLines(attempt).asScala
    assert(attemptLines.head == "key.userId,value.time,value.props.c,value.arr.0")
    assert(attemptLines.size == 2)
    assert(attemptLines(1) == "u1,1.6095816E9,5,z")

    // append: a second run with a new file into the same bin must merge
    val work2 = Files.createTempDirectory("graft-dyn2")
    val dir2 = work2.resolve("in/map_topic/partition=0")
    Files.createDirectories(dir2)
    val f2 = new File(dir2.toFile, "map_topic+0+0000000004+0000000004.avro")
    val w2 = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w2.create(schema, f2)
    w2.append(rec(schema, "u1", t, Map("a" -> 7, "b" -> 8), Seq("m", "n")))
    w2.close()
    Restructure.run(spark, RestructureJobConfig(
      inputRoot = work2.resolve("in").toString, outputRoot = out.toString,
      ledgerPath = Some(out.resolve("_ledger2.json").toString)))
    val merged = Files.readAllLines(base).asScala
    assert(merged.size == 4, s"dynamic bin lost rows on append: ${merged.size}")
    assert(merged.exists(_.contains("7,8,m,n")))
    assert(merged.exists(_.contains("1,2,x,y")))

    // cross-run attempt stability: a run containing ONLY the "c"-shape
    // records must land in the existing _1 file (matching header), not
    // claim the base attempt
    val work3 = Files.createTempDirectory("graft-dyn3")
    val dir3 = work3.resolve("in/map_topic/partition=0")
    Files.createDirectories(dir3)
    val f3 = new File(dir3.toFile, "map_topic+0+0000000005+0000000005.avro")
    val w3 = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w3.create(schema, f3)
    w3.append(rec(schema, "u1", t, Map("c" -> 6), Seq("q")))
    w3.close()
    Restructure.run(spark, RestructureJobConfig(
      inputRoot = work3.resolve("in").toString, outputRoot = out.toString,
      ledgerPath = Some(out.resolve("_ledger3.json").toString)))
    val attempt2 = Files.readAllLines(attempt).asScala
    assert(attempt2.head == "key.userId,value.time,value.props.c,value.arr.0")
    assert(attempt2.size == 3, s"c-record did not merge into _1: ${attempt2.mkString("|")}")
    assert(attempt2.exists(_.contains("6,q")))
    // base file untouched by the c-only run
    assert(Files.readAllLines(base).asScala.size == 4)
  }

  test("map keys containing commas/quotes reuse their attempt file across runs") {
    val schema = new Schema.Parser().parse(schemaJson)
    val t = 1.6095816E9
    val out = Files.createTempDirectory("graft-dynquote-out")
    def runWith(n: Int, ledger: String): Unit = {
      val work = Files.createTempDirectory(s"graft-dynquote$n")
      val dir = work.resolve("in/map_topic/partition=0")
      Files.createDirectories(dir)
      val f = new File(dir.toFile, f"map_topic+0+$n%010d.avro")
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, f)
      // a map key with comma AND quote: the stored header quotes it, so the
      // attempt resolver must compare quoted-to-quoted
      w.append(rec(schema, "u1", t, Map("""x,y"z""" -> n), Seq("v")))
      w.close()
      Restructure.run(spark, RestructureJobConfig(
        inputRoot = work.resolve("in").toString, outputRoot = out.toString,
        ledgerPath = Some(out.resolve(ledger).toString)))
    }
    runWith(1, "_l1.json")
    runWith(2, "_l2.json")
    val binDir = out.resolve("unknown-project/u1/map_topic")
    val bins = Files.list(binDir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".csv")).toSeq.sorted
    assert(bins == Seq("20210102_1000.csv"),
      s"second run must merge into the same attempt file, got: $bins")
    val lines = Files.readAllLines(binDir.resolve("20210102_1000.csv")).asScala
    assert(lines.head == """key.userId,value.time,"value.props.x,y""z",value.arr.0""")
    assert(lines.size == 3, s"both runs' rows present: $lines")
  }

  test("dynamic topics honor dedup and bucket routing like static topics") {
    val schema = new Schema.Parser().parse(schemaJson)
    val work = Files.createTempDirectory("graft-dyndedup")
    val dir = work.resolve("in/map_topic/partition=0")
    Files.createDirectories(dir)
    val f = new File(dir.toFile, "map_topic+0+0000000001+0000000004.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    val t = 1.6095816E9
    w.append(rec(schema, "u1", t, Map("a" -> 1), Seq("x")))
    w.append(rec(schema, "u1", t, Map("a" -> 1), Seq("x"))) // exact duplicate
    w.append(rec(schema, "u1", t, Map("a" -> 2), Seq("y")))
    w.append(rec(schema, "u1", t, Map("a" -> 2), Seq("y"))) // exact duplicate
    w.close()

    val out = work.resolve("out")
    Restructure.run(spark, RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = out.toString,
      dedup = true, bucketTemplate = Some("radar-${projectId}")))

    val bin = out.resolve("radar-unknown-project/unknown-project/u1/map_topic/20210102_1000.csv")
    assert(Files.exists(bin), "bucket-prefixed dynamic bin missing")
    val lines = Files.readAllLines(bin).asScala
    assert(lines.head == "key.userId,value.time,value.props.a,value.arr.0")
    assert(lines.size == 3, s"dynamic dedup did not collapse duplicates: $lines")
  }

  test("many header shapes: source scanned once into cache, not once per shape") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.util.QueryExecutionListener

    val schema = new Schema.Parser().parse(schemaJson)
    val work = Files.createTempDirectory("graft-dynmany")
    val dir = work.resolve("in/map_topic/partition=0")
    Files.createDirectories(dir)
    val f = new File(dir.toFile, "map_topic+0+0000000001+0000000012.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    val t = 1.6095816E9
    // 12 records, each with a UNIQUE map-key set → 12 fingerprint groups,
    // 12 attempt files in the same bin
    (0 until 12).foreach(i => w.append(rec(schema, "u1", t, Map(s"k$i" -> i), Seq("x"))))
    w.close()

    // count executions of the DSv2 avro source scan (BatchScanExec). The
    // walker descends through AQE wrappers but NOT into InMemoryTableScan:
    // reads served from the persisted fingerprint frame must not count.
    def countScans(p: SparkPlan): Int = {
      val self = if (p.isInstanceOf[BatchScanExec]) 1 else 0
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      self + kids.map(countScans).sum
    }
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val queries = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        queries.incrementAndGet()
        scans.addAndGet(countScans(qe.executedPlan))
      }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = work.resolve("out")
    try {
      Restructure.run(spark, RestructureJobConfig(
        inputRoot = work.resolve("in").toString, outputRoot = out.toString))
      // listener events are delivered async: drain the bus before counting
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    val bin = out.resolve("unknown-project/u1/map_topic/20210102_1000.csv")
    assert(Files.exists(bin), "base bin missing")
    (1 until 12).foreach { i =>
      assert(Files.exists(out.resolve(s"unknown-project/u1/map_topic/20210102_1000_$i.csv")),
        s"attempt _$i missing")
    }
    assert(queries.get() >= 1, "listener never fired — counter not live")
    // the per-shape passes read the persisted fingerprint frame
    // (InMemoryTableScan — a leaf the walker does not descend into); the
    // one real source scan happens inside the cache materialization, which
    // is invisible to the listener. A regression to uncached per-group
    // filters would surface a visible BatchScan per header shape (≥12).
    val n = scans.get()
    assert(n <= 6, s"avro source scanned $n times for 12 header shapes — " +
      "per-shape passes are no longer served from the persisted frame")
  }

  test("NESTED dynamics flatten recursively: array<record>, map<record>, array<array>") {
    // reference CsvAvroDataConverter.kt:52-63 recurses through
    // RECORD/MAP/ARRAY alike: arr.0.p, arr.0.q, m.key.z, nest.0.0, …
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"Rec","fields":[
        |{"name":"key","type":{"type":"record","name":"K","fields":[
        |  {"name":"userId","type":"string"}]}},
        |{"name":"value","type":{"type":"record","name":"V","fields":[
        |  {"name":"time","type":"double"},
        |  {"name":"arr","type":{"type":"array","items":
        |    {"type":"record","name":"E","fields":[
        |      {"name":"p","type":"int"},{"name":"q","type":"string"}]}}},
        |  {"name":"m","type":{"type":"map","values":
        |    {"type":"record","name":"MV","fields":[
        |      {"name":"z","type":"double"}]}}},
        |  {"name":"nest","type":{"type":"array","items":
        |    {"type":"array","items":"int"}}}]}}]}""".stripMargin)
    val work = Files.createTempDirectory("graft-dynnest")
    val dir = work.resolve("in/nest_topic/partition=0")
    Files.createDirectories(dir)
    val f = new File(dir.toFile, "nest_topic+0+0000000001+0000000002.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    val t = 1.6095816E9
    def mk(user: String, arr: Seq[(Int, String)], m: Map[String, Double],
        nest: Seq[Seq[Int]]): GenericRecord = {
      val k = new GenericData.Record(schema.getField("key").schema)
      k.put("userId", user)
      val v = new GenericData.Record(schema.getField("value").schema)
      v.put("time", t)
      val eSchema = schema.getField("value").schema.getField("arr").schema.getElementType
      v.put("arr", arr.map { case (p, q) =>
        val e = new GenericData.Record(eSchema); e.put("p", p); e.put("q", q); e
      }.asJava)
      val mvSchema = schema.getField("value").schema.getField("m").schema.getValueType
      v.put("m", m.map { case (mk0, z) =>
        val mv = new GenericData.Record(mvSchema); mv.put("z", z); mk0 -> mv
      }.asJava)
      v.put("nest", nest.map(_.map(Int.box).asJava).asJava)
      val r = new GenericData.Record(schema)
      r.put("key", k); r.put("value", v)
      r
    }
    // both records share one shape -> ONE file, fully recursive header
    w.append(mk("u1", Seq((1, "a"), (2, "b")), Map("k1" -> 0.5), Seq(Seq(7, 8), Seq(9))))
    w.append(mk("u1", Seq((3, "c"), (4, "d")), Map("k1" -> 1.5), Seq(Seq(1, 2), Seq(3))))
    w.close()
    val out = work.resolve("out")
    val run = Restructure.run(spark, RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = out.toString))
    assert(run.failedTopics.isEmpty, run.failedTopics.toString)
    val bin = out.resolve("unknown-project/u1/nest_topic/20210102_1000.csv")
    assert(Files.exists(bin), "bin missing")
    val lines = Files.readAllLines(bin).asScala
    assert(lines.head ==
      "key.userId,value.time,value.arr.0.p,value.arr.0.q,value.arr.1.p,value.arr.1.q," +
        "value.m.k1.z,value.nest.0.0,value.nest.0.1,value.nest.1.0",
      s"recursive header diverged: ${lines.head}")
    assert(lines.tail.toSet == Set(
      "u1,1.6095816E9,1,a,2,b,0.5,7,8,9",
      "u1,1.6095816E9,3,c,4,d,1.5,1,2,3"), lines.tail.toString)
  }

  test("nested-shape drift goes to an attempt file; inner arity is part of the header identity") {
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"Rec","fields":[
        |{"name":"key","type":{"type":"record","name":"K","fields":[
        |  {"name":"userId","type":"string"}]}},
        |{"name":"value","type":{"type":"record","name":"V","fields":[
        |  {"name":"time","type":"double"},
        |  {"name":"nest","type":{"type":"array","items":
        |    {"type":"array","items":"int"}}}]}}]}""".stripMargin)
    val work = Files.createTempDirectory("graft-dyndrift")
    val dir = work.resolve("in/drift_topic/partition=0")
    Files.createDirectories(dir)
    val f = new File(dir.toFile, "drift_topic+0+0000000001+0000000002.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    val t = 1.6095816E9
    def mk(nest: Seq[Seq[Int]]): GenericRecord = {
      val k = new GenericData.Record(schema.getField("key").schema)
      k.put("userId", "u1")
      val v = new GenericData.Record(schema.getField("value").schema)
      v.put("time", t)
      v.put("nest", nest.map(_.map(Int.box).asJava).asJava)
      val r = new GenericData.Record(schema)
      r.put("key", k); r.put("value", v)
      r
    }
    // same OUTER arity, different INNER arity -> different headers
    w.append(mk(Seq(Seq(1, 2))))
    w.append(mk(Seq(Seq(5))))
    w.close()
    val out = work.resolve("out")
    Restructure.run(spark, RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = out.toString))
    val base = out.resolve("unknown-project/u1/drift_topic/20210102_1000.csv")
    val attempt = out.resolve("unknown-project/u1/drift_topic/20210102_1000_1.csv")
    assert(Files.exists(base) && Files.exists(attempt),
      s"expected two attempt files, found: base=${Files.exists(base)} attempt=${Files.exists(attempt)}")
    val baseLines = Files.readAllLines(base).asScala
    val attemptLines = Files.readAllLines(attempt).asScala
    val headers = Set(baseLines.head, attemptLines.head)
    assert(headers == Set(
      "key.userId,value.time,value.nest.0.0,value.nest.0.1",
      "key.userId,value.time,value.nest.0.0"), headers.toString)
  }

  test("map keys containing shape-grammar metacharacters round-trip (base64 escaping)") {
    // keys with = ; } { [ ] ( ) , : | would break a naive shape grammar —
    // the base64 key token must protect them end to end
    val schema = new Schema.Parser().parse(schemaJson)
    val work = Files.createTempDirectory("graft-dynmeta")
    val dir = work.resolve("in/meta_topic/partition=0")
    Files.createDirectories(dir)
    val f = new File(dir.toFile, "meta_topic+0+0000000001+0000000001.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    val t = 1.6095816E9
    w.append(rec(schema, "u1", t,
      Map("a=b" -> 1, "c;d" -> 2, "e}f{" -> 3, "g,h:i|j" -> 4, "ké中" -> 5), Seq("x")))
    w.close()
    val out = work.resolve("out")
    val run = Restructure.run(spark, RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = out.toString))
    assert(run.failedTopics.isEmpty, run.failedTopics.toString)
    val bin = out.resolve("unknown-project/u1/map_topic/20210102_1000.csv")
    val binMeta = out.resolve("unknown-project/u1/meta_topic/20210102_1000.csv")
    assert(Files.exists(binMeta), s"bin missing (map_topic leftover? ${Files.exists(bin)})")
    val lines = Files.readAllLines(binMeta).asScala
    // sorted keys; Spark's CSV-style quoting applies to header cells with commas
    assert(lines.head == "key.userId,value.time,value.props.a=b,value.props.c;d," +
      "value.props.e}f{,\"value.props.g,h:i|j\",value.props.ké中,value.arr.0",
      s"metachar header diverged: ${lines.head}")
    assert(lines(1) == "u1,1.6095816E9,1,2,3,4,5,x", lines(1))
  }

  test("an empty-string map key still produces its column (shape key-marker)") {
    // {"" -> v} must not share a shape with {} — the empty-keyed column
    // and its value would silently vanish
    val schema = new Schema.Parser().parse(schemaJson)
    val work = Files.createTempDirectory("graft-dynemptykey")
    val dir = work.resolve("in/ek_topic/partition=0")
    Files.createDirectories(dir)
    val f = new File(dir.toFile, "ek_topic+0+0000000001+0000000001.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    w.append(rec(schema, "u1", 1.6095816E9, Map("" -> 7), Seq("x")))
    w.close()
    val out = work.resolve("out")
    val run = Restructure.run(spark, RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = out.toString))
    assert(run.failedTopics.isEmpty, run.failedTopics.toString)
    val lines = Files.readAllLines(
      out.resolve("unknown-project/u1/ek_topic/20210102_1000.csv")).asScala
    assert(lines.head == "key.userId,value.time,value.props.,value.arr.0", lines.head)
    assert(lines(1) == "u1,1.6095816E9,7,x", lines(1))
  }

  test("header-shape count above the cap fails with an actionable error") {
    val schema = new Schema.Parser().parse(schemaJson)
    val work = Files.createTempDirectory("graft-dyncap")
    val dir = work.resolve("in/map_topic/partition=0")
    Files.createDirectories(dir)
    val f = new File(dir.toFile, "map_topic+0+0000000001+0000000064.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    val t = 1.6095816E9
    // 64 per-record-unique key sets → 64 distinct shapes, far above the cap:
    // the error must fire from the LIMITED (cap+1) collect, never from a
    // full materialization of the group table on the driver
    (0 until 64).foreach(i => w.append(rec(schema, "u1", t, Map(s"k$i" -> i), Seq("x"))))
    w.close()

    val out = work.resolve("out")
    // per-topic failure isolation: the cap error lands in failedTopics with
    // the actionable message (the run itself continues, reference
    // RadarKafkaRestructure.kt:100-103), and nothing commits for the topic
    val result = Restructure.run(spark, RestructureJobConfig(
      inputRoot = work.resolve("in").toString, outputRoot = out.toString,
      maxSchemaFingerprints = 3))
    assert(result.processedTopics.isEmpty)
    val (topic, msg) = result.failedTopics match {
      case Seq(one) => one
      case other => fail(s"expected exactly one failed topic, got $other")
    }
    assert(topic == "map_topic")
    assert(msg.contains("more than 3 distinct") && msg.contains("cap 3") &&
      msg.contains("maxSchemaFingerprints"),
      s"expected an actionable cap error, got: $msg")
    assert(!result.ledger.contains("map_topic", 0, 1, 64, java.time.Instant.EPOCH),
      "failed topic must not commit to the ledger")
    // the cap throw must not leak the topic's cached batch into the
    // surviving run (the require sits inside the unpersist try/finally)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"cap failure leaked cached RDDs: ${spark.sparkContext.getPersistentRDDs.keySet}")
  }
}
