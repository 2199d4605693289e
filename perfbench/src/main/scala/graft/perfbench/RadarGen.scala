package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Size of a generated Kafka-connector store. `records` is the cold
  * backlog; `newPerIteration` is what one service iteration lands.
  */
final case class RadarShape(
    records: Int, users: Int, hours: Int, partitions: Int,
    recordsPerFile: Int, redelivery: Double, newPerIteration: Int)

/** One closed source file as landed: `topic/partition=p/topic+p+from+to.avro`. */
final case class LandedFile(topic: String, partition: Int, from: Long, to: Long,
    path: File, records: Int)

/** Seeded generator of a RADAR-shaped Kafka-connector Avro store plus the
  * model the output checks compare against: for every output bin
  * (`project/user/topic/yyyyMMdd_HH00`) the number of DISTINCT records the
  * generator put there. Redelivered records are exact copies (same key and
  * value, next offset), so a deduplicating restructure must drop them.
  *
  * Volume is skewed like RADAR phone data (acceleration ≫ light > battery),
  * plus a small `questionnaire_response` topic whose `answers` array
  * varies in length — several CSV header shapes, so it takes the dynamic
  * (attempt-file) write path.
  */
final class RadarStore(val root: File, seed: Long, val shape: RadarShape) {
  import RadarStore._

  private val nextOffset = mutable.Map.empty[(String, Int), Long].withDefaultValue(0L)
  private val distinct = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val landed = mutable.ArrayBuffer.empty[LandedFile]
  // newest hour index with data; service iterations move it forward
  private var newestHour = shape.hours - 1

  def expectedBins: Map[String, Long] = distinct.toMap
  def files: Seq[LandedFile] = landed.toSeq

  /** The cold backlog: `shape.records` records spread over all hours. */
  def backlog(): Seq[LandedFile] = {
    val out = Seq.newBuilder[LandedFile]
    for (t <- Topics; p <- 0 until shape.partitions) {
      val n = perPartition(t, shape.records)
      val rnd = rng("backlog", t.name, p)
      val times = Array.fill(n)(BaseEpoch + rnd.nextDouble() * shape.hours * 3600.0).sorted
      times.grouped(shape.recordsPerFile).foreach(ts => out += writeFile(t, p, ts, rnd))
    }
    out.result()
  }

  /** One service iteration's arrivals: one closed file per (topic,
    * partition). Most records fall in the two newest hours, a fifth in a
    * new hour that this call opens.
    */
  def land(iteration: Int): Seq[LandedFile] = {
    newestHour += 1
    val out = Seq.newBuilder[LandedFile]
    for (t <- Topics; p <- 0 until shape.partitions) {
      val n = math.max(1, perPartition(t, shape.newPerIteration))
      val rnd = rng(s"land$iteration", t.name, p)
      val times = Array.fill(n) {
        val h = if (rnd.nextDouble() < 0.2) newestHour else newestHour - 1 - rnd.nextInt(2)
        BaseEpoch + (h + rnd.nextDouble()) * 3600.0
      }.sorted
      out += writeFile(t, p, times, rnd)
    }
    out.result()
  }

  private def perPartition(t: TopicSpec, total: Int): Int =
    math.round(total * t.share / shape.partitions).toInt

  private def rng(parts: Any*): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ parts.mkString("/").hashCode.toLong)

  private def writeFile(t: TopicSpec, p: Int, times: Array[Double],
      rnd: SplittableRandom): LandedFile = {
    // users map to partitions like a keyed Kafka producer
    val users = (0 until shape.users).filter(_ % shape.partitions == p)
    val recs = mutable.ArrayBuffer.empty[GenericRecord]
    times.foreach { time =>
      val u = if (users.nonEmpty) users(rnd.nextInt(users.size)) else p % shape.users
      val rec = t.record(u, time, rnd)
      recs += rec
      distinct(binKey(u, t.name, time)) += 1
      if (rnd.nextDouble() < shape.redelivery) recs += rec // exact redelivery
    }
    val from = nextOffset((t.name, p))
    val to = from + recs.size - 1
    nextOffset((t.name, p)) = to + 1
    val dir = new File(root, s"${t.name}/partition=$p")
    dir.mkdirs()
    val f = new File(dir, s"${t.name}+$p+$from+$to.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](t.schema))
    // a fixed sync marker keeps the bytes a pure function of the seed
    val sync = new Array[Byte](16)
    rng("sync", f.getName).nextBytes(sync)
    w.create(t.schema, new BufferedOutputStream(new FileOutputStream(f)), sync)
    try recs.foreach(w.append) finally w.close()
    val lf = LandedFile(t.name, p, from, to, f, recs.size)
    landed += lf
    lf
  }
}

object RadarStore {
  val BaseEpoch: Double = Instant.parse("2024-03-01T00:00:00Z").getEpochSecond.toDouble
  private val HourFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HH00").withZone(ZoneOffset.UTC)

  def project(u: Int): String = s"radar-p${u % 2}"
  def user(u: Int): String = f"u$u%04d"
  def binKey(u: Int, topic: String, time: Double): String =
    s"${project(u)}/${user(u)}/$topic/${HourFmt.format(Instant.ofEpochSecond(math.floor(time).toLong))}"

  private val KeySchema =
    """{"type":"record","name":"ObservationKey","namespace":"org.radarcns.kafka","fields":[
      |{"name":"projectId","type":["null","string"],"default":null},
      |{"name":"userId","type":"string"},{"name":"sourceId","type":"string"}]}""".stripMargin

  private def topicSchema(name: String, valueFields: String): Schema =
    new Schema.Parser().parse(
      s"""{"type":"record","name":"${name}_record","fields":[
         |{"name":"key","type":$KeySchema},
         |{"name":"value","type":{"type":"record","name":"${name}_value","fields":[
         |{"name":"time","type":"double"},$valueFields]}}]}""".stripMargin)

  final case class TopicSpec(name: String, share: Double, schema: Schema,
      fill: (GenericData.Record, Double, SplittableRandom) => Unit) {
    def record(u: Int, time: Double, rnd: SplittableRandom): GenericRecord = {
      val k = new GenericData.Record(schema.getField("key").schema)
      k.put("projectId", project(u)); k.put("userId", user(u)); k.put("sourceId", s"src-$u")
      val v = new GenericData.Record(schema.getField("value").schema)
      v.put("time", time)
      fill(v, time, rnd)
      val r = new GenericData.Record(schema)
      r.put("key", k); r.put("value", v)
      r
    }
  }

  // `time` is a uniform double, so two generated records are equal only
  // when one redelivers the other
  private def received(time: Double, r: SplittableRandom): Double = time + 0.1 + r.nextDouble()

  private val accel = topicSchema("android_phone_acceleration",
    """{"name":"timeReceived","type":"double"},{"name":"x","type":"float"},
      |{"name":"y","type":"float"},{"name":"z","type":"float"}""".stripMargin)
  private val light = topicSchema("android_phone_light",
    """{"name":"timeReceived","type":"double"},{"name":"light","type":"float"}""")
  private val battery = topicSchema("android_phone_battery_level",
    """{"name":"timeReceived","type":"double"},{"name":"batteryLevel","type":"float"},
      |{"name":"isPlugged","type":"boolean"},{"name":"status","type":"string"}""".stripMargin)
  private val questionnaire = topicSchema("questionnaire_response",
    """{"name":"timeCompleted","type":"double"},{"name":"name","type":"string"},
      |{"name":"version","type":"string"},
      |{"name":"answers","type":{"type":"array","items":{"type":"record","name":"Answer",
      |"fields":[{"name":"questionId","type":"string"},{"name":"value","type":"string"},
      |{"name":"startTime","type":"double"},{"name":"endTime","type":"double"}]}}}""".stripMargin)

  val Topics: Seq[TopicSpec] = Seq(
    TopicSpec("android_phone_acceleration", 0.60, accel, (v, t, r) => {
      v.put("timeReceived", received(t, r))
      v.put("x", (r.nextDouble() * 4 - 2).toFloat)
      v.put("y", (r.nextDouble() * 4 - 2).toFloat)
      v.put("z", (r.nextDouble() * 4 + 7).toFloat)
    }),
    TopicSpec("android_phone_light", 0.25, light, (v, t, r) => {
      v.put("timeReceived", received(t, r))
      v.put("light", (r.nextDouble() * 800).toFloat)
    }),
    TopicSpec("android_phone_battery_level", 0.14, battery, (v, t, r) => {
      v.put("timeReceived", received(t, r))
      v.put("batteryLevel", r.nextDouble().toFloat)
      v.put("isPlugged", r.nextBoolean())
      v.put("status", Seq("CHARGING", "DISCHARGING", "FULL")(r.nextInt(3)))
    }),
    TopicSpec("questionnaire_response", 0.01, questionnaire, (v, t, r) => {
      v.put("timeCompleted", received(t, r) + 60.0)
      v.put("name", Seq("phq8", "esm", "rses")(r.nextInt(3)))
      v.put("version", "v1")
      val itemSchema = questionnaire.getField("value").schema.getField("answers").schema
      val answers = new GenericData.Array[GenericData.Record](4, itemSchema)
      // 1..4 answers: four header shapes in one topic
      (0 to r.nextInt(4)).foreach { i =>
        val a = new GenericData.Record(itemSchema.getElementType)
        a.put("questionId", s"q$i"); a.put("value", s"a${r.nextInt(5)}")
        a.put("startTime", t + i * 10.0); a.put("endTime", t + i * 10.0 + 5.0)
        answers.add(a)
      }
      v.put("answers", answers)
    }))

  /** Output bin file name → base bin key: strips the extension and an
    * `_N` attempt suffix (`20240301_1300_2.csv.gz` → `20240301_1300`).
    */
  private val BinFile = "^(\\d{8}_\\d{4})(_(\\d+))?\\.csv(\\.gz)?$".r
  def baseBin(fileName: String): Option[(String, Boolean)] = fileName match {
    case BinFile(base, attempt, _, _) => Some((base, attempt != null))
    case _ => None
  }
}
