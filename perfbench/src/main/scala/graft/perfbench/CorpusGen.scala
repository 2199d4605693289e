package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Size of the generated training-data corpus. */
final case class CorpusShape(docs: Int, embeddings: Int, events: Int, users: Int)

object CorpusShape {
  /** The measured sf0.1 table proportions (5,000 documents, 2,000
    * embeddings, 100,000 events from 1,500 users) scaled by `ratio`.
    */
  def sf01(ratio: Double): CorpusShape = CorpusShape(docs = (5000 * ratio).toInt,
    embeddings = (2000 * ratio).toInt, events = (100000 * ratio).toInt,
    users = math.max(1, (1500 * ratio).toInt))
}

/** Seeded generator of the operator-query corpus: `documents`,
  * `embeddings` and `events`, in the column layout `SparkEntry.queries`
  * reads (one `<table>.parquet` directory each).
  *
  * It follows the distributions measured on the sf0.1 test corpus (the
  * ones `graft.ScaleGen`'s scaladoc records), with its own seeded code:
  *  - documents: 10-100 tokens drawn uniformly from one shared 31-word
  *    vocabulary, so unrelated documents share shingles the way the base
  *    corpus does; ~5% are near-duplicates of a uniformly random earlier
  *    document with 8% of tokens substituted (jaccard >= 0.5), a constant
  *    per-document rate, so candidate pairs grow linearly with the corpus;
  *    language en 41% and four others ~15% each; 20 contiguous sources;
  *  - embeddings: 10 clusters of unit-normalized 64-dim vectors;
  *  - events: a 30-day stream on a jittered grid, value ~Exp(mean 50),
  *    five event types, `props` = {"k": 0..99}.
  */
object CorpusGen {
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "zh", "es", "fr", "de")

  private def rng(seed: Long, parts: Any*): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ parts.mkString("/").hashCode.toLong)

  private def token(r: SplittableRandom): String = Vocab(r.nextInt(Vocab.length))

  private def freshTokens(r: SplittableRandom): Array[String] =
    Array.fill(10 + r.nextInt(91))(token(r))

  /** Document texts, ids `idBase + (0 until n)`: ~5% are near-duplicates of
    * a uniformly random earlier document, with 8% of tokens substituted.
    */
  def documents(seed: Long, n: Int, idBase: Long = 0L): Array[(Long, String)] = {
    val toks = new Array[Array[String]](n)
    val r = rng(seed, "docs", idBase)
    for (i <- 0 until n) {
      toks(i) =
        if (i > 0 && r.nextDouble() < 0.05)
          toks(r.nextInt(i)).map(t => if (r.nextDouble() < 0.08) token(r) else t)
        else freshTokens(r)
    }
    toks.indices.map(i => (idBase + i, toks(i).mkString(" "))).toArray
  }

  /** Write the three tables under `dir`; returns `dir`. */
  def write(spark: SparkSession, dir: File, seed: Long, shape: CorpusShape): File = {
    val docs = documents(seed, shape.docs)
    val r = rng(seed, "meta")
    val docRows = docs.map { case (id, text) =>
      val lang = if (r.nextDouble() < 0.41) "en" else Langs(1 + r.nextInt(4))
      Row(id, text, lang, s"src${id * 20 / shape.docs}", text.length.toLong)
    }
    writeTable(spark, dir, "documents", docRows, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))

    val er = rng(seed, "emb")
    val centers = Array.fill(10, 64)(er.nextDouble() * 2 - 1)
    val embRows = (0 until shape.embeddings).map { i =>
      val label = er.nextInt(10)
      val raw = Array.tabulate(64)(k => centers(label)(k) + (er.nextDouble() * 2 - 1) * 0.5)
      val norm = math.sqrt(raw.map(x => x * x).sum)
      Row(i.toLong, raw.map(x => (x / norm).toFloat).toSeq, label)
    }.toArray
    writeTable(spark, dir, "embeddings", embRows, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))

    val vr = rng(seed, "events")
    val startMicros = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
    val gap = 30L * 86400 * 1000000 / shape.events
    val types = Array("view", "click", "purchase", "signup", "error")
    val evRows = (0 until shape.events).map { i =>
      val us = startMicros + i * gap + (vr.nextDouble() * gap).toLong
      Row(i.toLong,
        java.time.LocalDateTime.ofEpochSecond(us / 1000000, (us % 1000000).toInt * 1000,
          java.time.ZoneOffset.UTC),
        vr.nextInt(shape.users).toLong, types(vr.nextInt(types.length)),
        math.round(-math.log(1 - vr.nextDouble()) * 5000) / 100.0,
        s"""{"k": ${vr.nextInt(100)}}""")
    }.toArray
    writeTable(spark, dir, "events", evRows, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    dir
  }

  /** `<dir>/<name>.parquet/part-0000i.parquet`, four files: fixed names
    * and a fixed split keep the bytes a pure function of the seed.
    */
  private def writeTable(spark: SparkSession, dir: File, name: String, rows: Array[Row],
      schema: StructType): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4), schema)
      .write.mode("overwrite").option("compression", "snappy").parquet(tmp.getPath)
    val out = new File(dir, s"$name.parquet")
    out.mkdirs()
    tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath, new File(out, f"part-$i%05d.parquet").toPath)
      }
    Files.deleteTree(tmp)
  }

  /** Micro-batches for the streaming workload. Besides generated documents
    * each batch carries planted probes with known outcomes: documents of
    * tokens no other document uses (must survive), and exact copies of
    * such a document from an EARLIER batch (must be dropped by the
    * history probe).
    */
  final case class StreamBatch(id: Long, docs: Seq[(Long, String)],
      mustSurvive: Set[Long], mustDrop: Set[Long])

  def streamBatches(seed: Long, batches: Int, perBatch: Int): Seq[StreamBatch] = {
    val planted = math.max(2, perBatch / 50)
    val base = documents(seed, batches * (perBatch - 2 * planted), idBase = 1000000L)
    val r = rng(seed, "stream")
    val uniques = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var nextId = 5000000L
    (0 until batches).map { b =>
      val gen = base.slice(b * (perBatch - 2 * planted), (b + 1) * (perBatch - 2 * planted))
      val fresh = (0 until planted).map { _ =>
        val id = nextId; nextId += 1
        (id, Seq.tabulate(12 + r.nextInt(20))(j => s"z${id}t$j").mkString(" "))
      }
      // copies of distinct earlier uniques; none in the first batch
      val copies = if (uniques.isEmpty) Nil else {
        val picks = r.ints(planted.toLong, 0, uniques.size).toArray.distinct
        picks.toSeq.map { k => val id = nextId; nextId += 1; (id, uniques(k)._2) }
      }
      // each unique is copied at most once: drop the copied ones from the pool
      val copiedTexts = copies.map(_._2).toSet
      uniques.filterInPlace { case (_, t) => !copiedTexts(t) }
      uniques ++= fresh
      StreamBatch(b.toLong, r.shuffleLike(gen.toSeq ++ fresh ++ copies),
        fresh.map(_._1).toSet, copies.map(_._1).toSet)
    }
  }

  private implicit class Shuffle(r: SplittableRandom) {
    def shuffleLike[T](xs: Seq[T]): Seq[T] = {
      val a = xs.toArray[Any]
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq.asInstanceOf[Seq[T]]
    }
  }

  def batchFrame(spark: SparkSession, b: StreamBatch): DataFrame =
    spark.createDataFrame(b.docs.map { case (id, t) => Row(id, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
}
