package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.jobs.Restructure

/** Proves the benchmark's own machinery: generators are pure functions of
  * the seed, and every output check fails on a planted fault. Each
  * assertion is one attempted operation; a failed assertion is a failure.
  */
object SelfTest {
  private val Tiny = RadarShape(records = 3000, users = 6, hours = 4, partitions = 2,
    recordsPerFile = 400, redelivery = 0.05, newPerIteration = 200)

  def run(spark: SparkSession, run: Run): Unit = {
    def expect(what: String, ok: Boolean): Unit = run.op(if (ok) Nil else Seq(s"selftest: $what"))
    def dir(n: String): File = { val d = new File(run.work, n); d.mkdirs(); d }

    // same seed → byte-identical trees; another seed → different trees
    def store(n: String, seed: Long): RadarStore = {
      val s = new RadarStore(dir(n), seed, Tiny); s.backlog(); s.land(1); s
    }
    val (a, b, c) = (store("s-a", 7), store("s-b", 7), store("s-c", 8))
    expect("same seed, same source tree", Files.treeDigest(a.root) == Files.treeDigest(b.root))
    expect("other seed, other source tree", Files.treeDigest(a.root) != Files.treeDigest(c.root))
    val small = CorpusShape(docs = 300, embeddings = 100, events = 2000, users = 50)
    val (ca, cb, cc) = (CorpusGen.write(spark, dir("c-a"), 7, small),
      CorpusGen.write(spark, dir("c-b"), 7, small), CorpusGen.write(spark, dir("c-c"), 8, small))
    expect("same seed, same corpus files", Files.treeDigest(ca) == Files.treeDigest(cb))
    expect("other seed, other corpus files", Files.treeDigest(ca) != Files.treeDigest(cc))
    expect("same seed, same stream batches",
      CorpusGen.streamBatches(7, 3, 100) == CorpusGen.streamBatches(7, 3, 100))
    expect("other seed, other stream batches",
      CorpusGen.streamBatches(7, 3, 100) != CorpusGen.streamBatches(8, 3, 100))

    // restructure checks pass on real output, fail on planted faults
    val out = dir("s-out")
    val cfg = graft.jobs.RestructureJobConfig(inputRoot = a.root.getPath,
      outputRoot = out.getPath, dedup = true)
    Restructure.run(spark, cfg)
    val expected = a.expectedBins
    expect("restructure output passes the bin check",
      Checks.binsMatch(Checks.scanBins(out), expected).isEmpty)
    expect("ledger check passes", Checks.ledgerCovers(new File(cfg.ledger), a.files).isEmpty)
    val bins = Files.walk(out).filter(f => RadarStore.baseBin(f.getName).isDefined)
    val victim = bins.find(f => Checks.dataRows(f) >= 2).get
    val lines = java.nio.file.Files.readAllLines(victim.toPath)
    java.nio.file.Files.write(victim.toPath, lines.subList(0, lines.size - 1))
    expect("one deleted output row fails the bin check",
      Checks.binsMatch(Checks.scanBins(out), expected).nonEmpty)
    java.nio.file.Files.write(victim.toPath, lines)
    val sidecar = Files.walk(out).find(_.getName.startsWith("schema-")).get
    val sidecarBytes = java.nio.file.Files.readAllBytes(sidecar.toPath)
    sidecar.delete()
    expect("a missing schema sidecar fails the bin check",
      Checks.binsMatch(Checks.scanBins(out), expected).nonEmpty)
    java.nio.file.Files.write(sidecar.toPath, sidecarBytes)
    expect("restored output passes again", Checks.binsMatch(Checks.scanBins(out), expected).isEmpty)
    val ledger = new File(cfg.ledger)
    val json = new String(java.nio.file.Files.readAllBytes(ledger.toPath), "UTF-8")
    java.nio.file.Files.write(ledger.toPath, json.replaceFirst("\"from\":0,", "\"from\":1,").getBytes("UTF-8"))
    expect("a ledger gap fails the ledger check", Checks.ledgerCovers(ledger, a.files).nonEmpty)
    expect("newest files present pass the cleaner check", Checks.newestKept(a.files).isEmpty)
    Checks.newestPerPartition(a.files).head.path.delete()
    expect("a deleted newest file fails the cleaner check", Checks.newestKept(a.files).nonEmpty)

    // stream checks
    val sb = CorpusGen.streamBatches(7, 2, 100)(1)
    val all = sb.docs.map(_._1).toSet
    expect("stream batch plants copies and uniques", sb.mustDrop.nonEmpty && sb.mustSurvive.nonEmpty)
    expect("correct survivors pass", Checks.streamOutcome(sb, all -- sb.mustDrop).isEmpty)
    expect("a surviving copy fails", Checks.streamOutcome(sb, all).nonEmpty)
    expect("a dropped unique fails",
      Checks.streamOutcome(sb, all -- sb.mustDrop - sb.mustSurvive.head).nonEmpty)

    // query results for the oracle compare; run.py perturbs one and expects
    // the compare to fail
    val results = dir("q-results")
    val qs = Seq("q_asof_join", "q_repetition")
    qs.foreach(q => SparkEntry.queries(q)(spark, ca.getPath).coalesce(1).write.mode("overwrite")
      .parquet(new File(results, q).getPath))
    val sql = new File(run.work, "oracle_sql.json")
    java.nio.file.Files.write(sql.toPath, qs.map(q =>
      s"${Json.q(q)}: ${Json.q(SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}").getBytes("UTF-8"))
    run.oracle = Some((ca, results, sql))
  }
}
