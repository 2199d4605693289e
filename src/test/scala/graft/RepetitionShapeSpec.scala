package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** q_repetition's r19 kernel shape ([[SparkEntry.repetitionSignals]]) ≡
  * the declarative formulation it replaced: the mode frequency (aggregate
  * over the distinct set, re-filtering the token list per distinct token —
  * O(distinct·n)) must equal `array_max` over graft_elem_counts counts;
  * the bigram count must equal `greatest(n-1, 0)` of the materialized
  * bigram list; and the distinct-bigram count via
  * elemCounts(adjacentPairs) must equal `size(array_distinct(bigrams))`.
  * These identities carry the oracle-checked query, so they are pinned on
  * arbitrary token lists (repeats, empties, single tokens) — and on NULL
  * lists, where every signal must be NULL on both sides, as in the DuckDB
  * oracle.
  */
class RepetitionShapeSpec extends SparkSpec {
  import spark.implicits._

  // small alphabet → heavy repetition, the regime the mode frequency is for
  private val tokGen: Gen[String] = Gen.oneOf("a", "b", "c", "dd", "", "x y")
  private val arrGen: Gen[Option[List[String]]] = Gen.frequency(
    1 -> Gen.const(None),
    6 -> Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, tokGen)).map(Some(_)))

  test("property: kernel repetition signals ≡ declarative on any token list") {
    // always at least one NULL list, whatever the generator draws
    val prop = Prop.forAll(Gen.listOfN(8, arrGen)) { arrs =>
      val df = (None +: arrs).map(Tuple1(_)).toDF("ws")
        .select(col("ws").cast("array<string>").as("ws"))
      val ws = col("ws")
      // declarative references (the pre-r19 expressions, verbatim)
      val bg = when(size(ws) < 2, array().cast(ArrayType(StringType)))
        .otherwise(transform(sequence(lit(0), size(ws) - 2),
          i => concat(element_at(ws, i + 1), lit(" "), element_at(ws, i + 2))))
      val topFreqDecl = aggregate(array_distinct(ws), lit(0),
        (acc, tok) => greatest(acc, size(filter(ws, w => w === tok))))
      val decl = df.select(ws,
        size(ws).cast(LongType).as("d_tokens"),
        size(array_distinct(ws)).cast(LongType).as("d_distinct"),
        topFreqDecl.cast(LongType).as("d_top"),
        size(bg).cast(LongType).as("d_nbg"),
        size(array_distinct(bg)).cast(LongType).as("d_dbg"))
      val pairs = Seq("n_tokens" -> "d_tokens", "n_distinct_tokens" -> "d_distinct",
        "top_token_freq" -> "d_top", "n_bigrams" -> "d_nbg",
        "n_distinct_bigrams" -> "d_dbg")
      val got = SparkEntry.repetitionSignals(decl, "ws" +: pairs.map(_._2): _*)
        .collect()
      got.forall { r =>
        val ok = pairs.forall { case (k, d) =>
          val kv = r.get(r.fieldIndex(k))
          val dv = r.get(r.fieldIndex(d))
          kv == dv && (kv != null || r.isNullAt(r.fieldIndex("ws")))
        }
        if (!ok) Console.err.println(s"[repetition-fuzz] row=$r")
        ok
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(Seed(191121L)),
      prop)
    assert(res.passed, s"repetition shape fuzz failed: ${res.status}")
  }
}
