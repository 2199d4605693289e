package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.functions.GraftExpressions

/** Kernel ≡ declarative equivalence for the span-mask surgery expression:
  * [[GraftExpressions.MaskTokens]] must be element-identical to the
  * keep-index tree it replaces in TextDedup.maskSpansByFingerprints —
  * `transform(filter(sequence(1, n), i => !exists(starts, s => i >= s &&
  * i < s + w)), i => element_at(toks, i))` — on every shape: empty token
  * lists, empty/absent start sets, overlapping and adjacent windows,
  * out-of-range starts, null tokens, and NULL token lists, NULL start sets
  * and NULL start elements (where the declarative `!exists` is NULL and
  * `filter` drops every token). The kernel feeds the oracle-checked
  * q_mask_spans/q_decontam_mask results (masked_text via concat_ws and
  * n_masked_tokens via the size difference), so an element drift would
  * silently change both.
  */
class MaskTokensKernelSpec extends SparkSpec {
  import spark.implicits._

  private val tokenGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(6)),
    Gen.oneOf("", "a", "é中文", "tok tok", "\\", "\"", "0"),
    Gen.listOfN(3, Gen.choose(33.toChar, 126.toChar)).map(_.mkString))
  private val arrGen: Gen[Option[List[Option[String]]]] =
    Gen.frequency(
      9 -> Gen.chooseNum(0, 30).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(9 -> tokenGen.map(Some(_)), 1 -> Gen.const(None))))
        .map(Some(_)),
      1 -> Gen.const(None))
  // starts beyond the valid 1..n-w+1 range too — the kernel must clamp
  // exactly like the declarative exists() (positions outside [1, n] simply
  // cover nothing extra)
  private val startsGen: Gen[Option[List[Option[Int]]]] =
    Gen.frequency(
      8 -> Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n,
        Gen.frequency(12 -> Gen.chooseNum(-3, 40).map(Some(_)), 1 -> Gen.const(None))))
        .map(Some(_)),
      1 -> Gen.const(None))

  private def declarativeKept(toks: org.apache.spark.sql.Column,
      ms: org.apache.spark.sql.Column, w: Int): org.apache.spark.sql.Column = {
    val keptIdx = when(size(toks) > 0,
        filter(sequence(lit(1), size(toks)),
          i => !exists(ms, s => i >= s && i < s + w)))
      .otherwise(array().cast("array<int>"))
    transform(keptIdx, i => element_at(toks, i))
  }

  test("property: mask-tokens kernel ≡ declarative keep-index tree on any (toks, starts, w)") {
    val prop = Prop.forAll(Gen.listOfN(6, Gen.zip(arrGen, startsGen)),
        Gen.chooseNum(1, 9)) { (rows, w) =>
      val df = rows.map { case (a, s) => (a.map(_.map(_.orNull)), s) }
        .toDF("toks", "starts")
        .select(col("toks").cast("array<string>").as("toks"),
          col("starts").cast("array<int>").as("starts"))
      val got = df.select(
          GraftExpressions.maskTokens(col("toks"), col("starts"), w).as("k"),
          declarativeKept(col("toks"), col("starts"), w).as("d"))
        .collect()
      got.forall { r =>
        val k = Option(r.getSeq[String](0))
        val d = Option(r.getSeq[String](1))
        val ok = k == d
        if (!ok) Console.err.println(s"[mask-fuzz] w=$w\n  kernel=$k\n  declarative=$d")
        ok
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60).withInitialSeed(Seed(191119L)),
      prop)
    assert(res.passed, s"mask-tokens kernel fuzz failed: ${res.status}")
  }

  test("empty starts keeps every token; full coverage keeps none; empty toks stays empty") {
    val df = Seq(
        (1L, Seq("a", "b", "c", "d"), Seq.empty[Int]),
        (2L, Seq("a", "b", "c", "d"), Seq(1, 3)),
        (3L, Seq.empty[String], Seq(1)))
      .toDF("id", "toks", "starts")
    val rows = df.select(col("id"),
        GraftExpressions.maskTokens(col("toks"), col("starts"), 2).as("k"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[String](1) == Seq("a", "b", "c", "d"))
    assert(rows(1).getSeq[String](1).isEmpty) // windows [1,2] and [3,4] cover all
    assert(rows(2).getSeq[String](1).isEmpty)
  }
}
