package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.WinnowFingerprints.{GramHash, Md5Hash56, Xxhash64}
import graft.functions.TextFunctions
import graft.sources.Tables

/** The built-in higher-order-function formula of winnowing fingerprints —
  * the definition the codegen'd [[graft.expressions.WinnowFingerprints]]
  * kernel must reproduce bit for bit. Interpreted lambdas over the bound
  * token and gram-hash arrays; a reference, never an operator path. */
object WinnowReference {

  /** Engine-portable 56-bit gram hash: the first 14 hex chars of md5 as a
    * non-negative long. */
  def md5Hash56(g: Column): Column =
    conv(substring(md5(g), 1, 14), 16, 10).cast("long")

  def gramHash(h: GramHash): Column => Column = h match {
    case Md5Hash56 => md5Hash56
    case Xxhash64  => xxhash64(_)
  }

  def winnowFingerprints(text: Column, k: Int, w: Int, h: GramHash): Column =
    TextFunctions.bindOnce(TextFunctions.tokens(text)) { ts =>
      val n = size(ts)
      val grams = when(n < k, array(array_join(ts, " ")))
        .otherwise(transform(sequence(lit(0), n - lit(k)),
          i => array_join(slice(ts, i + lit(1), lit(k)), " ")))
      TextFunctions.bindOnce(transform(grams, gramHash(h))) { hs =>
        val nh = size(hs)
        val mins = when(nh < w, array(array_min(hs)))
          .otherwise(transform(sequence(lit(0), nh - lit(w)),
            i => array_min(slice(hs, i + lit(1), lit(w)))))
        array_sort(array_distinct(mins))
      }
    }
}

/** Equivalence of the winnowing kernel to [[WinnowReference]] for both
  * gram hashes, on the shipped documents, on generated token strings and
  * on the degenerate inputs, through both the codegen'd and the
  * interpreted evaluation paths. */
class WinnowFingerprintsSpec extends AnyFunSuite {

  private lazy val spark = TestSparkSession.spark

  /** Interpreted twin session: no whole-stage codegen and no generated
    * expression code, so `nullSafeEval` is what runs. */
  private lazy val interpreted = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  private val shapes = Seq((3, 4), (1, 1), (2, 3), (5, 2))

  /** Rows where kernel and reference differ (NULL-safe), for every shape and
    * both hashes; empty means bit-identical. */
  private def mismatches(docs: DataFrame): Seq[String] =
    for {
      (k, w) <- shapes
      h <- Seq(Md5Hash56, Xxhash64)
      r <- docs
        .select(col("text"),
          TextFunctions.winnowFingerprints(col("text"), k, w, h).as("kernel"),
          WinnowReference.winnowFingerprints(col("text"), k, w, h).as("reference"))
        .filter(!(col("kernel") <=> col("reference")))
        .limit(3).collect().toSeq
    } yield s"k=$k w=$w $h text=${r.get(0)} kernel=${r.get(1)} reference=${r.get(2)}"

  private def texts(s: org.apache.spark.sql.SparkSession, xs: Seq[String]): DataFrame = {
    import s.implicits._
    xs.toDF("text")
  }

  private val edgeCases = Seq(
    "", " ", "   ", "a", "a b", "a b c", "a b c d", "a b c d e f",
    " leading", "  two leading spaces here", "trailing ", "a  b   c\t\td\n\ne",
    "\ttab first and  repeated   gaps", "über naïve café résumé Ωμέγα",
    "日本語 の テキスト で 試す 文", "emoji 😀 🚀 ok 𝔘𝔫𝔦", "x " * 40,
    null)

  test("kernel equals the reference on the edge cases (codegen and interpreted)") {
    for (s <- Seq(spark, interpreted)) {
      val bad = mismatches(texts(s, edgeCases))
      assert(bad.isEmpty, bad.mkString("\n"))
    }
    // NULL text → NULL fingerprints; empty text → one fingerprint (the "" gram)
    val out = texts(spark, Seq(null, "")).select(TextFunctions.winnowFingerprints(col("text")))
      .collect().map(r => Option(r.getSeq[Long](0)))
    assert(out(0).isEmpty && out(1).map(_.size).contains(1))
  }

  test("kernel equals the reference on generated token strings") {
    val token = Gen.frequency(
      6 -> Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString)),
      2 -> Gen.oneOf("the", "a", "of", "and"),
      1 -> Gen.oneOf("é", "ü", "日本", "語", "😀", "Ωμ", "ก"),
      1 -> Gen.const(""))
    val gap = Gen.frequency(8 -> Gen.const(" "), 1 -> Gen.oneOf("  ", "\t", "\n", " \t "))
    val doc = for {
      n <- Gen.choose(0, 30)
      toks <- Gen.listOfN(n, token)
      gaps <- Gen.listOfN(n, gap)
      lead <- Gen.oneOf("", "", " ", "\t")
    } yield lead + toks.zip(gaps).map { case (t, g) => t + g }.mkString.stripSuffix(" ")
    for (seed <- Seq(1L, 2L, 3L)) {
      val batch = Gen.listOfN(150, doc).pureApply(Gen.Parameters.default, Seed(seed))
      for (s <- Seq(spark, interpreted)) {
        val bad = mismatches(texts(s, batch))
        assert(bad.isEmpty, s"seed $seed:\n" + bad.mkString("\n"))
      }
    }
  }

  test("kernel equals the reference on the sf0.01 documents") {
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val bad = mismatches(docs)
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
