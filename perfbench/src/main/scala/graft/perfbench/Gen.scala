package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table the library sees is produced here
  * from the run's seed alone and written as parquet into the run's work
  * directory, then read back through `graft.sources.Tables`. The shapes
  * follow the sf0.1 test data (FIXTURES.md §2: the TPC-H star,
  * and `documents` as whitespace-token text with lang and source), so the
  * same seed always gives the same inputs and nothing outside the checkout
  * is read. */
object Gen {

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A generated text corpus and its planted near-duplicates (copy -> original). */
  final case class Docs(docs: IndexedSeq[Doc], nearDupOf: Map[Long, Long])

  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "zh", "es", "fr", "de")
  val NumSources = 20

  /** Zipf-distributed pseudo-words over a seeded vocabulary. */
  final class Words(seed: Long, vocabSize: Int = 3000, exponent: Double = 0.9) {
    private val syllables = IndexedSeq("ka", "ro", "mi", "tu", "sel", "dan", "or", "ve",
      "li", "pa", "zen", "qu", "ix", "bo", "ne", "str", "ul", "fa", "gri", "mo")
    private val vocab: IndexedSeq[String] = {
      val r = new SplittableRandom(seed)
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < vocabSize)
        seen += Iterator.fill(1 + r.nextInt(3))(syllables(r.nextInt(syllables.size))).mkString
      seen.toIndexedSeq
    }
    private val cdf: Array[Double] = {
      val w = (1 to vocabSize).map(i => 1.0 / math.pow(i, exponent))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def word(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocabSize - 1))
    }
    def tokens(r: SplittableRandom, n: Int): IndexedSeq[String] = IndexedSeq.fill(n)(word(r))
  }

  private def meta(r: SplittableRandom): (String, String) =
    (Langs(r.nextInt(Langs.size)), s"src${r.nextInt(NumSources)}")

  /** Generates `n` documents with ids `idBase until idBase + n` in arrival
    * order. A `nearDupShare` of them are copies of an earlier ordinary doc
    * of at least 40 tokens with one token replaced (3-shingle Jaccard above
    * 0.8), a `contamShare` carry a 25-token span of one `benchmark` doc,
    * and a `lowShare` are too short or a repeated bigram, for the quality
    * gate. The rest are 20–120 Zipf tokens. */
  def docs(seed: Long, n: Int, idBase: Long, nearDupShare: Double, contamShare: Double,
      lowShare: Double, benchmark: IndexedSeq[Doc]): Docs = {
    val words = new Words(seed)
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val out = mutable.ArrayBuffer.empty[Doc]
    val eligible = mutable.ArrayBuffer.empty[Int] // indices of ordinary docs ≥ 40 tokens
    val nearDupOf = mutable.HashMap.empty[Long, Long]
    for (i <- 0 until n) {
      val id = idBase + i
      val (lang, source) = meta(r)
      val u = r.nextDouble()
      val text =
        if (u < nearDupShare && eligible.nonEmpty) {
          val orig = out(eligible(r.nextInt(eligible.size)))
          val toks = orig.text.split(' ')
          toks(r.nextInt(toks.length)) = words.word(r)
          nearDupOf(id) = orig.id
          toks.mkString(" ")
        } else if (u < nearDupShare + contamShare && benchmark.nonEmpty) {
          val body = words.tokens(r, 20 + r.nextInt(60))
          val src = benchmark(r.nextInt(benchmark.size)).text.split(' ')
          val at = r.nextInt(math.max(1, src.length - 25))
          val span = src.slice(at, at + 25)
          val pos = r.nextInt(body.size + 1)
          ((body.take(pos) ++ span) ++ body.drop(pos)).mkString(" ")
        } else if (u < nearDupShare + contamShare + lowShare) {
          if (r.nextBoolean()) words.tokens(r, 1 + r.nextInt(3)).mkString(" ")
          else Seq.fill(15)(s"${words.word(r)} ${words.word(r)}").mkString(" ")
        } else {
          val len = 20 + r.nextInt(101)
          if (len >= 40) eligible += i
          words.tokens(r, len).mkString(" ")
        }
      out += Doc(id, text, lang, source)
    }
    Docs(out.toIndexedSeq, nearDupOf.toMap)
  }

  /** Ordinary documents only: the benchmark slice and the LM reference set. */
  def plainDocs(seed: Long, n: Int, idBase: Long): IndexedSeq[Doc] =
    docs(seed, n, idBase, 0.0, 0.0, 0.0, IndexedSeq.empty).docs

  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------- TPC-H star

  /** Writes the sf0.1-sized TPC-H star (nation, supplier, customer, part,
    * orders, lineitem) under `dir`. Columns are hash functions of
    * (seed, row id), so the tables do not depend on partitioning. */
  def writeTpch(spark: SparkSession, seed: Long, dir: String, partitions: Int): Unit = {
    def h(salt: Int, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    def uni(salt: Int, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
    def frac(salt: Int, cs: Column*): Column =
      pmod(h(salt, cs: _*), lit(1000003L)).cast("double") / 1000003.0
    def pick(salt: Int, xs: Seq[String], cs: Column*): Column =
      element_at(array(xs.map(lit): _*), (uni(salt, xs.size.toLong, cs: _*) + 1).cast("int"))
    def range(n: Long): DataFrame = spark.range(0, n, 1, partitions).toDF()
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    val nSupp = 1000L; val nCust = 15000L; val nPart = 20000L; val nOrders = 150000L

    write("nation", spark.range(0, 25, 1, 1).select(
      id.cast("int").as("n_nationkey"), concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    write("supplier", range(nSupp).select(
      (id + 1).as("s_suppkey"), concat(lit("Supplier#"), id + 1).as("s_name"),
      uni(1, 25, id).cast("int").as("s_nationkey"),
      (frac(2, id) * 11000.0 - 1000.0).as("s_acctbal")))
    write("customer", range(nCust).select(
      (id + 1).as("c_custkey"), concat(lit("Customer#"), id + 1).as("c_name"),
      uni(3, 25, id).cast("int").as("c_nationkey"),
      (frac(4, id) * 11000.0 - 1000.0).as("c_acctbal"),
      pick(5, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment")))
    write("part", range(nPart).select(
      (id + 1).as("p_partkey"), concat(lit("part "), id + 1).as("p_name"),
      concat(lit("Brand#"), uni(6, 5, id) + 1, uni(7, 5, id) + 1).as("p_brand"),
      pick(8, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"), id).as("p_type"),
      (uni(9, 50, id) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0 + frac(10, id)).as("p_retailprice")))
    // order dates span 1992-01-01 plus up to 2400 days
    val orderDay = uni(11, 2400, id)
    def day(d: Column): Column = timestamp_seconds(lit(694224000L) + d * 86400L)
    write("orders", range(nOrders).select(
      (id + 1).as("o_orderkey"), (uni(12, nCust, id) + 1).as("o_custkey"),
      pick(13, Seq("F", "O", "P"), id).as("o_orderstatus"),
      (frac(14, id) * 500000.0 + 1000.0).as("o_totalprice"),
      day(orderDay).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority")))
    // 1–7 lines per order, about 600k lines in all
    val lines = range(nOrders)
      .select(id, orderDay.as("od"), explode(sequence(lit(1), (uni(16, 7, id) + 1).cast("int"))).as("ln"))
    val ln = col("ln")
    val partKey = uni(17, nPart, id, ln) + 1
    val qty = (uni(19, 50, id, ln) + 1).cast("double")
    write("lineitem", lines.select(
      (id + 1).as("l_orderkey"), partKey.as("l_partkey"),
      (uni(18, nSupp, id, ln) + 1).as("l_suppkey"), ln.as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (lit(900.0) + ((partKey - 1) % 1000) / 10.0) + frac(20, id, ln)).as("l_extendedprice"),
      (uni(21, 11, id, ln) / 100.0).as("l_discount"),
      (uni(22, 9, id, ln) / 100.0).as("l_tax"),
      pick(23, Seq("A", "N", "R"), id, ln).as("l_returnflag"),
      pick(24, Seq("O", "F"), id, ln).as("l_linestatus"),
      day(col("od") + uni(25, 121, id, ln) + 1).as("l_shipdate")))
  }

  val TpchTables: Seq[String] = Seq("nation", "supplier", "customer", "part", "orders", "lineitem")

  /** Order-insensitive content hash of a loaded table: row count and the
    * sum of per-row hashes (kept below 2^31 so the sum cannot overflow). */
  def fingerprint(df: DataFrame): String = {
    val r = df.select(count(lit(1)), sum(pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(2147483647L))))
      .head()
    f"${r.getLong(0)}%d:${r.getLong(1)}%x"
  }

  /** Bytes on disk under a path (files only). */
  def diskBytes(path: java.io.File): Long =
    if (!path.exists()) 0L
    else if (path.isFile) path.length()
    else Option(path.listFiles()).map(_.map(diskBytes).sum).getOrElse(0L)

  def dataFiles(path: java.io.File): Int =
    if (!path.exists()) 0
    else if (path.isFile) (if (path.getName.endsWith(".parquet")) 1 else 0)
    else Option(path.listFiles()).map(_.map(dataFiles).sum).getOrElse(0)
}
