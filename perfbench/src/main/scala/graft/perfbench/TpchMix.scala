package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.MetaFrame
import graft.sources.Tables

/** `tpch_mix`: the ten BASELINE.md query shapes through `MetaFrame`. One
  * operation is a round of all ten in a seeded order, with per-run seeded
  * parameters (filter threshold, top-N, limits, volume cut); a round's time
  * is a sum over shapes whose latencies differ tenfold, so its median is
  * steadier than a per-query median. It exercises the wrapper, pk
  * inference, `sources` and Spark planning, and no text kernel or pipeline
  * operator. Every result is checked against its raw-`DataFrame` twin with
  * the same parameters, and the frames whose operation the reference's
  * rules key (groupBy, dropDuplicates, distinct) must carry that key. */
final class TpchMix(ctx: Ctx) extends Workload {
  import TpchMix._
  private val spark = ctx.spark
  private val p: Params = {
    val r = new SplittableRandom(ctx.seed)
    Params(q1Qty = 10 + r.nextInt(31), q5TopN = 3 + r.nextInt(8), q6Limit = 5 + r.nextInt(16),
      q18Cut = 150 + r.nextInt(21), q18Limit = 50 + r.nextInt(101))
  }
  private val shapes = TpchMix.shapes(p)
  private var dir: String = _
  private val queries = mutable.ArrayBuffer.empty[Query]

  /** Shape order of round `i`: a seeded permutation. */
  private def round(i: Int): Seq[Shape] = {
    val r = new SplittableRandom(ctx.seed * 1000003L + i)
    val perm = shapes.indices.toArray
    for (j <- perm.indices.reverse) { // Fisher–Yates
      val k = r.nextInt(j + 1); val t = perm(j); perm(j) = perm(k); perm(k) = t
    }
    perm.toSeq.map(shapes)
  }

  private def meta(name: String): MetaFrame =
    Trace.span("sources.loadMeta")(Tables.loadMeta(spark, dir, name))
  private def raw(name: String): DataFrame = Tables.load(spark, dir, name)

  def prepare(rep: Int): Unit = {
    if (dir != null) Main.deleteTree(new java.io.File(dir))
    dir = ctx.path(s"tpch-$rep")
    Gen.writeTpch(spark, ctx.seed, dir, ctx.cores)
    Trace.span("sources.load") { Gen.TpchTables.foreach(t => meta(t).df.schema) }
  }

  /** Two untimed rounds: the first round after one is still measurably
    * slower than the rounds that follow. */
  def warm(): Unit = Seq.fill(2)(shapes.foreach(s => runMeta(s)))

  /** The wrapper path: build the frame, check its pk, run the action. */
  private def runMeta(s: Shape): (Result, Option[String]) = {
    val (frame, keyed) = Trace.span("MetaFrame.build")(s.meta(meta))
    val pkProblem = s.pk.flatMap { want =>
      if (keyed.primaryKey.map(_.toSet).contains(want.toSet)) None
      else Some(s"${s.name}: primary_key ${keyed.primaryKey} where the reference keys $want")
    }
    val result = Trace.span("MetaFrame.action") {
      if (s.collect) rows(frame.collect()) else Seq(Seq(frame.count()))
    }
    (result, pkProblem)
  }

  private def runRaw(s: Shape): Result = {
    val df = s.raw(raw)
    if (s.collect) rows(df.collect()) else Seq(Seq(df.count()))
  }

  def op(i: Int): Int = {
    round(i).foreach { s =>
      val t0 = System.nanoTime()
      val (result, pkProblem) = runMeta(s)
      queries += Query(i, s, result, (System.nanoTime() - t0) / 1e9, pkProblem)
    }
    shapes.size
  }

  def fingerprint(): String =
    Gen.TpchTables.map(t => s"$t=${Gen.fingerprint(raw(t))}").mkString(",") + s",params=$p"

  def check(nOps: Int): Map[Int, String] = {
    val twins = queries.map(_.shape).distinct.map(s => s.name -> runRaw(s)).toMap
    val problems = queries.flatMap { q =>
      q.pkProblem.orElse(diff(q.result, twins(q.shape.name))
        .map(d => s"${q.shape.name} result differs from its raw-DataFrame twin: $d"))
        .map(q.op -> _)
    }
    problems.groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2).mkString("; ") }
  }

  def layers(loop: LoopResult): Map[String, Double] = {
    val loopSpans = Trace.spans.filter(_.op >= 0)
    val n = math.max(1, loop.ops).toDouble
    val perShape = shapes.map { s =>
      s"MetaFrame.${s.name}.p50_s" -> Stats.median(queries.filter(_.shape == s).map(_.seconds).toSeq)
    }
    // wrapper vs raw twin, two of each per shape, in AB BA order
    def timed(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val twinTimes = shapes.map { s =>
      val pairs = Seq(false, true).map { rawFirst =>
        if (rawFirst) { val r = timed(runRaw(s)); (timed(runMeta(s)), r) }
        else { val m = timed(runMeta(s)); (m, timed(runRaw(s))) }
      }
      s.name -> (Stats.median(pairs.map(_._1)), Stats.median(pairs.map(_._2)))
    }
    val setupLoad = Trace.spans.filter(s => s.op < 0 && s.name == "sources.load").map(_.seconds)
    Map(
      "MetaFrame.build_s" -> loopSpans.filter(_.name == "MetaFrame.build").map(_.seconds).sum / n,
      "MetaFrame.action_s" -> loopSpans.filter(_.name == "MetaFrame.action").map(_.seconds).sum / n,
      "MetaFrame.overhead_ratio" -> twinTimes.map(_._2._1).sum / twinTimes.map(_._2._2).sum,
      "MetaFrame.pk_results" -> queries.count(q => q.shape.pk.nonEmpty && q.pkProblem.isEmpty).toDouble,
      "sources.load_s" -> setupLoad.lastOption.getOrElse(0.0),
      "sources.input_bytes" -> Gen.diskBytes(new java.io.File(dir)).toDouble) ++
      perShape ++
      twinTimes.map { case (name, (m, r)) => s"MetaFrame.$name.overhead_ratio" -> m / r }
  }
}

object TpchMix {
  final case class Params(q1Qty: Int, q5TopN: Int, q6Limit: Int, q18Cut: Int, q18Limit: Int)

  /** A query's result: its collected rows, or one row holding the count. */
  type Result = Seq[Seq[Any]]

  /** One query of the loop: its round, shape, result, time and pk check. */
  final case class Query(op: Int, shape: Shape, result: Result, seconds: Double,
      pkProblem: Option[String])

  /** One query shape in its wrapper form and its raw-DataFrame twin.
    * `meta` returns the final frame and the frame whose primary key is
    * checked against `pk`. Every sort that a limit or a rank cuts ends in
    * a key, so each shape has one right answer to compare. */
  final case class Shape(name: String, collect: Boolean, pk: Option[Seq[String]],
      meta: (String => MetaFrame) => (MetaFrame, MetaFrame),
      raw: (String => DataFrame) => DataFrame)

  private def same(m: MetaFrame): (MetaFrame, MetaFrame) = (m, m)

  def shapes(p: Params): Seq[Shape] = {
    val priceW = Window.partitionBy(col("l_returnflag"))
      .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val profit = sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("profit")
    Seq(
      Shape("q1_filter_project", collect = false, None,
        t => same(t("lineitem").filter(col("l_quantity") > p.q1Qty)
          .select("l_orderkey", "l_partkey", "l_quantity")),
        t => t("lineitem").filter(col("l_quantity") > p.q1Qty)
          .select("l_orderkey", "l_partkey", "l_quantity")),
      Shape("q2_groupby_agg", collect = true, Some(Seq("l_returnflag", "l_linestatus")),
        t => same(t("lineitem").groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity")).as("sum_qty"), avg(col("l_extendedprice")).as("avg_price"),
            count(lit(1)).as("n"))),
        t => t("lineitem").groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity")).as("sum_qty"), avg(col("l_extendedprice")).as("avg_price"),
            count(lit(1)).as("n"))),
      Shape("q3_join_agg", collect = true, Some(Seq("o_orderpriority")),
        t => same(t("orders").join(t("lineitem"), col("o_orderkey") === col("l_orderkey"), "inner")
          .groupBy("o_orderpriority").agg(sum(col("l_extendedprice")).as("sum_price"))),
        t => t("orders").join(t("lineitem"), col("o_orderkey") === col("l_orderkey"), "inner")
          .groupBy("o_orderpriority").agg(sum(col("l_extendedprice")).as("sum_price"))),
      Shape("q4_dropdup", collect = false, Some(Seq("l_orderkey")),
        t => same(t("lineitem").dropDuplicates(Seq("l_orderkey"))),
        t => t("lineitem").dropDuplicates(Seq("l_orderkey"))),
      Shape("q5_window_topk", collect = true, None,
        t => same(t("lineitem").withColumn("rn", row_number().over(priceW))
          .filter(col("rn") <= p.q5TopN)),
        t => t("lineitem").withColumn("rn", row_number().over(priceW))
          .filter(col("rn") <= p.q5TopN)),
      Shape("q6_sort_limit", collect = true, None,
        t => same(t("orders").orderBy(desc("o_totalprice"), col("o_orderkey")).limit(p.q6Limit)),
        t => t("orders").orderBy(desc("o_totalprice"), col("o_orderkey")).limit(p.q6Limit)),
      Shape("q7_distinct", collect = false, Some(Seq("l_suppkey")),
        t => same(t("lineitem").select("l_suppkey").distinct()),
        t => t("lineitem").select("l_suppkey").distinct()),
      Shape("q8_union_agg", collect = false, Some(Seq("key")),
        t => same(t("customer").select(col("c_custkey").as("key"))
          .union(t("supplier").select(col("s_suppkey").as("key"))).groupBy("key").count()),
        t => t("customer").select(col("c_custkey").as("key"))
          .union(t("supplier").select(col("s_suppkey").as("key"))).groupBy("key").count()),
      Shape("q9_profit_shape", collect = true, Some(Seq("n_name", "o_year")),
        t => same(t("lineitem")
          .join(t("part"), col("l_partkey") === col("p_partkey"), "inner")
          .join(t("supplier"), col("l_suppkey") === col("s_suppkey"), "inner")
          .join(t("nation"), col("s_nationkey") === col("n_nationkey"), "inner")
          .join(t("orders"), col("l_orderkey") === col("o_orderkey"), "inner")
          .withColumn("o_year", year(col("o_orderdate")))
          .groupBy("n_name", "o_year").agg(profit)),
        t => t("lineitem")
          .join(t("part"), col("l_partkey") === col("p_partkey"), "inner")
          .join(t("supplier"), col("l_suppkey") === col("s_suppkey"), "inner")
          .join(t("nation"), col("s_nationkey") === col("n_nationkey"), "inner")
          .join(t("orders"), col("l_orderkey") === col("o_orderkey"), "inner")
          .withColumn("o_year", year(col("o_orderdate")))
          .groupBy("n_name", "o_year").agg(profit)),
      Shape("q18_volume_shape", collect = true, Some(Seq("l_orderkey")),
        t => {
          val big = t("lineitem").groupBy("l_orderkey").agg(sum(col("l_quantity")).as("sum_qty"))
            .filter(col("sum_qty") > p.q18Cut)
          (big.join(t("orders"), col("l_orderkey") === col("o_orderkey"), "inner")
            .join(t("customer"), col("o_custkey") === col("c_custkey"), "inner")
            .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
            .orderBy(desc("sum_qty"), col("o_orderkey")).limit(p.q18Limit), big)
        },
        t => t("lineitem").groupBy("l_orderkey").agg(sum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > p.q18Cut)
          .join(t("orders"), col("l_orderkey") === col("o_orderkey"), "inner")
          .join(t("customer"), col("o_custkey") === col("c_custkey"), "inner")
          .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
          .orderBy(desc("sum_qty"), col("o_orderkey")).limit(p.q18Limit)))
  }

  /** Collected rows in an order that does not depend on the plan: sorted
    * on their non-double cells, which key every collected shape's rows. */
  def rows(rs: Array[Row]): Result =
    rs.toSeq.map(_.toSeq).sortBy(_.map {
      case _: Double => ""
      case v => String.valueOf(v)
    }.mkString("\u0001"))

  /** Where two results differ, if they do. Doubles compare to a relative
    * 1e-9, since a sum's last bits depend on the order in which partial
    * aggregates merge; every other cell compares exactly. */
  def diff(a: Result, b: Result): Option[String] = {
    def same(x: Any, y: Any): Boolean = (x, y) match {
      case (u: Double, v: Double) =>
        u == v || math.abs(u - v) <= 1e-9 * math.max(math.abs(u), math.abs(v))
      case _ => x == y
    }
    if (a.size != b.size) Some(s"${a.size} rows where the twin has ${b.size}")
    else a.indices.find(i => a(i).size != b(i).size || !a(i).zip(b(i)).forall { case (x, y) => same(x, y) })
      .map(i => s"row ${a(i).mkString("[", ",", "]")} where the twin has ${b(i).mkString("[", ",", "]")}")
  }
}
