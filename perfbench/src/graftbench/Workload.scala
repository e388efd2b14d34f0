package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{CowErasure, TaxiSpeed}
import graft.sources.{TaxiCsv, TaxiDataGen}

/** A closed-loop workload: one client issues the requests of a pass one
  * after another, each only after the previous one completed. */
abstract class Workload(val spark: SparkSession, val data: String, val seed: Long) {
  /** Table directory the requests read. */
  def dir: String
  /** Every distinct request, in a fixed order (the warm-up pass). */
  def distinct: Seq[Req]
  /** The requests of one pass, in a seeded order. */
  def pass(rnd: scala.util.Random): Seq[Req]
  /** "primary" or "secondary": which latency metric a request feeds. */
  def role(r: Req): String
  /** Oracle SQL for every request whose output the launcher checks. */
  def oracleSql: Map[String, String]

  def prepare(): Unit = ()

  /** Untimed passes before the timed loop, the checked one included. */
  def warmPasses: Int = 1

  def build(r: Req): DataFrame = SparkEntry.queries(r.name)(spark, dir)

  def exec(r: Req, df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    null
  }

  /** Called before every run of `r`. */
  def beforeRun(r: Req): Unit = ()

  /** Run `r` once with its output written as parquet; returns the path. */
  def verify(r: Req): String = {
    val out = new File(s"verify/${r.name}").getAbsolutePath
    build(r).coalesce(1).write.mode("overwrite").parquet(out)
    out
  }

  protected def oracleFor(names: Seq[String]): Map[String, String] = {
    SparkEntry.oracleSfName = new File(dir).getName
    val all = SparkEntry.oracleSql
    names.flatMap(n => all.get(n).map(n -> _)).toMap
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, seed: Long): Workload =
    name match {
      case "taxi_etl" => new TaxiEtl(spark, data, seed)
      case "query_mix" => new QueryMix(spark, data, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The reference's own job over a seeded taxi CSV corpus: the faithful
  * average of per-file averages, then the weighted mean, each through
  * `formatResult`. The text scan and parse dominate. */
final class TaxiEtl(spark: SparkSession, data: String, seed: Long)
    extends Workload(spark, data, seed) {
  /** Corpus size: seeded ids × `Mult` rows of ~105 bytes. */
  val Ids = 20000
  val Mult = 20
  val dir = new File(TaxiDataGen.BaseDir, "etl").getAbsolutePath
  def glob = s"$dir/*.csv"
  private val faithful = Req("taxi_etl_faithful", "faithful")
  private val weighted = Req("taxi_etl_weighted", "weighted")
  def distinct = Seq(faithful, weighted)
  def pass(rnd: scala.util.Random) = distinct
  def role(r: Req) = if (r == faithful) "primary" else "secondary"
  // the scan's JIT settles over the first few jobs
  override def warmPasses = 3

  override def prepare(): Unit = {
    val rnd = new scala.util.Random(seed)
    val ids = Iterator.continually(rnd.nextLong() & ((1L << 40) - 1))
      .distinct.take(Ids).toSeq.sorted
    TaxiDataGen.generateScaled(ids, new File(dir), Mult)
  }

  override def build(r: Req): DataFrame =
    if (r == faithful) TaxiSpeed.faithfulAvgByDowListed(spark, glob)
    else TaxiSpeed.weightedAvgByDow(TaxiCsv.trips(spark, glob))

  override def exec(r: Req, df: DataFrame): String = TaxiSpeed.formatResult(df)

  override def verify(r: Req): String = exec(r, build(r))

  def oracleSql: Map[String, String] = {
    SparkEntry.oracleSfName = "etl"
    val all = SparkEntry.oracleSql
    Map(faithful.name -> all("taxi_avg_speed_faithful"),
      weighted.name -> all("taxi_avg_speed_weighted"))
  }
}

/** Short queries whose time is mostly planning, job count and
  * scheduling gaps, with one request in nine a cold store publish
  * before its read. */
final class QueryMix(spark: SparkSession, data: String, seed: Long)
    extends Workload(spark, data, seed) {
  val dir = new File(data, "sf0.1").getAbsolutePath
  val Reads: Seq[String] = QueryMix.Reads
  val Writes: Seq[String] = QueryMix.Writes
  def distinct = Reads.map(Req(_, "read")) ++ Writes.map(Req(_, "write"))
  def role(r: Req) = if (r.kind == "read") "primary" else "secondary"
  override def warmPasses = 3

  /** A write starts its store cold. */
  override def beforeRun(r: Req): Unit =
    if (r.name == "q91_erase_cow") CowErasure.invalidate(spark, dir)

  /** Reads in a seeded order, each write at a seeded position. */
  def pass(rnd: scala.util.Random): Seq[Req] =
    rnd.shuffle(Writes).foldLeft(rnd.shuffle(Reads).map(Req(_, "read"))) {
      (acc, w) =>
        val at = rnd.nextInt(acc.size + 1)
        (acc.take(at) :+ Req(w, "write")) ++ acc.drop(at)
    }

  def oracleSql = oracleFor(Reads ++ Writes)
}

object QueryMix {
  val Reads: Seq[String] = Seq(
    "q1_pricing_summary", "q14_window_rank", "q27_approx_distinct",
    "q87_approx_quantiles", "w1_tumbling_window", "events_speed_faithful",
    "docs_jsonl_ingest", "taxi_avg_speed_weighted")
  val Writes: Seq[String] = Seq("q91_erase_cow")
}
