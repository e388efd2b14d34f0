package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The harness under every entry point — Bench, SoloBench,
  * FlagshipBench, Verify, PlanDump, ExplainQ and the test session: the
  * one graft session config, the one full-execution sink, and the one
  * per-query run that owns the cache policy.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` (default 4): the local thread count the mains
    * run at.
    */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `SPARK_GRAFT_SF_DIR` (default sf0.1): the bench mains' target scale. */
  def envSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `SPARK_GRAFT_WARMSWEEP_DIR` (default sf0.001; set it empty to
    * disable): the scale of the untimed warm runs, when that dir exists.
    */
  def envWarmDir: Option[String] =
    Some(sys.env.getOrElse("SPARK_GRAFT_WARMSWEEP_DIR", "/root/testdata/sf0.001"))
      .filter(d => d.nonEmpty && new java.io.File(d).isDirectory)

  /** The graft session: `local[cpus]` with graft's extensions, one
    * shuffle partition per core, UTC, AQE on, no UI, WARN logging and
    * one warehouse dir under `target/`. Returns the live session when
    * one already exists.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Force FULL execution through the noop sink, NOT count(): count()
    * lets the optimizer ELIMINATE subtrees whose rows provably don't
    * change the cardinality — on the faithful flagship the 3 GB-scan
    * branch sits behind a left join with unique build-side keys, and
    * count() measured a 7-row local plan with ZERO bytes read (caught
    * via input-metrics audit on the GB corpus). A write needs every
    * column of every row, so nothing is elidable.
    */
  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build registered query `name` over `dir`, apply `action`, then
    * clear the session cache — also when the query fails. Returns the
    * action's result and the seconds spent building and acting (the
    * clear excluded).
    *
    * Why clear after EVERY query: operator-internal cache() calls
    * (Dedup's shingle table) persist in the session CacheManager, and
    * a later query with the same subtree (d3 after d2) would otherwise
    * serve it from cache — each query's time must include ALL of its
    * own work, nothing of its neighbors'. This also bounds storage
    * memory across a multi-query run.
    */
  def runQuery[T](spark: SparkSession, name: String, dir: String,
      action: DataFrame => T): (T, Double) =
    try timed(action(SparkEntry.queries(name)(spark, dir)))
    finally spark.catalog.clearCache()

  /** `f`'s result and its wall seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** [[runQuery]] through the full-execution [[sink]]; returns seconds. */
  def runQuery(spark: SparkSession, name: String, dir: String): Double =
    runQuery(spark, name, dir, sink)._2
}
