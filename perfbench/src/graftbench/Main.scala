package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One request of a workload. `kind` is read, write, faithful or
  * weighted; a write starts its store cold. */
final case class Req(name: String, kind: String)

/** One executed request. `ledger` is filled only on traced passes. */
final case class Sample(req: Req, pass: Int, traced: Boolean, wallS: Double,
    ok: Boolean, result: String, ledger: Map[String, Double])

/** One pass of a workload; its wall includes a traced pass's bookkeeping. */
final case class Pass(traced: Boolean, wallS: Double, samples: Seq[Sample])

/** The benchmark's JVM side: runs one workload against an in-process
  * `local[4]` session and writes its measurements as one JSON object.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * data (directory holding the generated `sf*` table sets), out (result
  * file), spans (span file, traced runs only), spawn-ms (epoch ms at
  * which the launcher started this JVM, the origin of `setup_s`).
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val spawnMs = opt("spawn-ms").toLong

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wl = Workload(workload, spark, data, seed)
    wl.prepare()
    val runner = new Runner(spark, wl, new Spans(s"$workload-$seed"))
    // warm-up pass: every distinct request once, its output kept for
    // the launcher's correctness check
    val verified = wl.distinct.map(r => r.name -> runner.verify(r)).toMap
    for (_ <- 1 until wl.warmPasses; r <- wl.distinct) runner.execute(r, -1, null)
    val setupS = (System.currentTimeMillis() - spawnMs) / 1e3

    val rnd = new scala.util.Random(seed)
    val gc0 = gcSeconds()
    val passes = runner.loop(rnd, seconds, traced)
    val gcS = gcSeconds() - gc0
    val samples = passes.flatMap(_.samples)
    val plainWalls = passes.filterNot(_.traced).map(_.wallS)
    val fields = Seq.newBuilder[(String, Any)]
    fields += "setup_s" -> setupS
    fields += "wall_s" -> Stats.median(plainWalls)
    fields += "passes" -> plainWalls.size
    fields += "peak_rss_mb" -> peakRssMb()
    fields += "samples" -> samples.map(s => Map("name" -> s.req.name,
      "kind" -> s.req.kind, "role" -> wl.role(s.req), "wall_s" -> s.wallS,
      "traced" -> s.traced, "ok" -> s.ok, "result" -> s.result))
    fields += "verified" -> verified
    fields += "oracle_sql" -> wl.oracleSql
    if (traced) {
      val tr = samples.filter(_.traced)
      val overhead = Stats.median(passes.filter(_.traced).map(_.wallS)) /
        Stats.median(plainWalls) - 1
      val layers = new Layers(spark, data)
      fields += "layers" -> (layers.all(samples, gcS) + ("trace.overhead_frac" -> overhead))
      fields += "ledger" -> tr.map(s => Map("name" -> s.req.name, "pass" -> s.pass) ++ s.ledger)
      val spanFile = Paths.get(opt("spans"))
      Files.createDirectories(spanFile.getParent)
      Files.write(spanFile, runner.spans.jsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Files.write(Paths.get(opt("out")), Json.value(fields.result().toMap).getBytes(UTF_8))
    spark.stop()
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Stats {
  /** Linear-interpolated percentile, as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Runs requests, untraced or traced. A traced request runs under its
  * own job group, so the ledger charges every job, stage and task to
  * it, and records a span tree: request → driver.build, driver.plan,
  * exec → Spark jobs.
  */
final class Runner(spark: SparkSession, wl: Workload, val spans: Spans) {
  private val sc = spark.sparkContext
  private var seq = 0

  /** Runs passes for `seconds`. A traced run alternates untraced and
    * traced passes, at least one of each: the traced passes' wall over
    * the untraced ones' is the tracing overhead. */
  def loop(rnd: scala.util.Random, seconds: Double, traced: Boolean): Seq[Pass] = {
    val out = Seq.newBuilder[Pass]
    val t0 = System.nanoTime()
    var pass = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || (traced && pass < 2)) {
      out += runPass(wl.pass(rnd), pass, traced && pass % 2 == 1)
      pass += 1
    }
    out.result()
  }

  /** One pass; a traced pass registers the ledger for its own length
    * and traces every request. */
  def runPass(reqs: Seq[Req], pass: Int, traced: Boolean): Pass = {
    val t0 = System.nanoTime()
    val ledger = if (traced) { val l = new Ledger; sc.addSparkListener(l); l } else null
    val raw = reqs.map(execute(_, pass, ledger))
    val samples = if (ledger == null) raw.map(_._1) else {
      Bus.drain(sc)
      sc.removeSparkListener(ledger)
      raw.map { case (s, t) => s.copy(ledger = record(s, t, ledger)) }
    }
    Pass(traced, (System.nanoTime() - t0) / 1e9, samples)
  }

  /** Timestamps (ns) of one traced request: start, build end, plan end,
    * end; and its group, input-file bytes and cache footprint. */
  final case class Trace(group: String, t: Array[Long], fileBytes: Double,
      cacheRdds: Double, cacheBytes: Double)

  def execute(r: Req, pass: Int, ledger: Ledger): (Sample, Trace) = {
    wl.beforeRun(r)
    seq += 1
    val group = s"req-$seq"
    val traced = ledger != null
    if (traced) sc.setJobGroup(group, r.name, interruptOnCancel = false)
    val t = Array.fill(4)(System.nanoTime())
    var df: DataFrame = null
    var result: String = null
    val ok = try {
      df = wl.build(r)
      t(1) = System.nanoTime()
      if (traced) df.queryExecution.executedPlan
      t(2) = System.nanoTime()
      result = wl.exec(r, df)
      true
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] ${r.name} failed:")
      e.printStackTrace()
      false
    }
    t(3) = System.nanoTime()
    var trace: Trace = null
    if (traced) {
      sc.clearJobGroup()
      val fileBytes = if (df == null) 0.0 else inputFileBytes(df)
      val rdds = sc.getPersistentRDDs.size.toDouble
      val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
      trace = Trace(group, t, fileBytes, rdds, bytes)
    }
    spark.catalog.clearCache()
    (Sample(r, pass, traced, (t(3) - t(0)) / 1e9, ok, result, Map.empty), trace)
  }

  private def inputFileBytes(df: DataFrame): Double = try {
    val conf = spark.sparkContext.hadoopConfiguration
    df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum.toDouble
  } catch { case NonFatal(_) => 0.0 }

  private def record(s: Sample, tr: Trace, ledger: Ledger): Map[String, Double] = {
    val c = ledger(tr.group)
    val t = tr.t
    val ms = t.map(spans.ms)
    val root = spans.add(0, "request", ms(0), ms(3), "query" -> s.req.name,
      "kind" -> s.req.kind, "pass" -> s.pass, "ok" -> s.ok)
    val build = spans.add(root, "driver.build", ms(0), ms(1))
    val plan = spans.add(root, "driver.plan", ms(1), ms(2))
    val exec = spans.add(root, "exec", ms(2), ms(3))
    var eager = 0
    c.jobSpans.sortBy(_._2).foreach { case (id, st, en) =>
      val parent = if (st <= ms(1)) { eager += 1; build } else if (st <= ms(2)) plan else exec
      spans.add(parent, "job", st.toDouble, en.toDouble, "job_id" -> id)
    }
    Map(
      "wall_s" -> s.wallS,
      "driver.build_s" -> (t(1) - t(0)) / 1e9,
      "driver.plan_s" -> (t(2) - t(1)) / 1e9,
      "exec_s" -> (t(3) - t(2)) / 1e9,
      "driver.eager_jobs" -> eager.toDouble,
      "sched.jobs" -> c.jobs.toDouble,
      "sched.stages" -> c.stages.toDouble,
      "sched.tasks" -> c.tasks.toDouble,
      "sched.task_run_s" -> c.taskRunS,
      "sched.task_cpu_s" -> c.taskCpuS,
      "sched.max_task_s" -> c.maxTaskS,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "spill.bytes" -> c.spill.toDouble,
      "input.bytes" -> c.input.toDouble,
      "input.file_bytes" -> tr.fileBytes,
      "cache.rdds_end" -> tr.cacheRdds,
      "cache.bytes_end" -> tr.cacheBytes)
  }

  /** Warm-up run of one request; returns what the launcher checks:
    * the formatted result for the taxi jobs, else the directory the
    * result was written to as parquet. */
  def verify(r: Req): String = {
    wl.beforeRun(r)
    try wl.verify(r)
    catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] warm-up ${r.name} failed:")
      e.printStackTrace()
      null
    } finally spark.catalog.clearCache()
  }
}
