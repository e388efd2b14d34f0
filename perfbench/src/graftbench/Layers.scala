package graftbench

import java.io.File
import java.net.InetSocketAddress
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.unsafe.types.UTF8String

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.{SparkEntry, Tables}
import graft.functions.{ByteplaneExprs, ShingleExprs, VectorFunctions}
import graft.operators.{LakehouseMerge, TaxiSpeed}
import graft.sources.{HttpIngest, TaxiCsv, TaxiDataGen}

/** The per-layer metrics of a traced run. Each layer is timed from
  * outside, around calls into its public functions; scheduler, data
  * movement and memory counters come from the traced requests' ledger.
  */
final class Layers(spark: SparkSession, data: String) {
  private val sf01 = new File(data, "sf0.1").getAbsolutePath
  private val sfProbe = new File(data, "sf0.01").getAbsolutePath

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def medianOf(n: Int)(f: => Unit): Double =
    Stats.median(Seq.fill(n)(time(f)))

  /** Run `body` as one traced request; returns its ledger row. */
  private def probe(name: String)(body: => DataFrame): Map[String, Double] = {
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val group = s"probe-$name"
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    val wall = try time(noop(body)) finally spark.sparkContext.clearJobGroup()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ledger)
    spark.catalog.clearCache()
    val c = ledger(group)
    Map("wall_s" -> wall, "jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble,
      "task_run_s" -> c.taskRunS)
  }

  def all(samples: Seq[Sample], gcS: Double): Map[String, Double] =
    requests(samples, gcS) ++ sources() ++ functions() ++ families() ++ store()

  /** Driver, scheduler, data movement and memory, as per-request means
    * over the traced requests. */
  def requests(samples: Seq[Sample], gcS: Double): Map[String, Double] = {
    val tr = samples.filter(_.traced)
    def mean(k: String) = tr.map(_.ledger(k)).sum / tr.size
    def total(k: String) = tr.map(_.ledger(k)).sum
    val wall = total("wall_s")
    val keys = Seq("driver.build_s", "driver.plan_s", "driver.eager_jobs",
      "sched.jobs", "sched.stages", "sched.tasks", "sched.task_run_s",
      "sched.task_cpu_s", "shuffle.read_bytes", "shuffle.write_bytes",
      "spill.bytes", "input.bytes", "input.file_bytes", "cache.rdds_end",
      "cache.bytes_end")
    keys.map(k => k -> mean(k)).toMap ++ Map(
      "sched.busy_share" -> total("sched.task_run_s") / (wall * Main.Cores),
      "sched.non_task_s" -> (wall - total("sched.task_run_s") / Main.Cores) / tr.size,
      "sched.max_task_s" -> tr.map(_.ledger("sched.max_task_s")).max,
      "jvm.gc_s" -> gcS)
  }

  /** Listing, text scan and parse, and the loopback HTTP transport, over
    * a fixed-size taxi corpus; the faithful job minus the scan gives the
    * aggregation operators' share. */
  def sources(): Map[String, Double] = {
    val dir = new File(TaxiDataGen.BaseDir, "probe")
    val rnd = new scala.util.Random(7)
    TaxiDataGen.generateScaled(Iterator.continually(rnd.nextLong() & ((1L << 40) - 1))
      .distinct.take(20000).toSeq.sorted, dir, 10)
    val glob = s"${dir.getAbsolutePath}/*.csv"
    val bytes = dir.listFiles().filter(_.getName.endsWith(".csv")).map(_.length).sum
    val listS = medianOf(5)(TaxiCsv.listFiles(spark, glob))
    noop(TaxiCsv.trips(spark, glob))
    val scanS = medianOf(3)(noop(TaxiCsv.trips(spark, glob)))
    val scanTasks = probe("sources.scan")(TaxiCsv.trips(spark, glob))("tasks")
    TaxiSpeed.formatResult(TaxiSpeed.faithfulAvgByDowListed(spark, glob))
    val faithfulS = medianOf(3)(
      TaxiSpeed.formatResult(TaxiSpeed.faithfulAvgByDowListed(spark, glob)))
    val month = new File(dir, "yellow_tripdata_2017-01.csv")
    val httpS = serving(month) { url =>
      HttpIngest.enable(spark)
      noop(TaxiCsv.tripsListed(spark, Seq(url)))
      medianOf(3)(noop(TaxiCsv.tripsListed(spark, Seq(url))))
    }
    Map("sources.list_s" -> listS, "sources.scan_s" -> scanS,
      "sources.scan_mb_s" -> bytes / 1e6 / scanS, "sources.scan_tasks" -> scanTasks,
      "sources.http_scan_mb_s" -> month.length / 1e6 / httpS,
      "operators.taxi_agg_s" -> (faithfulS - scanS))
  }

  /** Serve one file over loopback HTTP (HEAD and byte ranges). */
  private def serving[A](file: File)(body: String => A): A = {
    val bytes = Files.readAllBytes(file.toPath)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(Main.Cores))
    server.createContext("/", (ex: HttpExchange) => {
      val range = Option(ex.getRequestHeaders.getFirst("Range"))
      if (ex.getRequestMethod == "HEAD") {
        ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
        ex.sendResponseHeaders(200, -1)
      } else range match {
        case Some(r) if r.startsWith("bytes=") =>
          val from = r.stripPrefix("bytes=").takeWhile(_ != '-').toInt
          ex.sendResponseHeaders(206, (bytes.length - from).toLong)
          ex.getResponseBody.write(bytes, from, bytes.length - from)
        case _ =>
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
      }
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/${file.getName}")
    finally {
      server.stop(0)
      server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
    }
  }

  /** ns per row of the custom kernels over the seeded documents and
    * embeddings; the HOF forms are the trees the kernels replaced. */
  def functions(): Map[String, Double] = {
    val texts = Tables.documents(spark, sf01).select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    var sink = 0L
    def nsRow(f: UTF8String => Any, rows: Array[UTF8String] = texts): Double = {
      val n = rows.length
      medianOf(5) { var i = 0; while (i < n) { sink += f(rows(i)).hashCode; i += 1 } } * 1e9 / n
    }
    val prnd = new scala.util.Random(11)
    val p = 2147483647L
    val as = Array.fill(64)(1 + prnd.nextInt(Int.MaxValue - 1).toLong)
    val bs = Array.fill(64)(prnd.nextInt(Int.MaxValue).toLong)
    val sh = texts.map(ShingleExprs.wordShingles64(_, 3))
    val minhash = {
      val n = sh.length
      medianOf(5) { var i = 0; while (i < n) { sink += ShingleExprs.minhashSig(sh(i), as, bs, p).hashCode; i += 1 } } * 1e9 / n
    }
    val kernels = Map(
      "functions.word_shingles_ns_row" -> nsRow(ShingleExprs.wordShingles64(_, 3)),
      "functions.char_shingles_ns_row" -> nsRow(ShingleExprs.charShingles64(_, 5)),
      "functions.minhash_sig_ns_row" -> minhash,
      "functions.winnow_fps_ns_row" -> nsRow(ShingleExprs.winnowFps64(_, 5, 4)),
      // m12's contract: only texts of at least side² characters are hashed
      "functions.dct_phash_ns_row" -> nsRow(ByteplaneExprs.dctPhash(_, 16, 8),
        texts.filter(_.numChars >= 256)))
    // keep the kernels' results observable so none is optimised away
    if (sink == 42) System.err.print("")
    // vector kernels: every embedding against 32 query vectors
    val emb = Tables.embeddings(spark, sf01)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val pairs = emb.crossJoin(emb.filter(col("vec_id") < 32).select(col("e").as("q")))
      .cache()
    val rows = pairs.count().toDouble
    def vecNs(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) = {
      val df = pairs.select(sum(f(col("e"), col("q"))))
      df.collect()
      medianOf(3)(df.collect()) * 1e9 / rows
    }
    val vec = Map(
      "functions.dot_ns_row" -> vecNs(VectorFunctions.dot),
      "functions.dot_hof_ns_row" -> vecNs(VectorFunctions.dotHof),
      "functions.l2sq_ns_row" -> vecNs(VectorFunctions.l2sq),
      "functions.l2sq_hof_ns_row" -> vecNs(VectorFunctions.l2sqHof))
    pairs.unpersist()
    kernels ++ vec
  }

  /** Per-family wall of one representative query each at sf0.01
    * (warm, then measured), and the graph query's job count and busy
    * share. */
  def families(): Map[String, Double] = {
    val reps = Seq("d" -> "d2_jaccard_pairs", "s" -> "s1_cosine_topk",
      "t" -> "t6_tfidf", "m" -> "m12_dct_phash", "g" -> "g5_coreness")
    val rows = reps.map { case (f, q) =>
      noop(SparkEntry.queries(q)(spark, sfProbe))
      spark.catalog.clearCache()
      f -> probe(q)(SparkEntry.queries(q)(spark, sfProbe))
    }.toMap
    val g = rows("g")
    rows.map { case (f, m) => s"family.$f.wall_s" -> m("wall_s") } ++
      Map("graph.jobs" -> g("jobs"),
        "graph.busy_share" -> g("task_run_s") / (g("wall_s") * Main.Cores))
  }

  /** One cold publish and one warm read of the q88 lakehouse table. */
  def store(): Map[String, Double] = {
    val q88 = SparkEntry.queries("q88_upsert_publish")
    LakehouseMerge.invalidateOrdersSummary(spark, sf01)
    // the run's working directory starts empty, so every file under the
    // table root is this publish's
    val root = new File("target/graft_table/orders_summary")
    val writeS = time(noop(q88(spark, sf01)))
    spark.catalog.clearCache()
    val readS = medianOf(3) { noop(q88(spark, sf01)); spark.catalog.clearCache() }
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val written = files(root).filterNot(_.getName.endsWith(".crc"))
    val bytes = written.map(_.length).sum.toDouble
    val source = new File(sf01, "orders.parquet").length
    Map("store.write_s" -> writeS, "store.read_s" -> readS,
      "store.bytes_written" -> bytes, "store.files_written" -> written.size.toDouble,
      "store.write_amp" -> bytes / source)
  }
}
