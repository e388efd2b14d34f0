package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TaxiSpeed
import graft.sources.{HttpIngest, TaxiCsv}

/** The http(s) ingest transport (`Sample.cs:143`), driven end-to-end
  * against a loopback JDK HttpServer — no network egress. Covers both
  * server behaviors the filesystem promises: Range-honoring (206 —
  * real random access, split reads) and naive 200-only (skip
  * fallback), plus the read-only and missing-file contracts.
  */
class HttpIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** HEAD requests served, per request path. */
  private val heads = scala.collection.concurrent.TrieMap[String, Int]()

  /** Serve `bytes` at `path`; honor Range iff `ranges`. HEAD works and
    * is counted in [[heads]]. */
  private def handler(bytes: Array[Byte], ranges: Boolean)
      : com.sun.net.httpserver.HttpHandler = (ex: HttpExchange) => {
    val range = Option(ex.getRequestHeaders.getFirst("Range"))
    if (ex.getRequestMethod == "HEAD") {
      heads.updateWith(ex.getRequestURI.getPath)(n => Some(n.getOrElse(0) + 1))
      ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
      ex.sendResponseHeaders(200, -1)
    } else range match {
      case Some(r) if ranges && r.startsWith("bytes=") =>
        val from = r.stripPrefix("bytes=").stripSuffix("-").toInt
        val slice = bytes.drop(from)
        ex.sendResponseHeaders(206, slice.length.toLong)
        ex.getResponseBody.write(slice)
      case _ =>
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
    }
    ex.close()
  }

  private def withServer[A](routes: (String, Array[Byte], Boolean)*)
      (body: Int => A): A = {
    val server = HttpServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, bytes, ranges) =>
      server.createContext(path, handler(bytes, ranges))
    }
    server.start()
    try body(server.getAddress.getPort)
    finally server.stop(0)
  }

  // a deterministic taxi micro-corpus with one header line that the
  // F1 accept filter must drop
  private def csvOf(rows: Int): String = {
    val sb = new StringBuilder(
      "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,rest\n")
    (0 until rows).foreach { i =>
      val d = i % 7 + 1
      sb.append(f"1,2017-01-$d%02d 00:10:00,2017-01-$d%02d 00:40:00,1," +
        f"${2.0 + i % 5}%.1f,1,N,1,1,1,10,0,0,0,0,0,10\n")
    }
    sb.toString
  }

  test("taxi pipeline over http:// equals the same bytes from file://") {
    HttpIngest.enable(spark)
    // the fixture corpus read four ways: glob, flat directory, explicit
    // file:// list, and the same bytes as an http:// list
    val dir = TaxiFixtures.writeDir().toAbsolutePath
    val names = Seq("01", "02", "03").map(m => s"yellow_tripdata_2017-$m.csv")
    withServer(names.map(n =>
        (s"/d/$n", Files.readAllBytes(dir.resolve(n)), true)): _*) { port =>
      val urls = names.map(n => s"http://127.0.0.1:$port/d/$n")
      val fileUris = names.map(n => s"file://$dir/$n")
      heads.clear()
      val viaHttp = TaxiSpeed.faithfulAvgByDowListed(spark, urls)
      // one status check by the entry point, two by the reader's own
      // path resolution (its existence probe and its file index)
      assert(heads.toMap === names.map(n => s"/d/$n" -> 3).toMap)

      val glob = s"$dir/*.csv"
      val forms = Seq( // (form, trips, faithful, its file keys)
        ("glob", TaxiCsv.trips(spark, glob),
          TaxiSpeed.faithfulAvgByDowListed(spark, glob), fileUris),
        ("directory", TaxiCsv.trips(spark, dir.toString),
          TaxiSpeed.faithfulAvgByDowListed(spark, dir.toString), fileUris),
        ("file:// list", TaxiCsv.tripsListed(spark, fileUris),
          TaxiSpeed.faithfulAvgByDowListed(spark, fileUris), fileUris),
        ("http:// list", TaxiCsv.tripsListed(spark, urls), viaHttp, urls))
      def byDay(df: DataFrame) = df.orderBy("day").collect().map(_.toSeq).toSeq
      // trip rows keyed by file NAME: the http keys are the URLs
      def results(trips: DataFrame, faithful: DataFrame) = (
        trips.collect().map(r => (r.getString(0).split('/').last +:
          r.toSeq.tail).mkString("|")).sorted.toSeq,
        byDay(faithful), byDay(TaxiSpeed.weightedAvgByDow(trips)))
      val want = results(forms.head._2, forms.head._3)
      assert(want._1.size === TaxiFixtures.nAcceptedRows)
      want._2.foreach { case Seq(d: Int, v: Double) =>
        assert(math.abs(v - TaxiFixtures.faithfulListedExpected(d)) < 1e-12)
      }
      forms.foreach { case (form, trips, faithful, files) =>
        assert(trips.select("file").distinct().collect().map(_.getString(0))
          .sorted.toSeq === files, form)
        assert(results(trips, faithful) === want, form)
      }
    }
  }

  test("split reads agree on range-honoring AND naive servers") {
    HttpIngest.enable(spark)
    val big = csvOf(2000) // ~150 KB, many splits at 16 KB
    Seq(true, false).foreach { ranges =>
      withServer(("/big.csv", big.getBytes("UTF-8"), ranges)) { port =>
        val url = s"http://127.0.0.1:$port/big.csv"
        val whole = spark.read.text(url).collect().map(_.getString(0))
        val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try {
          spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
          val df = spark.read.text(url)
          assert(df.rdd.getNumPartitions > 1,
            s"expected a split read (ranges=$ranges)")
          val split = df.collect().map(_.getString(0))
          assert(split.sorted.toSeq === whole.sorted.toSeq,
            s"split read diverged (ranges=$ranges)")
        } finally {
          spark.conf.set("spark.sql.files.maxPartitionBytes", before)
        }
      }
    }
  }

  test("streaming crawl gate composes with the http transport: static keepers read over http://") {
    // the two r14 transports composed (r14 verdict #8): d37's
    // streaming URL-novelty gate runs with its STATIC side — the
    // batch keeper table — read via http:// from the loopback server,
    // and must emit exactly what the same gate emits with the keeper
    // DataFrame held in-session. Parquet over http exercises the
    // transport's random access (footer seek + column chunk ranges),
    // not just the streaming line read the taxi tests cover.
    HttpIngest.enable(spark)
    import java.nio.file.{Files, Paths}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"))
    // StreamingSpec's slice: one never-crawled domain (src3 — novel)
    // plus re-crawls of known domains (doc_id % 8 — known)
    val isIncoming = col("source") === "src3" ||
      pmod(col("doc_id"), lit(8)) === 0
    val keepers = graft.operators.Dedup
      .withCanonicalUrl(docs.filter(!isIncoming))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keeper_id"))
    val base = Paths.get("target", "test-tmp")
    Files.createDirectories(base)
    val kdir = Files.createTempDirectory(base, "httpkeepers")
    keepers.coalesce(1).write.mode("overwrite")
      .parquet(kdir.resolve("k").toString)
    val part = Files.list(kdir.resolve("k")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(Paths.get(part))

    withServer(("/keepers.parquet", bytes, true)) { port =>
      val keepersHttp = spark.read.parquet(
        s"http://127.0.0.1:$port/keepers.parquet")
      // the transport must hand back the exact table (footer seek +
      // column-chunk range reads) before the gate composes on it
      assert(keepersHttp.count() === keepers.count())
      assert(keepersHttp.join(keepers, Seq("canonical_url", "keeper_id"))
        .count() === keepers.count())
      val incoming = docs.filter(isIncoming)
      val d = Files.createTempDirectory(base, "httpgate").toString
      incoming.repartition(2).write.mode("overwrite").parquet(d)
      val stream = spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1").parquet(d)
      val q = graft.operators.Dedup.urlNoveltyStream(stream, keepersHttp)
        .writeStream.outputMode("append")
        .format("memory").queryName("http_gate_out").start()
      try { q.processAllAvailable() } finally q.stop()

      val got = spark.table("http_gate_out")
      val want = graft.operators.Dedup.urlNoveltyStream(incoming, keepers)
      assert(got.count() > 0)
      val joined = got.as("g").join(want.as("b"), Seq("doc_id"), "full_outer")
      assert(joined.filter(
        col("g.canonical_url").isNull || col("b.canonical_url").isNull ||
          col("g.canonical_url") =!= col("b.canonical_url") ||
          col("g.known") =!= col("b.known")).count() === 0,
        "http-fed gate diverged from the in-session gate")
      // the gate differentiates through the http-read static side
      assert(got.filter(col("known")).count() > 0)
      assert(got.filter(!col("known")).count() > 0)
    }
  }

  test("read-only and missing-file contracts") {
    HttpIngest.enable(spark)
    withServer(("/ok.csv", "1,2\n".getBytes("UTF-8"), true)) { port =>
      val fs = new org.apache.hadoop.fs.Path(
        s"http://127.0.0.1:$port/ok.csv")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      intercept[java.io.FileNotFoundException] {
        fs.getFileStatus(new org.apache.hadoop.fs.Path(
          s"http://127.0.0.1:$port/missing.csv"))
      }
      intercept[java.io.IOException] {
        fs.delete(new org.apache.hadoop.fs.Path(
          s"http://127.0.0.1:$port/ok.csv"), false)
      }
    }
  }
}
