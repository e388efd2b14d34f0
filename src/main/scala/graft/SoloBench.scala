package graft

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Shims

/** Standalone-timed tier for the heaviest suite queries (r14 verdict
  * #1), run ONE QUERY PER FRESH JVM — the gb_flagship protocol
  * ([[FlagshipBench]]) extended to individual queries.
  *
  * Why: the in-suite per-query numbers inflated ~28 % r13→r14 with no
  * code change in the affected queries (g2 5.1→9.9 s) while the
  * flagship-in-fresh-JVM stayed flat — the r12-diagnosed suite-JVM
  * code-cache/profile pressure grows with the suite. A per-query
  * fresh-JVM measurement is immune to suite size BY CONSTRUCTION, so
  * it is the number that is comparable round-over-round and the only
  * protocol code comments may cite ("solo min-of-3"). The suite
  * numbers remain in the artifact as the throughput-under-load
  * column; the solo column attributes any divergence to suite-JVM
  * pressure rather than leaving it a regression suspect.
  *
  * Protocol per query: three untimed warm runs at the warm-sweep SF
  * (codegen + C2 compilation of the plan shape — the suite's
  * sacrificial-run convention), then three timed runs at the target
  * SF with the session cache cleared between runs; the reported
  * number is the MINIMUM (steady-state throughput; this host shows
  * episodic multi-10 s stalls uncorrelated with code — see
  * FlagshipBench).
  *
  * Each timed run also counts its Spark jobs (listener bus drained
  * around it, so the count is exact): at sf0.1 a fixpoint query costs
  * rounds × job latency, so job count is what round-overhead work moves.
  *
  * Prints one `SOLOJSON:{"solo_sec":…,"runs":[…],"jobs":[…]}` line per
  * query (the fragment [[Bench]] embeds under the artifact's `solo`
  * object) and a `[bench] solo <name>: …` summary to stderr. [[Bench]]
  * forks one JVM per name; several names share one JVM — the dev loop
  * for same-session times and job counts:
  * `sbt "runMain graft.SoloBench g5_coreness g7_backbone_components"`.
  *
  * Thread-count sensitivity (r15 root-cause of the "inflation"): the
  * solo tier runs at the SAME `SPARK_GRAFT_CPUS` as the suite so the
  * suite-vs-solo comparison isolates suite-JVM pressure alone. But
  * the ITERATIVE graph queries (vertex-sized relations, many small
  * jobs per round) carry per-task scheduling overhead proportional
  * to thread count at test scale: measured r15, g5 solo min-of-3 was
  * 6.5 s at local[4] (matching the retired r14 TimeQ claim) vs
  * ~11.5 s at local[32], g2 4.8 s vs 6.0 s — identical code and
  * plan. At 100 TB more partitions buy real parallelism; at sf0.1
  * they buy scheduler overhead. Compare solo numbers round-over-round
  * ONLY at the same CPUS setting.
  */
object SoloBench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.envSfDir
    val spark = Harness.session(Harness.envCpus)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    try args.foreach { name =>
      try {
        Harness.envWarmDir.foreach { warmDir =>
          for (_ <- 1 to 3) Harness.runQuery(spark, name, warmDir)
        }
        val (runs, jobCounts) = (1 to 3).map { _ =>
          Shims.drainListenerBus(sc)
          jobs.set(0)
          val secs = Harness.runQuery(spark, name, sfDir)
          Shims.drainListenerBus(sc)
          (secs, jobs.get)
        }.unzip
        def arr(xs: Seq[Any]) = xs.mkString("[", ",", "]")
        System.err.println(f"[bench] solo $name: min ${runs.min}%.2f s " +
          arr(runs.map(r => f"$r%.2f")) + " jobs " + arr(jobCounts))
        println(s"""SOLOJSON:{"solo_sec":${runs.min},"runs":${arr(runs)},""" +
          s""""jobs":${arr(jobCounts)}}""")
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] solo $name failed:")
        e.printStackTrace()
        // no SOLOJSON line — the parent records the query as failed
      }
    } finally spark.stop()
  }
}
