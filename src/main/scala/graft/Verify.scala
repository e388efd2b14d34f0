package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Taxi oracles read the generated CSV corpus keyed by sfDir basename
    // — point them at the scale actually being verified.
    SparkEntry.oracleSfName = new java.io.File(sfDir).getName
    val spark = Harness.session(Harness.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.keys.foreach { name =>
      try Harness.runQuery(spark, name, sfDir,
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def q(s: String): String = "\"" + StatusEndpoint.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
