package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump `queries` (optionally filtered) for `sfDir` into `outDir`,
    * writing `oracle_sql.json` and `errors.json` beside the per-query
    * parquet dirs, and return the error map. Failures must leave a
    * visible verdict, not a silent absence: a broken query previously had
    * no parquet and no CORRECTNESS row, so 13 formerly-green rows
    * VANISHED in r7 instead of turning red (VERDICT r7 "what's wrong"
    * #3). Factored out of [[main]] (which owns the session lifecycle) so
    * VerifyErrorsSpec can drive the failure path against the shared test
    * session without stopping it. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          filter: Option[Set[String]]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val selected = filter match {
      case Some(f) => SparkEntry.queries.filter { case (n, _) => f(n) }
      case None    => SparkEntry.queries
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors += name -> msg.take(500)
        System.err.println(s"[verify] $name failed: $msg")
      }
      // release per-query persists so no cached RDDs outlive their query
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    import JsonString.{quote => q}
    val oracles = filter match {
      case Some(f) => SparkEntry.oracleSql.filter { case (n, _) => f(n) }
      case None    => SparkEntry.oracleSql
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    }
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // pack parallel file-status listing jobs (see Bench.scala note)
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        (cpus.toInt * 2).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional comma-separated query filter (SPARK_GRAFT_QUERIES), same
    // contract as Bench — dev-loop only; the driver sets no filter.
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    run(spark, sfDir, outDir, filter)
    spark.stop()
  }
}
