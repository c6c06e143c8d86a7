package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** The roster slice: registered queries run in a fixed order on the
  * fixture tables, each materialised through the noop sink. */
object Roster {

  val Queries: Seq[String] = Seq(
    "st4_followup_outer_stream", "st9_convert_stream",
    "d11_bloom_incremental_dedup",
    "g1_pagerank_trade_graph",
    "e39_branch_wap_publish", "e4_crawl_pipeline",
    "k1_convert_directory", "k5_dsv2_convert",
    "q4_nation_revenue", "q67_aqe_skew_join",
    "s6_ivfpq_topk",
    "t19_bigram_lm_perplexity")

  private def noop(spark: SparkSession, sf: String, q: String): Unit =
    SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()

  /** Session start plus a light warm-up: a scan of every fixture table and
    * one shuffle on the fact table. */
  def setup(ctx: Ctx): SparkSession = {
    val spark = Session.create(ctx)
    Tables.names.foreach(t => Tables(spark, ctx.sfDir, t).write.format("noop").mode("overwrite").save())
    Tables(spark, ctx.sfDir, "lineitem").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    spark
  }

  def timedSetup(ctx: Ctx): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val secs = (1 to Session.Setups).map { _ =>
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, secs)
  }

  /** Stage every fixture the slice writes on first use (a separate process,
    * before any measured run). */
  def stage(ctx: Ctx): Unit = {
    val spark = Session.create(ctx)
    try Queries.foreach(q => noop(spark, ctx.sfDir, q))
    finally Session.stop(spark)
  }

  /** Run `q` once writing parquet to `<runDir>/results/<q>` for the DuckDB
    * oracle. Untimed; it is also the query's warm-up. */
  private def writeResult(ctx: Ctx, spark: SparkSession, q: String, tally: Tally): Unit = {
    try SparkEntry.queries(q)(spark, ctx.sfDir).write.mode("overwrite")
      .parquet(ctx.runDir.resolve("results").resolve(q).toString)
    catch { case e: Exception => tally.fail(s"$q: ${e.getMessage}") }
    spark.catalog.clearCache()
  }

  private def writeOracleSql(ctx: Ctx, tally: Tally): Unit = {
    val oracle = SparkEntry.oracleSql
    Queries.filterNot(oracle.contains).foreach(q => tally.fail(s"$q: no oracle SQL"))
    Files.createDirectories(ctx.runDir.resolve("results"))
    Files.writeString(ctx.runDir.resolve("results").resolve("oracle_sql.json"),
      Json.render(Queries.flatMap(q => oracle.get(q).map(q -> _)).toMap))
  }

  /** One timed noop run of `q`; wall seconds, with a failure tallied. */
  private def timed(ctx: Ctx, spark: SparkSession, q: String, tally: Tally, spans: Spans): Double = {
    tally.attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try spans(s"roster.$q", q, spark.sparkContext)(noop(spark, ctx.sfDir, q))
    catch { case e: Exception => tally.fail(s"$q: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    wall
  }

  /** `walls` are the per-query medians; `passes` the walls of each timed
    * pass, in slice order. */
  final case class Outcome(setupSecs: Seq[Double], walls: Seq[(String, Double)],
                           passes: Seq[Seq[Double]], layers: Map[String, Double])

  /** Timed passes over the slice; a query's reported wall is its median
    * across them. The streaming and graph queries vary by up to half their
    * wall from one pass to the next, so a median needs three. */
  val Passes = 3

  /** One timed pass over the slice in order; wall seconds per query. */
  private def pass(ctx: Ctx, spark: SparkSession, tally: Tally, spans: Spans): Seq[Double] =
    Queries.map(q => timed(ctx, spark, q, tally, spans))

  /** The correctness pass (each query's result written for the oracle,
    * untimed; it is also the warm-up), then [[Passes]] timed noop passes in
    * slice order. A traced run then makes one more pass, the same way, with
    * spans and listeners. */
  def run(ctx: Ctx, tally: Tally): Outcome = {
    val (spark, setupSecs) = timedSetup(ctx)
    try {
      writeOracleSql(ctx, tally)
      Queries.foreach(q => writeResult(ctx, spark, q, tally))
      val passes = (1 to Passes).map(_ => pass(ctx, spark, tally, new Spans(false)))
      val walls = Queries.indices.map(i => Queries(i) -> Stats.median(passes.map(_(i))))
      if (!ctx.trace) Outcome(setupSecs, walls, passes, Map.empty)
      else {
        val spans = new Spans(true)
        val probe = new SparkProbe(spark).register()
        val traced = try pass(ctx, spark, tally, spans) finally probe.unregister()
        val dispatch = probe.dispatchMsPerJob()
        spans.writeJsonl(ctx.runDir.resolve("spans.jsonl"))
        val jobsBySpan = probe.jobsBySpan
        val perQuery = spans.all.flatMap { s =>
          Seq(s"${s.name}.wall_s" -> s.ms / 1e3, s"${s.name}.jobs" -> jobsBySpan.getOrElse(s.id, 0).toDouble)
        }
        val on = traced.sum; val off = walls.map(_._2).sum
        Outcome(setupSecs, walls, passes, perQuery.toMap ++
          probe.totals(Set.empty, spans.byId).map { case (k, v) => s"spark.$k" -> v } ++
          probe.streamingTotals.map { case (k, v) => s"streaming.$k" -> v } ++
          Map("spark.planning_ms" -> probe.planningMs, "spark.dispatch_ms_per_job" -> dispatch,
            "bench.trace_overhead_pct" -> 100.0 * (on - off) / off))
      }
    } finally Session.stop(spark)
  }
}
