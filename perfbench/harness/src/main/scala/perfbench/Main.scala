package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.kernel.ConvertKernel
import graft.kernel.ConvertKernel.ConversionConfig

/** One run's settings. `runDir` is private to the run; `sfDir` holds the
  * staged fixture tables. Spark gets one core per available processor. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     runDir: Path, sfDir: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
}

object Session {
  /** Timed set-ups per run; `setup_s` is their median. The first is the
    * JVM's cold one, so the median is a warm set-up. */
  val Setups = 3

  def create(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", (ctx.cpus * 2).toString)
      .config("spark.local.dir", ctx.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Every per-layer metric name, so a traced run reports each of them on
  * every workload (0 where the workload does not exercise the layer). */
object Layers {
  val Formats = Seq("md", "csv", "html", "asciidoc", "docx", "pptx", "pdf", "image", "unsupported")
  val ParseFormats = Seq("md", "csv", "html", "asciidoc", "docx", "pptx", "pdf", "image")

  val all: Seq[(String, String)] =
    Seq("api.multipart_ms" -> "ms", "api.json_ms" -> "ms", "api.request_bytes" -> "bytes",
      "api.response_bytes" -> "bytes", "api.health_rtt_ms" -> "ms", "api.transport_ms" -> "ms",
      "ingest.validate_ms" -> "ms", "ingest.detect_ms" -> "ms", "ingest.transcode_ms" -> "ms",
      "kernel.convert_ms" -> "ms") ++
      Formats.map(f => s"kernel.convert_ms.$f" -> "ms") ++
      ParseFormats.map(f => s"kernel.parse_ms.$f" -> "ms") ++
      Seq("kernel.render_ms" -> "ms", "kernel.serialize_ms" -> "ms", "kernel.splice_ms" -> "ms",
        "kernel.docs" -> "count", "kernel.images" -> "count", "kernel.png_bytes" -> "bytes",
        "kernel.error_rows" -> "count",
        "jobs.submit_ms" -> "ms", "jobs.process_ms" -> "ms", "jobs.status_done_ms" -> "ms",
        "jobs.status_pending_ms" -> "ms", "jobs.queue_wait_ms" -> "ms", "jobs.backlog_max" -> "count",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.planning_ms" -> "ms", "spark.dispatch_ms_per_job" -> "ms", "spark.driver_gap_ms" -> "ms",
        "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
        "spark.input_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
        "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
        "streaming.batches" -> "count", "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
        "streaming.get_batch_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
        "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
        "streaming.commit_offsets_ms" -> "ms", "streaming.state_rows" -> "count",
        "streaming.state_commit_ms" -> "ms") ++
      Roster.Queries.flatMap(q => Seq(s"roster.$q.wall_s" -> "s", s"roster.$q.jobs" -> "count")) ++
      Seq("bench.generator_lag_ms" -> "ms", "bench.trace_overhead_pct" -> "%")
}

object Main {

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        if (args.contains("--selftest")) selftest()
        else run(args)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is over either way
    Runtime.getRuntime.halt(code)
  }

  private def ctxOf(args: Array[String]): Ctx = {
    val runDir = Paths.get(arg(args, "--run-dir").getOrElse(sys.error("--run-dir is required")))
    Files.createDirectories(runDir)
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    Ctx(
      workload = workload,
      seed = arg(args, "--seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0),
      trace = arg(args, "--trace").contains("1"),
      runDir = runDir,
      sfDir = arg(args, "--sf-dir").getOrElse(""))
  }

  private def run(args: Array[String]): Int = {
    val ctx = ctxOf(args)
    if (args.contains("--stage")) { Roster.stage(ctx); return 0 }
    val tally = new Tally
    val window = new Machine.Window
    val stagingT0 = System.nanoTime()
    val (e2e, layers, setupSecs, extra) = ctx.workload match {
      case "api-sync" | "api-async" =>
        val sync = ctx.workload == "api-sync"
        val deck =
          if (sync) Corpus.syncDeck(ctx.seed).map(Wire(_))
          else Corpus.asyncDeck(ctx.seed, 24).map(Wire(_))
        val stagingS = (System.nanoTime() - stagingT0) / 1e9
        val (env, setupSecs) = Api.timedSetup(ctx, tally)
        try {
          // warm-up and set-up outcomes are checked but only the measured
          // window counts as attempts
          val warmFailed = tally.failed.get()
          tally.attempted.set(0)
          window.start()
          val m =
            if (ctx.trace) { if (sync) Api.syncTraced(ctx, env, deck, tally) else Api.asyncTraced(ctx, env, deck, tally) }
            else if (sync) Api.syncUntraced(ctx, env, deck, tally) else Api.asyncUntraced(ctx, env, deck, tally)
          window.stop()
          tally.attempted.addAndGet(warmFailed)
          val corpusBytes = deck.map(_.body.length.toLong).sum
          val ctxExtra = Map[String, Any]("staging_s" -> stagingS, "deck_requests" -> deck.size,
            "deck_bytes" -> corpusBytes)
          if (ctx.trace) (Map.empty[String, Double], m, setupSecs, ctxExtra)
          else {
            val named =
              if (sync) Map("sync_p50_ms" -> m("p50"), "sync_p99_ms" -> m("p99"), "sync_docs_per_s" -> m("docs_per_s"))
              else Map("job_p50_ms" -> m("p50"), "job_p90_ms" -> m("p90"), "status_p50_ms" -> m("status_p50"),
                "generator_lag_p99_ms" -> m("generator_lag_ms"))
            (Map("op_p50_ms" -> m("p50"), "op_p90_ms" -> m("p90"), "op_geomean_ms" -> m("geomean"),
              "throughput_per_s" -> m("docs_per_s")), Map.empty[String, Double], setupSecs,
              ctxExtra ++ named + ("ops" -> m.getOrElse("requests", m.getOrElse("jobs", 0.0))))
          }
        } finally env.stop()
      case "roster-slice" =>
        window.start()
        val t0 = System.nanoTime()
        val o = Roster.run(ctx, tally)
        window.stop()
        val runS = (System.nanoTime() - t0) / 1e9
        val walls = o.walls.map(_._2 * 1000)
        val rosterS = o.walls.map(_._2).sum
        val named = Map[String, Any]("roster_s" -> rosterS, "roster_geomean_s" -> Stats.geomean(walls) / 1000,
          "per_query_s" -> o.walls.toMap, "pass_walls_s" -> o.passes, "harness_s" -> runS)
        (Map("op_p50_ms" -> Stats.median(walls), "op_p90_ms" -> Stats.quantile(walls, 0.9),
          "op_geomean_ms" -> Stats.geomean(walls), "throughput_per_s" -> o.walls.size / rosterS),
          o.layers, o.setupSecs, named)
      case other => sys.error(s"unknown workload $other")
    }
    val rss = Machine.rssPeakMb
    val metrics: Seq[(String, (Double, String))] =
      if (ctx.trace) Layers.all.map { case (n, u) => n -> (layers.getOrElse(n, 0.0), u) }
      else Seq(
        "setup_s" -> (Stats.median(setupSecs), "s"),
        "op_p50_ms" -> (e2e("op_p50_ms"), "ms"),
        "op_p90_ms" -> (e2e("op_p90_ms"), "ms"),
        "op_geomean_ms" -> (e2e("op_geomean_ms"), "ms"),
        "throughput_per_s" -> (e2e("throughput_per_s"), "1/s"),
        "rss_peak_mb" -> (rss, "MB"))
    val attempted = math.max(1L, tally.attempted.get())
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val context = Map[String, Any](
      "workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "failed_ratio" -> tally.failed.get().toDouble / attempted,
      "setup_s_each" -> setupSecs, "cpu_steal_pct" -> window.stealPct,
      "loadavg_start" -> window.loadStart, "loadavg_end" -> window.loadEnd,
      "nproc" -> ctx.cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm_flags" -> rt.getInputArguments.asScala.toSeq, "rss_peak_mb" -> rss,
      "errors" -> tally.errors.asScala.toSeq) ++ extra
    println("PERFBENCH_RESULT " + Json.obj(
      "correct" -> (tally.failed.get() == 0),
      "attempted" -> attempted,
      "failed" -> tally.failed.get(),
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, (v, u)) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*),
      "context" -> context))
    0
  }

  /** The oracle's own test: every generated document converts to its
    * expectation through the kernel (and through the module-by-module
    * traced path), and corrupted expectations are caught. */
  private def selftest(): Int = {
    var problems = Seq.empty[String]
    val reqs = Corpus.syncDeck(11L) ++ Corpus.asyncDeck(11L, 4)
    reqs.foreach { r =>
      val config = ConversionConfig(extractTablesAsImages = r.extractTables, imageResolutionScale = r.scale)
      r.docs.foreach { d =>
        val res = ConvertKernel.convertOne(d.filename, d.bytes, config, batchMode = r.batch)
        Check.result(res, d, r.batch).foreach(e => problems :+= s"kernel: $e")
        val kinds = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        val traced = TracedKernel.convert(new Spans(true), d.filename, d.bytes, config, r.batch, kinds)
        if (traced != res) problems :+= s"traced path differs for ${d.filename}"
      }
    }
    val docs = reqs.flatMap(r => r.docs.map(d => (r, d)))
    def caught(what: String, pick: Corpus.Doc => Boolean, corrupt: Corpus.Expect => Corpus.Expect): Unit =
      docs.find(x => pick(x._2)) match {
        case None => problems :+= s"no document to corrupt for $what"
        case Some((r, d)) =>
          val config = ConversionConfig(extractTablesAsImages = r.extractTables, imageResolutionScale = r.scale)
          val res = ConvertKernel.convertOne(d.filename, d.bytes, config, batchMode = r.batch)
          if (Check.result(res, d.copy(expect = corrupt(d.expect)), r.batch).isEmpty)
            problems :+= s"corrupted $what expectation was not caught"
      }
    caught("markdown digest", _.expect.exactMarkdown.exists(_.nonEmpty),
      e => e.copy(exactMarkdown = e.exactMarkdown.map(_.replaceFirst("[a-z]", "Z"))))
    caught("marker", _.expect.markers.nonEmpty, e => e.copy(markers = e.markers :+ "mkabsent"))
    caught("image list", _.expect.images.nonEmpty, e => e.copy(images = e.images.dropRight(1)))
    caught("error text", _.expect.error.nonEmpty, e => e.copy(error = e.error.map(_ + ".")))
    caught("filename", _.expect.error.isEmpty, e => e.copy(stem = e.stem + "x"))
    val kinds = docs.map(_._2.kind).distinct.sorted
    println(s"selftest: ${docs.size} documents of kinds ${kinds.mkString(",")}")
    problems.take(20).foreach(p => println(s"selftest FAIL: $p"))
    if (problems.isEmpty) { println("selftest ok"); 0 } else 1
  }
}
