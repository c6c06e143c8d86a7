package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.HttpApi
import graft.ingest.{FormatDetection, Transcode, UploadValidation}
import graft.jobs.JobService
import graft.kernel.{ConvertKernel, DocModel, ImageRenderer, ImageSplicer, OutputSerializers}
import graft.kernel.ConvertKernel.{ConversionConfig, ConversionResult, ImageData}

import perfbench.Corpus.{Doc, Req}

/** A request as it goes on the wire: multipart body plus query string. */
final case class Wire(req: Req, contentType: String, body: Array[Byte], query: String)

object Wire {
  private val Boundary = "perfbenchBoundary7MA4YWxkTrZu0gW"

  def apply(req: Req): Wire = {
    val field = if (req.batch) "documents" else "document"
    val bos = new java.io.ByteArrayOutputStream()
    req.docs.foreach { d =>
      bos.write(s"--$Boundary\r\nContent-Disposition: form-data; name=\"$field\"; filename=\"${d.filename}\"\r\n" +
        "Content-Type: application/octet-stream\r\n\r\n" getBytes StandardCharsets.UTF_8)
      bos.write(d.bytes)
      bos.write("\r\n".getBytes(StandardCharsets.UTF_8))
    }
    bos.write(s"--$Boundary--\r\n".getBytes(StandardCharsets.UTF_8))
    Wire(req, s"multipart/form-data; boundary=$Boundary", bos.toByteArray,
      s"image_resolution_scale=${req.scale}&extract_tables_as_images=${req.extractTables}")
  }
}

/** Hands out deck indices to the load threads until the deadline has
  * passed and the current pass over the deck is complete, so every run
  * measures whole passes and the deck's size mix is never cut short. */
final class WholeCycles(deckSize: Int, deadlineNs: Long) {
  private val counter = new AtomicInteger(0)
  private val stopAt = new AtomicInteger(Int.MaxValue)
  /** The next index to send, or -1 when the run is over. */
  def next(): Int = {
    val i = counter.getAndIncrement()
    if (System.nanoTime() >= deadlineNs)
      stopAt.compareAndSet(Int.MaxValue, (i + deckSize - 1) / deckSize * deckSize)
    if (i >= stopAt.get()) -1 else i
  }
}

/** Outcome bookkeeping shared by every workload. */
final class Tally {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val docsOk = new AtomicLong(0)
  val errors = new ConcurrentLinkedQueue[String]()
  def fail(msg: String): Unit = { failed.incrementAndGet(); if (errors.size < 20) errors.add(msg) }
}

object Check {
  private def images(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    Option(n.get("images")).map(_.elements().asScala.toSeq
      .map(i => i.get("type").asText() + ":" + i.get("filename").asText())).getOrElse(Nil)
  private def text(n: com.fasterxml.jackson.databind.JsonNode, k: String): Option[String] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText())

  /** Check one JSON result row against a document's expectation. */
  def row(n: com.fasterxml.jackson.databind.JsonNode, d: Doc, batch: Boolean): Option[String] =
    Corpus.check(d.expect, text(n, "filename").getOrElse(""), text(n, "markdown"),
      images(n), text(n, "error"), d.filename, batch)

  /** Check a conversion result produced in-process. */
  def result(r: ConversionResult, d: Doc, batch: Boolean): Option[String] =
    Corpus.check(d.expect, r.filename, Option(r.markdown),
      r.images.map(i => i.`type` + ":" + i.filename), Option(r.error), d.filename, batch)

  /** Sync response: a single result or, for batches, an array in order. */
  def sync(status: Int, body: String, req: Req): Seq[String] =
    if (status != 200) Seq(s"HTTP $status: ${body.take(160)}")
    else {
      val js = Json.parse(body)
      if (req.batch) {
        val rows = js.elements().asScala.toSeq
        if (rows.size != req.docs.size) Seq(s"batch returned ${rows.size} rows, sent ${req.docs.size}")
        else rows.zip(req.docs).flatMap { case (n, d) => row(n, d, batch = true) }
      } else row(js, req.docs.head, batch = false).toSeq
    }

  /** Finished batch job: SUCCESS with one SUCCESS row per document. */
  def job(js: com.fasterxml.jackson.databind.JsonNode, req: Req): Seq[String] = {
    val rows = js.get("conversion_results").elements().asScala.toSeq
    if (rows.size != req.docs.size) Seq(s"job returned ${rows.size} rows, sent ${req.docs.size}")
    else rows.zip(req.docs).flatMap { case (n, d) =>
      if (n.get("status").asText() != JobService.Success) Some(s"${d.filename}: row status ${n.get("status")}")
      else row(n.get("result"), d, batch = true)
    }
  }
}

/** HTTP client over one connection at a time (one per load thread). */
final class Client(base: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def post(path: String, w: Wire): (Int, String) = {
    val r = HttpRequest.newBuilder(URI.create(s"$base$path?${w.query}"))
      .header("Content-Type", w.contentType)
      .POST(HttpRequest.BodyPublishers.ofByteArray(w.body)).build()
    val resp = http.send(r, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def get(path: String): (Int, String) = {
    val resp = http.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

/** The kernel path of [[ConvertKernel.convertOne]], called module by module
  * through the public functions it uses, so each step is a span. The result
  * goes through the same oracle as the served one. */
object TracedKernel {
  def convert(spans: Spans, filename: String, content: Array[Byte],
              config: ConversionConfig, batchMode: Boolean, kinds: mutable.Map[String, Long]): ConversionResult = {
    val errorName = if (batchMode) filename else ConvertKernel.stemOf(filename)
    def errorRow(name: String, msg: String) = ConversionResult(name, null, Seq.empty, msg)
    try {
      spans("ingest.detect")(FormatDetection.guessFormat(content, filename)) match {
        case None => errorRow(errorName, s"Unsupported file format: $filename")
        case Some(format) =>
          val bytes =
            if (!FormatDetection.isCsvFile(filename)) Right(content)
            else {
              val t = spans("ingest.transcode")(Transcode.transcodeCsv(content))
              t.error.toLeft(t.utf8Bytes)
            }
          bytes match {
            case Left(err) => errorRow(filename, err)
            case Right(b) =>
              spans(s"kernel.parse.$format")(ConvertKernel.ParserPool.parsers(format).parse(filename, b)) match {
                case Left(err) => errorRow(errorName, err)
                case Right(tree) =>
                  val items = spans("kernel.render") {
                    tree.items.map {
                      case p: DocModel.PictureElement if p.imagePng.isEmpty =>
                        val png = p.rawMedia
                          .flatMap(ImageRenderer.renderEmbedded(_, config.imageResolutionScale))
                          .getOrElse(ImageRenderer.renderPicture(config.imageResolutionScale))
                        p.copy(imagePng = Some(png))
                      case t: DocModel.TableElement if config.extractTablesAsImages && t.imagePng.isEmpty =>
                        t.copy(imagePng = Some(ImageRenderer.renderTable(
                          t.numRows, t.numCols, config.imageResolutionScale)))
                      case e => e
                    }
                  }
                  items.foreach {
                    case p: DocModel.PictureElement => kinds("png_bytes") += p.imagePng.map(_.length).getOrElse(0)
                    case t: DocModel.TableElement => kinds("png_bytes") += t.imagePng.map(_.length).getOrElse(0)
                    case _ => ()
                  }
                  val rendered = spans("kernel.serialize")(OutputSerializers.byFormat(config.outputFormat)
                    .serialize(DocModel.DocTree(tree.name, items)))
                  val (md, images) = spans("kernel.splice")(ImageSplicer.splice(rendered, items))
                  ConversionResult(ConvertKernel.stemOf(filename), md,
                    images.map(i => ImageData(i.imageType, i.filename, i.base64Png)), null)
              }
          }
      }
    } catch {
      case e: Exception => errorRow(errorName, s"Conversion failed: ${e.getMessage}")
    }
  }
}

object Api {

  final case class Env(spark: SparkSession, server: HttpApi.Server, client: Client) {
    def base: String = s"http://127.0.0.1:${server.boundPort}"
    def stop(): Unit = { server.stop(); Session.stop(spark) }
  }

  /** Warm-up deck: one small document of each kind plus a batch, from a
    * fixed seed so every run warms the same way. */
  private lazy val warmDeck: Seq[Wire] =
    Corpus.syncDeck(7L).filter(_.bytes < 200000).groupBy(r => (r.batch, r.docs.head.kind)).values
      .map(_.head).toSeq.sortBy(r => (r.batch, r.docs.head.kind)).map(Wire(_))
  private lazy val warmJob: Wire = Wire(Corpus.asyncDeck(7L, 1).head)

  /** Session start, server start on an ephemeral port, and warm-up until a
    * sync conversion of every kind and one async job have succeeded. */
  def setup(ctx: Ctx, n: Int, tally: Tally): Env = {
    val spark = Session.create(ctx)
    val ledger = ctx.runDir.resolve(s"ledger-$n").toString
    val server = new HttpApi.Server(spark, 0, ledger).start()
    val env = Env(spark, server, new Client(s"http://127.0.0.1:${server.boundPort}"))
    val health = env.client.get("/health")
    if (health._1 != 200) tally.fail(s"warm-up /health: ${health._1}")
    warmDeck.foreach { w =>
      val (st, body) = env.client.post(syncPath(w), w)
      Check.sync(st, body, w.req).foreach(e => tally.fail(s"warm-up: $e"))
    }
    val (st, body) = env.client.post("/batch-conversion-jobs", warmJob)
    if (st != 200) tally.fail(s"warm-up job submit: HTTP $st")
    else {
      val id = Json.parse(body).get("job_id").asText()
      val deadline = System.nanoTime() + 60e9.toLong
      var done = false
      while (!done && System.nanoTime() < deadline) {
        val js = Json.parse(env.client.get(s"/batch-conversion-jobs/$id")._2)
        js.get("status").asText() match {
          case JobService.Success => done = true; Check.job(js, warmJob.req).foreach(e => tally.fail(s"warm-up job: $e"))
          case JobService.Failure => done = true; tally.fail(s"warm-up job FAILURE: ${js.get("error")}")
          case _ => Thread.sleep(20)
        }
      }
      if (!done) tally.fail("warm-up job did not finish")
    }
    env
  }

  /** [[Session.Setups]] timed set-ups; all but the last are torn down. */
  def timedSetup(ctx: Ctx, tally: Tally): (Env, Seq[Double]) = {
    var env: Env = null
    val secs = (1 to Session.Setups).map { n =>
      if (env != null) env.stop()
      val t0 = System.nanoTime()
      env = setup(ctx, n, tally)
      (System.nanoTime() - t0) / 1e9
    }
    (env, secs)
  }

  // ------------------------------------------------------------- api-sync

  def syncUntraced(ctx: Ctx, env: Env, deck: Seq[Wire], tally: Tally): Map[String, Double] = {
    val lat = new ConcurrentLinkedQueue[java.lang.Double]()
    val clients = 2
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val lastEnd = new AtomicLong(t0)
    val pool = Executors.newFixedThreadPool(clients)
    val cycles = new WholeCycles(deck.size, deadline)
    (1 to clients).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val c = new Client(env.base)
          var i = cycles.next()
          while (i >= 0) {
            val w = deck(i % deck.size)
            tally.attempted.incrementAndGet()
            val s = System.nanoTime()
            val (st, body) =
              try c.post(syncPath(w), w)
              catch { case e: Exception => (-1, String.valueOf(e)) }
            val e = System.nanoTime()
            lastEnd.accumulateAndGet(e, math.max)
            lat.add((e - s) / 1e6)
            val errs = try Check.sync(st, body, w.req) catch { case x: Exception => Seq(s"bad response: $x") }
            if (errs.isEmpty) tally.docsOk.addAndGet(w.req.docs.size) else tally.fail(errs.head)
            i = cycles.next()
          }
        }
      })
    }
    pool.shutdown(); pool.awaitTermination(ctx.seconds.toLong + 170, TimeUnit.SECONDS)
    val l = lat.asScala.map(_.doubleValue).toSeq
    val wall = (lastEnd.get() - t0) / 1e9
    Map("p50" -> Stats.median(l), "p90" -> Stats.quantile(l, 0.9), "p99" -> Stats.quantile(l, 0.99),
      "geomean" -> Stats.geomean(l), "docs_per_s" -> tally.docsOk.get() / wall, "requests" -> l.size.toDouble)
  }

  private def syncPath(w: Wire): String =
    if (w.req.batch) "/documents/batch-convert" else "/documents/convert"

  /** Multipart parts of `field` as uploads, the way the server wraps them. */
  private def uploadsOf(parts: Seq[HttpApi.Part], field: String): Seq[UploadValidation.Upload] =
    parts.filter(_.name == field).map { p =>
      new UploadValidation.Upload {
        val filename: String = p.filename.getOrElse("unnamed")
        val declaredSize: Option[Long] = Some(p.data.length.toLong)
        def read(n: Long): Array[Byte] = p.data.take(math.min(n, p.data.length.toLong).toInt)
      }
    }

  /** One request through the server's module calls, in the server's order. */
  private def inProcess(spans: Spans, w: Wire, tag: String, kinds: mutable.Map[String, Long]): (Int, String) =
    spans("api.request", tag) {
      val parts = spans("api.multipart")(HttpApi.parseMultipart(w.contentType, w.body))
      val uploads = uploadsOf(parts, if (w.req.batch) "documents" else "document")
      val docs = spans("ingest.validate") {
        if (w.req.batch) UploadValidation.readAndValidateBatch(uploads)
        else UploadValidation.readAndValidateDocument(uploads.head).map(Seq(_))
      }
      docs match {
        case Left(v) => (v.status, v.detail)
        case Right(ds) =>
          val config = ConversionConfig(extractTablesAsImages = w.req.extractTables,
            imageResolutionScale = w.req.scale)
          val results = ds.zip(w.req.docs).map { case ((name, bytes), d) =>
            spans(s"kernel.convert.${d.kind}") {
              TracedKernel.convert(spans, name, bytes, config, w.req.batch, kinds)
            }
          }
          results.foreach { r =>
            kinds("docs") += 1; kinds("images") += r.images.size
            if (r.error != null) kinds("error_rows") += 1
          }
          spans("api.json") {
            if (w.req.batch) (200, results.map(HttpApi.conversionResultJson).mkString("[", ",", "]"))
            else if (results.head.error != null) (500, results.head.error)
            else (200, HttpApi.conversionResultJson(results.head))
          }
      }
    }

  private def newKinds = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** One single-thread pass over the deck in-process; wall seconds. */
  private def deckPass(spans: Spans, deck: Seq[Wire], tally: Tally): Double = {
    val kinds = newKinds
    val t0 = System.nanoTime()
    deck.zipWithIndex.foreach { case (w, i) =>
      val (st, body) = inProcess(spans, w, s"pass-$i", kinds)
      Check.sync(st, body, w.req).headOption.foreach(e => tally.fail(s"in-process: $e"))
    }
    (System.nanoTime() - t0) / 1e9
  }

  def syncTraced(ctx: Ctx, env: Env, deck: Seq[Wire], tally: Tally): Map[String, Double] = {
    // transport share: HTTP latency of each deck request against its
    // in-process span
    val httpMs = deck.map { w =>
      val s = System.nanoTime()
      env.client.post(syncPath(w), w)
      (System.nanoTime() - s) / 1e6
    }
    val off = deckPass(new Spans(false), deck, tally)
    val probe = new Spans(true)
    val on = deckPass(probe, deck, tally)
    val inMs = probe.all.filter(_.name == "api.request").sortBy(_.tag.stripPrefix("pass-").toInt).map(_.ms)
    val transport = Stats.median(httpMs.zip(inMs).map { case (a, b) => a - b })
    val health = Stats.median((1 to 20).map { _ =>
      val s = System.nanoTime(); env.client.get("/health"); (System.nanoTime() - s) / 1e6
    })

    // the traced window: same two-thread closed loop, in-process
    val spans = new Spans(true)
    val kinds = newKinds
    val reqBytes = new AtomicLong(0); val respBytes = new AtomicLong(0)
    val cycles = new WholeCycles(deck.size, System.nanoTime() + (ctx.seconds * 1e9).toLong)
    val pool = Executors.newFixedThreadPool(2)
    val kindsByThread = new ConcurrentLinkedQueue[mutable.Map[String, Long]]()
    (1 to 2).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val k = newKinds; kindsByThread.add(k)
          var i = cycles.next()
          while (i >= 0) {
            val w = deck(i % deck.size)
            tally.attempted.incrementAndGet()
            val (st, body) = inProcess(spans, w, s"req-$i", k)
            reqBytes.addAndGet(w.body.length); respBytes.addAndGet(body.length)
            val errs = Check.sync(st, body, w.req)
            if (errs.isEmpty) tally.docsOk.addAndGet(w.req.docs.size) else tally.fail(errs.head)
            i = cycles.next()
          }
        }
      })
    }
    pool.shutdown(); pool.awaitTermination(ctx.seconds.toLong + 170, TimeUnit.SECONDS)
    kindsByThread.asScala.foreach(_.foreach { case (k, v) => kinds(k) += v })
    spans.writeJsonl(ctx.runDir.resolve("spans.jsonl"))

    val self = spans.selfMs; val total = spans.totalMs; val count = spans.count
    val requests = count.getOrElse("api.request", 1).toDouble
    val docs = math.max(1L, kinds("docs")).toDouble
    def perCall(name: String) = if (count.contains(name)) total(name) / count(name) else 0.0
    def selfPerCall(name: String) = if (count.contains(name)) self(name) / count(name) else 0.0
    val convertNames = count.keys.filter(_.startsWith("kernel.convert."))
    val layer = mutable.LinkedHashMap[String, Double](
      "api.multipart_ms" -> selfPerCall("api.multipart"),
      "api.json_ms" -> selfPerCall("api.json"),
      "api.request_bytes" -> reqBytes.get() / requests,
      "api.response_bytes" -> respBytes.get() / requests,
      "api.health_rtt_ms" -> health,
      "api.transport_ms" -> transport,
      "ingest.validate_ms" -> selfPerCall("ingest.validate"),
      "ingest.detect_ms" -> selfPerCall("ingest.detect"),
      "ingest.transcode_ms" -> selfPerCall("ingest.transcode"),
      "kernel.convert_ms" -> convertNames.map(total).sum / docs,
      "kernel.render_ms" -> selfPerCall("kernel.render"),
      "kernel.serialize_ms" -> selfPerCall("kernel.serialize"),
      "kernel.splice_ms" -> selfPerCall("kernel.splice"),
      "kernel.docs" -> kinds("docs").toDouble,
      "kernel.images" -> kinds("images").toDouble,
      "kernel.png_bytes" -> kinds("png_bytes").toDouble,
      "kernel.error_rows" -> kinds("error_rows").toDouble,
      "bench.trace_overhead_pct" -> 100.0 * (on - off) / off)
    Layers.Formats.foreach(f => layer(s"kernel.convert_ms.$f") = perCall(s"kernel.convert.$f"))
    Layers.ParseFormats.foreach(f => layer(s"kernel.parse_ms.$f") = selfPerCall(s"kernel.parse.$f"))
    layer.toMap
  }

  // ------------------------------------------------------------ api-async

  /** Jobs per second offered by the open-loop generator: about half of
    * what the single ledger worker drains on a 4-core box. */
  val JobsPerSecond = 3.0

  /** Seconds of the same load offered before the measured window of the
    * HTTP run: the first eight or so jobs after set-up turn around up to
    * 60 % slower while the async path warms. Their results are checked but
    * not timed. */
  val WarmupSeconds = 3.0

  final class JobRun(val i: Int, val wire: Wire, val scheduledNs: Long) {
    @volatile var id: String = _
    @volatile var submittedNs: Long = 0L
  }

  def asyncUntraced(ctx: Ctx, env: Env, deck: Seq[Wire], tally: Tally): Map[String, Double] = {
    val warm = (WarmupSeconds * JobsPerSecond).round.toInt
    val n = warm + math.max(1, (ctx.seconds * JobsPerSecond).round.toInt)
    val start = System.nanoTime() + 20000000L
    val runs = (0 until n).map(i => new JobRun(i, deck(i % deck.size), start + (i * 1e9 / JobsPerSecond).toLong))
    val t0 = runs(warm).scheduledNs
    val outstanding = new ConcurrentLinkedQueue[JobRun]()
    val turnaround = new ConcurrentLinkedQueue[java.lang.Double]()
    val statusMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val lag = new ConcurrentLinkedQueue[java.lang.Double]()
    @volatile var generating = true
    val lastDone = new AtomicLong(t0)
    val gen = new Thread(() => {
      val c = new Client(env.base)
      runs.foreach { r =>
        val wait = r.scheduledNs - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        if (r.i >= warm) lag.add((System.nanoTime() - r.scheduledNs) / 1e6)
        tally.attempted.incrementAndGet()
        try {
          val (st, body) = c.post("/batch-conversion-jobs", r.wire)
          if (st != 200) tally.fail(s"submit HTTP $st: ${body.take(120)}")
          else { r.id = Json.parse(body).get("job_id").asText(); r.submittedNs = System.nanoTime(); outstanding.add(r) }
        } catch { case e: Exception => tally.fail(s"submit: $e") }
      }
      generating = false
    }, "perfbench-generator")
    val poll = new Thread(() => {
      val c = new Client(env.base)
      val giveUp = t0 + ((ctx.seconds + 90) * 1e9).toLong
      while ((generating || !outstanding.isEmpty) && System.nanoTime() < giveUp) {
        outstanding.asScala.toSeq.foreach { r =>
          val s = System.nanoTime()
          val (st, body) = try c.get(s"/batch-conversion-jobs/${r.id}") catch { case e: Exception => (-1, e.toString) }
          val e = System.nanoTime()
          val measured = r.i >= warm
          if (measured) statusMs.add((e - s) / 1e6)
          val js = if (st == 200) Json.parse(body) else null
          val status = if (js == null) s"HTTP $st" else js.get("status").asText()
          status match {
            case JobService.InProgress => ()
            case JobService.Success =>
              outstanding.remove(r)
              val errs = Check.job(js, r.wire.req)
              if (errs.nonEmpty) tally.fail(errs.head)
              else if (measured) {
                turnaround.add((e - r.scheduledNs) / 1e6)
                lastDone.accumulateAndGet(e, math.max)
                tally.docsOk.addAndGet(r.wire.req.docs.size)
              }
            case other =>
              outstanding.remove(r)
              tally.fail(s"job ${r.i}: $other ${body.take(120)}")
          }
        }
        Thread.sleep(10)
      }
      outstanding.asScala.foreach(r => tally.fail(s"job ${r.i} unfinished"))
    }, "perfbench-poller")
    gen.start(); poll.start(); gen.join(); poll.join()
    val t = turnaround.asScala.map(_.doubleValue).toSeq
    val s = statusMs.asScala.map(_.doubleValue).toSeq
    Map("p50" -> Stats.median(t), "p90" -> Stats.quantile(t, 0.9), "geomean" -> Stats.geomean(t),
      "status_p50" -> Stats.median(s),
      "docs_per_s" -> tally.docsOk.get() / ((lastDone.get() - t0) / 1e9),
      "jobs" -> t.size.toDouble, "generator_lag_ms" -> Stats.quantile(lag.asScala.map(_.doubleValue).toSeq, 0.99))
  }

  /** The async path in-process, in the server's order: multipart →
    * validate → ledger submit on the generator's schedule; ledger process
    * on one worker thread; status reads plus JSON on a poller thread. */
  def asyncTraced(ctx: Ctx, env: Env, deck: Seq[Wire], tally: Tally): Map[String, Double] = {
    val spark = env.spark
    val sc = spark.sparkContext
    val ledger = new JobService.Ledger(ctx.runDir.resolve("ledger-traced").toString)
    val spans = new Spans(true)
    val n = math.max(1, (ctx.seconds * JobsPerSecond).round.toInt)
    val t0 = System.nanoTime() + 20000000L
    val runs = (0 until n).map(i => new JobRun(i, deck(i % deck.size), t0 + (i * 1e9 / JobsPerSecond).toLong))
    val worker = Executors.newSingleThreadExecutor()
    val queued = new AtomicInteger(0)
    val backlogMax = new AtomicInteger(0)
    val queueWait = new ConcurrentLinkedQueue[java.lang.Double]()
    val processOn = new ConcurrentLinkedQueue[java.lang.Double]()
    val processOff = new ConcurrentLinkedQueue[java.lang.Double]()
    val lag = new ConcurrentLinkedQueue[java.lang.Double]()
    val outstanding = new ConcurrentLinkedQueue[JobRun]()
    @volatile var generating = true
    val config = ConversionConfig()
    val gen = new Thread(() => {
      runs.foreach { r =>
        val wait = r.scheduledNs - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        lag.add((System.nanoTime() - r.scheduledNs) / 1e6)
        tally.attempted.incrementAndGet()
        val id = spans("jobs.submit", s"job-${r.i}") {
          val parts = spans("api.multipart")(HttpApi.parseMultipart(r.wire.contentType, r.wire.body))
          val uploads = uploadsOf(parts, "documents")
          spans("ingest.validate")(UploadValidation.readAndValidateBatch(uploads)) match {
            case Left(v) => tally.fail(s"validate: ${v.detail}"); null
            case Right(docs) => spans("jobs.ledger_submit")(ledger.submit(docs, batch = true, config))
          }
        }
        if (id != null) {
          r.id = id; r.submittedNs = System.nanoTime()
          backlogMax.accumulateAndGet(queued.incrementAndGet(), math.max)
          // every other job runs without spans: the trace-overhead control
          val traced = r.i % 2 == 0
          worker.submit(new Runnable {
            def run(): Unit = {
              queued.decrementAndGet()
              val s = System.nanoTime()
              queueWait.add((s - r.submittedNs) / 1e6)
              if (traced) spans("jobs.process", s"job-${r.i}", sc)(ledger.process(spark, id, config))
              else ledger.process(spark, id, config)
              (if (traced) processOn else processOff).add((System.nanoTime() - s) / 1e6)
            }
          })
          outstanding.add(r)
        }
      }
      generating = false
    }, "perfbench-generator")
    val poll = new Thread(() => {
      val giveUp = t0 + ((ctx.seconds + 90) * 1e9).toLong
      while ((generating || !outstanding.isEmpty) && System.nanoTime() < giveUp) {
        outstanding.asScala.toSeq.foreach { r =>
          spans.labeled("jobs.status_pending", s"job-${r.i}", sc) { relabel =>
            val res = ledger.batchStatus(spark, r.id)
            res.status match {
              case JobService.InProgress => ()
              case JobService.Success =>
                relabel("jobs.status_done")
                outstanding.remove(r)
                val js = Json.parse(spans("api.json")(HttpApi.batchJobResultJson(res)))
                val errs = Check.job(js, r.wire.req)
                if (errs.isEmpty) tally.docsOk.addAndGet(r.wire.req.docs.size) else tally.fail(errs.head)
              case other =>
                outstanding.remove(r); tally.fail(s"job ${r.i}: $other ${res.error}")
            }
          }
        }
        Thread.sleep(10)
      }
      outstanding.asScala.foreach(r => tally.fail(s"job ${r.i} unfinished"))
    }, "perfbench-poller")
    val probe = new SparkProbe(spark).register()
    try {
      gen.start(); poll.start(); gen.join(); poll.join()
      worker.shutdown(); worker.awaitTermination(60, TimeUnit.SECONDS)
    } finally probe.unregister()
    val dispatch = probe.dispatchMsPerJob()
    spans.writeJsonl(ctx.runDir.resolve("spans.jsonl"))

    val all = spans.all
    val byName = all.groupBy(_.name)
    def medianOf(name: String) = Stats.median(byName.getOrElse(name, Nil).map(_.ms))
    val ids = all.filter(s => s.name == "jobs.process" || s.name.startsWith("jobs.status")).map(_.id).toSet
    val sp = probe.totals(ids, spans.byId)
    val self = spans.selfMs; val count = spans.count
    def selfPerCall(name: String) = if (count.contains(name)) self(name) / count(name) else 0.0
    val on = Stats.median(processOn.asScala.map(_.doubleValue).toSeq)
    val off = Stats.median(processOff.asScala.map(_.doubleValue).toSeq)
    Map(
      "api.multipart_ms" -> selfPerCall("api.multipart"),
      "api.json_ms" -> selfPerCall("api.json"),
      "ingest.validate_ms" -> selfPerCall("ingest.validate"),
      "jobs.submit_ms" -> medianOf("jobs.submit"),
      "jobs.process_ms" -> medianOf("jobs.process"),
      "jobs.status_done_ms" -> medianOf("jobs.status_done"),
      "jobs.status_pending_ms" -> medianOf("jobs.status_pending"),
      "jobs.queue_wait_ms" -> Stats.median(queueWait.asScala.map(_.doubleValue).toSeq),
      "jobs.backlog_max" -> backlogMax.get().toDouble,
      "spark.planning_ms" -> probe.planningMs,
      "spark.dispatch_ms_per_job" -> dispatch,
      "bench.generator_lag_ms" -> Stats.quantile(lag.asScala.map(_.doubleValue).toSeq, 0.99),
      "bench.trace_overhead_pct" -> (if (off > 0) 100.0 * (on - off) / off else 0.0)
    ) ++ sp.map { case (k, v) => s"spark.$k" -> v }
  }
}
