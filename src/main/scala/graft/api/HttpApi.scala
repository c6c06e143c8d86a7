package graft.api

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import scala.util.matching.Regex

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.{Health, JsonString}
import graft.ingest.UploadValidation
import graft.ingest.UploadValidation.{Upload, ValidationError}
import graft.jobs.JobService
import graft.kernel.ConvertKernel
import graft.kernel.ConvertKernel.{ConversionConfig, ConversionResult}

/** The reference's HTTP query surface (route.py:38-156, main.py:11-50) on
  * the JDK's built-in HTTP server — zero new dependencies. Endpoints:
  *
  *   POST /documents/convert            sync single   (route.py:38-59)
  *   POST /documents/batch-convert      sync batch    (route.py:62-84)
  *   POST /conversion-jobs              async single  (route.py:88-110)
  *   GET  /conversion-jobs/{id}         job status    (route.py:113-119)
  *   POST /batch-conversion-jobs        async batch   (route.py:122-145)
  *   GET  /batch-conversion-jobs/{id}   batch status  (route.py:148-156)
  *   GET  /health                       liveness      (main.py:32-34)
  *   GET  /health/ready                 readiness     (main.py:37-47)
  *
  * Request/response semantics mirror the reference: multipart/form-data
  * uploads (field `document` / `documents`), query params
  * `extract_tables_as_images` (default false) and `image_resolution_scale`
  * (default 4, 422 outside [1,4] like FastAPI's Query(ge, le)), validation
  * failures as `{"detail": ...}` with the reference's 400/413 texts, and
  * `response_model_exclude_unset` rendering (unset/None fields omitted
  * from JSON). Async jobs submit to the [[JobService.Ledger]] and convert
  * on a background thread (the Celery-worker analog); status endpoints
  * read the ledger with the unknown-id⇒IN_PROGRESS quirk intact.
  *
  * CORS (O23, main.py:20-30): `corsOrigins` is the comma-separated
  * CORS_ALLOW_ORIGINS string — split, trimmed, empties dropped, default
  * `*`; credentials are allowed exactly when the origin list is not
  * `["*"]`. Preflight OPTIONS answers 200 with the allow headers; every
  * response carries Access-Control-Allow-Origin when the request origin
  * is allowed.
  *
  * Scale note: this is the DRIVER-EDGE of the engine, like the reference's
  * FastAPI front-end — uploads are bounded by the same byte accounting
  * (UploadValidation), conversion runs through the same kernel, and the
  * async path hands off to the ledger that a Spark cluster drains. The
  * HTTP layer holds no per-request state beyond the exchange.
  */
object HttpApi {

  // ------------------------------------------------------------- multipart

  /** One part of a multipart/form-data body. */
  final case class Part(name: String, filename: Option[String],
                        data: Array[Byte])

  private val BoundaryRe: Regex = """boundary="?([^";,]+)"?""".r.unanchored
  private val NameRe: Regex = """name="([^"]*)"""".r.unanchored
  private val FilenameRe: Regex = """filename="([^"]*)"""".r.unanchored

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(0, from)
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Parse a multipart/form-data body given the request Content-Type.
    * Returns parts in document order; parts without a Content-Disposition
    * name are dropped. Tolerates a missing terminal CRLF and quoted
    * boundaries; malformed bodies yield Seq.empty (the caller 400s on "no
    * usable parts", matching FastAPI's behavior of rejecting a request
    * whose File(...) field is absent). */
  def parseMultipart(contentType: String, body: Array[Byte]): Seq[Part] = {
    val boundary = contentType match {
      case BoundaryRe(b) => b
      case _ => return Seq.empty
    }
    val delim = ("--" + boundary).getBytes(StandardCharsets.ISO_8859_1)
    val parts = Seq.newBuilder[Part]
    var pos = indexOf(body, delim, 0)
    while (pos >= 0) {
      val next = indexOf(body, delim, pos + delim.length)
      if (next < 0) {
        pos = -1 // terminal "--boundary--" (or truncated body): done
      } else {
        // part content sits between the two delimiters, framed by CRLFs
        var start = pos + delim.length
        if (start + 1 < body.length && body(start) == '\r' && body(start + 1) == '\n')
          start += 2
        var end = next
        if (end - 2 >= start && body(end - 2) == '\r' && body(end - 1) == '\n')
          end -= 2
        if (end > start) {
          val hdrEnd = indexOf(body, "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1), start)
          if (hdrEnd >= 0 && hdrEnd < end) {
            val headers = new String(body, start, hdrEnd - start, StandardCharsets.UTF_8)
            val data = java.util.Arrays.copyOfRange(body, hdrEnd + 4, end)
            val disp = headers.linesIterator
              .find(_.toLowerCase.startsWith("content-disposition:"))
              .getOrElse("")
            val name = NameRe.findFirstMatchIn(disp).map(_.group(1))
            val filename = FilenameRe.findFirstMatchIn(disp).map(_.group(1))
            name.foreach(n => parts += Part(n, filename, data))
          }
        }
        pos = next
        // stop scanning after the terminal marker
        val tail = pos + delim.length
        if (tail + 1 < body.length && body(tail) == '-' && body(tail + 1) == '-')
          pos = -1
      }
    }
    parts.result()
  }

  // ----------------------------------------------------------------- JSON

  private def field(sb: java.lang.StringBuilder, name: String, value: String): java.lang.StringBuilder =
    JsonString.appendQuoted(sb.append('"').append(name).append("\":"), value)

  private def appendArray[A](sb: java.lang.StringBuilder, xs: Seq[A])(
      each: A => Any): java.lang.StringBuilder = {
    sb.append('[')
    xs.iterator.zipWithIndex.foreach { case (x, k) =>
      if (k > 0) sb.append(',')
      each(x)
    }
    sb.append(']')
  }

  private def appendConversionResult(sb: java.lang.StringBuilder,
                                     r: ConversionResult): java.lang.StringBuilder = {
    field(sb.append('{'), "filename", r.filename)
    if (r.error == null) {
      field(sb.append(','), "markdown", if (r.markdown == null) "" else r.markdown)
      appendArray(sb.append(",\"images\":"), r.images) { i =>
        field(sb.append('{'), "type", i.`type`)
        field(sb.append(','), "filename", i.filename)
        field(sb.append(','), "image", i.image).append('}')
      }
    } else field(sb.append(','), "error", r.error)
    sb.append('}')
  }

  /** ConversionResult with exclude_unset semantics: success rows carry
    * filename/markdown/images, failure rows filename/error
    * (service.py:150-158 constructs exactly those field sets). */
  def conversionResultJson(r: ConversionResult): String =
    appendConversionResult(new java.lang.StringBuilder, r).toString

  private def appendJobResult(sb: java.lang.StringBuilder,
                              r: JobService.JobResult): java.lang.StringBuilder = {
    field(sb.append('{'), "job_id", r.jobId)
    r.result.foreach(cr => appendConversionResult(sb.append(",\"result\":"), cr))
    r.error.foreach(e => field(sb.append(','), "error", e))
    field(sb.append(','), "status", r.status).append('}')
  }

  def jobResultJson(r: JobService.JobResult): String =
    appendJobResult(new java.lang.StringBuilder, r).toString

  def batchJobResultJson(r: JobService.BatchJobResult): String = {
    val sb = new java.lang.StringBuilder
    field(sb.append('{'), "job_id", r.jobId)
    appendArray(sb.append(",\"conversion_results\":"), r.conversionResults)(
      appendJobResult(sb, _))
    field(sb.append(','), "status", r.status)
    r.error.foreach(e => field(sb.append(','), "error", e))
    sb.append('}').toString
  }

  // --------------------------------------------------------------- server

  /** Most unread request bytes a response drops before it is sent; a
    * longer upload is cut off by a reset, as before. */
  private val DiscardMaxBytes = 64L << 20

  private def createHttpServer(port: Int): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress(port), 0)
  }

  /** A running API server bound to `port` (0 = ephemeral; read the actual
    * one from `boundPort`). `ledgerRoot` hosts the async jobs ledger.
    *
    * Accepted sockets run with TCP_NODELAY. The JDK server writes the
    * response headers and the body as two separate flushes; with Nagle's
    * algorithm on, the body waits for the client's delayed ACK of the
    * headers (about 40 ms on Linux), which stalls every response no
    * matter how little work it took. The JDK reads the switch only once,
    * when its server configuration class initialises at the first
    * `HttpServer.create` in the JVM, so `createHttpServer` sets it
    * right before that call. */
  final class Server(spark: SparkSession, port: Int, ledgerRoot: String,
                     corsOrigins: String = "*",
                     maxFileMb: Int = UploadValidation.DefaultMaxFileMb,
                     maxBatchMb: Int = UploadValidation.DefaultMaxBatchMb) {

    private val ledger = new JobService.Ledger(ledgerRoot)
    private val http = createHttpServer(port)
    private val pool = Executors.newFixedThreadPool(8)
    private val workers = Executors.newSingleThreadExecutor()

    /** main.py:20-23: comma-split, trim, drop empties; empty list ⇒ ["*"]. */
    private val origins: Seq[String] = {
      val parsed = corsOrigins.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (parsed.isEmpty) Seq("*") else parsed
    }
    private val allowCredentials = origins != Seq("*")

    def boundPort: Int = http.getAddress.getPort

    def start(): this.type = {
      http.setExecutor(pool)
      http.createContext("/", handler)
      http.start()
      this
    }

    def stop(): Unit = {
      http.stop(0)
      pool.shutdownNow()
      workers.shutdownNow()
      ()
    }

    // ---- CORS ----

    private def corsHeaders(ex: HttpExchange): Unit = {
      val reqOrigin = Option(ex.getRequestHeaders.getFirst("Origin"))
      val allow =
        if (origins == Seq("*")) Some("*")
        else reqOrigin.filter(origins.contains)
      allow.foreach { o =>
        ex.getResponseHeaders.set("Access-Control-Allow-Origin", o)
        if (allowCredentials)
          ex.getResponseHeaders.set("Access-Control-Allow-Credentials", "true")
      }
    }

    private def preflight(ex: HttpExchange): Unit = {
      corsHeaders(ex)
      ex.getResponseHeaders.set("Access-Control-Allow-Methods", "*")
      ex.getResponseHeaders.set("Access-Control-Allow-Headers", "*")
      ex.sendResponseHeaders(200, -1)
      ex.close()
    }

    // ---- plumbing ----

    private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
      discardUnread(ex)
      val bytes = json.getBytes(StandardCharsets.UTF_8)
      corsHeaders(ex)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os: OutputStream = ex.getResponseBody
      os.write(bytes)
      os.close()
    }

    /** Read and drop request bytes the handler left unread (a refused
      * upload, a 422 before the body), up to `DiscardMaxBytes`, before the
      * response goes out. The JDK server closes a connection whose request
      * body is not at its end once the response is written, and closing a
      * socket with unread input makes the kernel send a reset: a client
      * still writing its body then fails the exchange before it reads the
      * answer. Only the bytes are read; nothing is buffered. */
    private def discardUnread(ex: HttpExchange): Unit = {
      val in = ex.getRequestBody
      val buf = new Array[Byte](64 * 1024)
      var left = DiscardMaxBytes
      var n = in.read(buf)
      while (n >= 0 && left > 0) {
        left -= n
        n = in.read(buf)
      }
    }

    private def detail(ex: HttpExchange, status: Int, msg: String): Unit =
      respond(ex, status, s"""{"detail":${JsonString.quote(msg)}}""")

    private def queryParams(ex: HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
        .filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap

    /** FastAPI Query(ge=1, le=4) semantics: out-of-range or non-integer
      * params are a 422 validation error before the handler runs. */
    private def parseConfig(params: Map[String, String]): Either[String, ConversionConfig] = {
      val extract = params.get("extract_tables_as_images")
        .map(_.toLowerCase).map {
          case "true" | "1" => Right(true)
          case "false" | "0" => Right(false)
          case other => Left(s"extract_tables_as_images: invalid boolean '$other'")
        }.getOrElse(Right(false))
      val scale = params.get("image_resolution_scale").map { s =>
        s.toIntOption match {
          case Some(n) if n >= 1 && n <= 4 => Right(n)
          case Some(n) => Left(s"image_resolution_scale: $n not in [1, 4]")
          case None => Left(s"image_resolution_scale: invalid integer '$s'")
        }
      }.getOrElse(Right(4))
      for (e <- extract; sc <- scale)
        yield ConversionConfig(extractTablesAsImages = e, imageResolutionScale = sc)
    }

    /** Bounded body read — the server-edge twin of UploadValidation's
      * bounded reads: never buffer more than the endpoint's payload budget
      * plus multipart framing slack (25% + 1 MiB — per-part framing is
      * ~200 bytes, so the slack covers any batch whose average part is a
      * kilobyte or more; beyond that the cap's memory bound deliberately
      * wins over 413-text fidelity). A Content-Length above the cap is
      * refused before buffering a byte; otherwise the buffer is pre-sized
      * to the declared length. Returns None when the body overruns the
      * cap; an over-cap body is over the payload budget by construction,
      * so no such valid request is ever truncated. */
    private def readBodyBounded(ex: HttpExchange, budgetBytes: Long): Option[Array[Byte]] = {
      val cap = budgetBytes + math.max(1L << 20, budgetBytes / 4)
      val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
        .flatMap(_.toLongOption)
      if (declared.exists(_ > cap)) return None
      val in = ex.getRequestBody
      val out = new java.io.ByteArrayOutputStream(
        declared.filter(d => d > 0 && d <= cap).map(_.toInt).getOrElse(8192))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0 && out.size <= cap) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      if (out.size > cap) None else Some(out.toByteArray)
    }

    /** None ⇒ the body overran the endpoint's cap and a 413 was already
      * sent — the single-doc endpoint caps at the FILE budget with the
      * file error text, the batch endpoint at the BATCH budget with the
      * batch text (mirroring which limit readAndValidate* would have
      * reported for an over-budget payload). */
    private def uploadsOf(ex: HttpExchange, field: String,
                          batch: Boolean): Option[Seq[Upload]] = {
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      val budget =
        if (batch) UploadValidation.mbToBytes(maxBatchMb)
        else UploadValidation.mbToBytes(maxFileMb)
      readBodyBounded(ex, budget) match {
        case None =>
          detail(ex, 413,
            if (batch) UploadValidation.batchTooLargeError(maxBatchMb)
            else UploadValidation.fileTooLargeError(maxFileMb))
          None
        case Some(body) =>
          Some(parseMultipart(ct, body).filter(_.name == field).map { p =>
            new Upload {
              val filename: String = p.filename.getOrElse("unnamed")
              val declaredSize: Option[Long] = Some(p.data.length.toLong)
              def read(n: Long): Array[Byte] =
                p.data.take(math.min(n, p.data.length.toLong).toInt)
            }
          })
      }
    }

    // ---- handlers ----

    private val handler = new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        try route(ex)
        catch {
          case e: Exception =>
            try detail(ex, 500, String.valueOf(e.getMessage))
            catch { case _: Exception => () }
        } finally ex.close()
    }

    private def route(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val method = ex.getRequestMethod.toUpperCase
      (method, path) match {
        case ("OPTIONS", _) => preflight(ex)
        case ("GET", "/health") =>
          respond(ex, 200, """{"status":"ok"}""")
        case ("GET", "/health/ready") =>
          // main.py:37-47 probes the broker; our "broker" is the Spark
          // session the ledger worker drains with
          if (Health.ready(spark)) respond(ex, 200, """{"status":"ok","broker":"ok"}""")
          else respond(ex, 200, """{"status":"degraded","broker":"unreachable"}""")
        case ("POST", "/documents/convert") => syncConvert(ex, batch = false)
        case ("POST", "/documents/batch-convert") => syncConvert(ex, batch = true)
        case ("POST", "/conversion-jobs") => submitJob(ex, batch = false)
        case ("POST", "/batch-conversion-jobs") => submitJob(ex, batch = true)
        case ("GET", p) if p.startsWith("/conversion-jobs/") =>
          val id = p.stripPrefix("/conversion-jobs/")
          respond(ex, 200, jobResultJson(ledger.singleStatus(spark, id)))
        case ("GET", p) if p.startsWith("/batch-conversion-jobs/") =>
          val id = p.stripPrefix("/batch-conversion-jobs/")
          respond(ex, 200, batchJobResultJson(ledger.batchStatus(spark, id)))
        case _ => detail(ex, 404, "Not Found")
      }
    }

    private def validated(ex: HttpExchange, batch: Boolean): Either[Unit, Seq[(String, Array[Byte])]] = {
      val field = if (batch) "documents" else "document"
      val uploads = uploadsOf(ex, field, batch) match {
        case None => return Left(()) // body overran the cap; 413 already sent
        case Some(ups) => ups
      }
      if (uploads.isEmpty) {
        detail(ex, 400, s"Field '$field' is required")
        return Left(())
      }
      val result =
        if (batch) UploadValidation.readAndValidateBatch(uploads, maxFileMb, maxBatchMb)
        else UploadValidation.readAndValidateDocument(uploads.head, maxFileMb).map(Seq(_))
      result match {
        case Left(ValidationError(status, msg)) => detail(ex, status, msg); Left(())
        case Right(docs) => Right(docs)
      }
    }

    private def syncConvert(ex: HttpExchange, batch: Boolean): Unit =
      parseConfig(queryParams(ex)) match {
        case Left(msg) => detail(ex, 422, msg)
        case Right(config) =>
          validated(ex, batch).foreach { docs =>
            val results = docs.map { case (name, bytes) =>
              ConvertKernel.convertOne(name, bytes, config, batchMode = batch)
            }
            if (batch)
              respond(ex, 200, results.map(conversionResultJson).mkString("[", ",", "]"))
            else if (results.head.error != null)
              // O17 sync error escalation (service.py:196-199): a single
              // sync conversion error is a 500, not an error row
              detail(ex, 500, results.head.error)
            else respond(ex, 200, conversionResultJson(results.head))
          }
      }

    private def submitJob(ex: HttpExchange, batch: Boolean): Unit =
      parseConfig(queryParams(ex)) match {
        case Left(msg) => detail(ex, 422, msg)
        case Right(config) =>
          validated(ex, batch).foreach { docs =>
            val id = ledger.submit(docs, batch, config)
            // the Celery-worker analog: convert off the request thread
            workers.submit(new Runnable {
              def run(): Unit =
                try ledger.process(spark, id, config)
                catch { case _: Exception => () } // process records task failure
            })
            val json =
              if (batch)
                batchJobResultJson(JobService.BatchJobResult(id, Seq.empty, JobService.InProgress, None))
              else jobResultJson(JobService.JobResult(id, None, None, JobService.InProgress))
            respond(ex, 200, json)
          }
      }
  }
}
