package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.charset.{Charset, StandardCharsets}
import java.security.MessageDigest
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.util.Random

/** Seeded document corpus with its own oracle.
  *
  * Every generated document carries the result the service must return for
  * it, derived from how the document was built — never from the converter's
  * own output. Formats whose markdown layout is fully determined by their
  * structure (md, csv, docx, pptx, images) pin the exact markdown by length
  * and SHA-256; html, asciidoc and pdf pin the ordered marker words the
  * markdown must contain. All formats pin the image list and error text.
  */
object Corpus {

  /** Expected conversion result of one document. */
  final case class Expect(
      stem: String,
      error: Option[String],
      images: Seq[String], // "type:filename" in document order
      exactMarkdown: Option[String],
      markers: Seq[String])

  final case class Doc(kind: String, filename: String, bytes: Array[Byte],
                       expect: Expect)

  /** One request of the sync or async deck. */
  final case class Req(batch: Boolean, scale: Int, extractTables: Boolean,
                       docs: Seq[Doc]) {
    def bytes: Long = docs.map(_.bytes.length.toLong).sum
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Compare one returned row against its expectation; None when it
    * matches, else a one-line reason. `batchMode` picks the filename the
    * service reports on error rows (full name in batches, stem otherwise). */
  def check(e: Expect, filename: String, markdown: Option[String],
            images: Seq[String], error: Option[String],
            fullName: String, batchMode: Boolean): Option[String] = {
    val wantName = if (e.error.isDefined && batchMode) fullName else e.stem
    if (filename != wantName) Some(s"$fullName: filename '$filename' != '$wantName'")
    else if (error != e.error) Some(s"$fullName: error ${error.map(_.take(80))} != ${e.error.map(_.take(80))}")
    else if (e.error.isDefined) None
    else if (images != e.images) Some(s"$fullName: images ${images.take(4)} != ${e.images.take(4)} (${images.size} vs ${e.images.size})")
    else {
      val md = markdown.getOrElse("")
      e.exactMarkdown match {
        case Some(want) =>
          if (md.length != want.length || sha256(md) != sha256(want))
            Some(s"$fullName: markdown length ${md.length} digest ${sha256(md).take(12)} != ${want.length} ${sha256(want).take(12)}")
          else None
        case None =>
          var from = 0
          e.markers.collectFirst(Function.unlift { m =>
            val at = md.indexOf(m, from)
            if (at < 0) Some(s"$fullName: marker '$m' missing or out of order")
            else { from = at + m.length; None }
          })
      }
    }
  }

  // ------------------------------------------------------------ builders

  private final class Gen(seed: Long) {
    val rnd = new Random(seed)
    private var serial = 0
    private val vocab = Seq("alpha", "delta", "ledger", "vector", "shard",
      "ingest", "render", "kernel", "batch", "stream", "column", "record",
      "quota", "signal", "index", "filter", "merge", "window", "parser", "token")
    def marker(): String = {
      serial += 1
      "mk" + serial + rnd.alphanumeric.filter(_.isLetter).take(6).mkString.toLowerCase
    }
    def words(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def name(kind: String, ext: String): String = { serial += 1; s"${kind}_${serial}_${rnd.nextInt(100000)}.$ext" }
  }

  private def stemOf(filename: String): String = {
    val dot = filename.lastIndexOf('.')
    if (dot > 0) filename.substring(0, dot) else filename
  }

  private def pipeTable(rows: Seq[Seq[String]]): String = {
    val header = rows.head.mkString("| ", " | ", " |")
    val sep = rows.head.map(_ => "---").mkString("|", "|", "|")
    (header +: sep +: rows.tail.map(_.mkString("| ", " | ", " |"))).mkString("\n")
  }

  /** Spliced image names in document order, for elements tagged "t"
    * (table) or "p" (picture); tables only carry images when extracted. */
  private def imageNames(elems: Seq[String], extractTables: Boolean): Seq[String] = {
    var t = 0; var p = 0
    elems.flatMap {
      case "t" if extractTables => t += 1; Some(s"table:table-$t.png")
      case "p" => p += 1; Some(s"picture:picture-$p.png")
      case _ => None
    }
  }

  /** Markdown of a block list where tables and pictures are spliced the
    * way the service splices them. Blocks are ("h"|"x"|"t"|"p", text). */
  private def splicedMarkdown(blocks: Seq[(String, String)], extractTables: Boolean): String = {
    var t = 0; var p = 0
    blocks.map {
      case ("t", md) if extractTables => t += 1; s"$md\n\ntable-$t.png"
      case ("p", _) => p += 1; s"picture-$p.png"
      case (_, md) => md
    }.mkString("\n\n")
  }

  private def table(g: Gen, rows: Int, cols: Int): Seq[Seq[String]] =
    Seq.tabulate(rows, cols)((r, c) =>
      if (r == 0) s"h$c${g.rnd.alphanumeric.filter(_.isLetter).take(3).mkString.toLowerCase}"
      else s"${g.words(1)}${r}x$c")

  private def zip(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (n, c) => zos.putNextEntry(new ZipEntry(n)); zos.write(c); zos.closeEntry() }
    zos.close()
    bos.toByteArray
  }

  private def u(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** A w×h raster: `noise` pixels (incompressible, sets the byte size)
    * or a smooth gradient (scan-like). */
  private def raster(g: Gen, w: Int, h: Int, noise: Boolean): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val row = new Array[Int](w)
    val base = g.rnd.nextInt(0xFFFFFF)
    for (y <- 0 until h) {
      var x = 0
      while (x < w) {
        row(x) = if (noise) g.rnd.nextInt(0xFFFFFF) else (base + x * 3 + y * 5) & 0xFFFFFF
        x += 1
      }
      img.setRGB(0, y, w, 1, row, 0, w)
    }
    img
  }

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Noise-PNG side length whose file is about `bytes` long. */
  private def sideFor(bytes: Int): Int = math.max(8, math.sqrt(bytes / 3.0).toInt)

  // ----------------------------------------------------------- formats

  private def md(g: Gen, target: Int, extract: Boolean): Doc = {
    val blocks = Seq.newBuilder[(String, String)]
    var size = 0
    var i = 0
    while (size < target) {
      val m = g.marker()
      i += 1
      val b = i % 10 match {
        case 0 => ("h", s"## Section $m")
        case 3 => ("t", pipeTable(table(g, 2 + i % 4, 2 + i % 3)))
        case 7 if i % 20 == 7 => ("p", s"![figure $m](fig.png)")
        case _ => ("x", s"Paragraph $m ${g.words(8 + g.rnd.nextInt(40))}.")
      }
      blocks += b
      size += b._2.length + 2
    }
    val bs = ("h", s"# Title ${g.marker()}") +: blocks.result()
    val src = bs.map(_._2).mkString("\n\n") + "\n"
    val name = g.name("notes", "md")
    Doc("md", name, u(src), Expect(stemOf(name), None,
      imageNames(bs.map(_._1), extract), Some(splicedMarkdown(bs, extract)), Nil))
  }

  private val Cp1252: Charset = Charset.forName("windows-1252")

  private def csv(g: Gen, target: Int, extract: Boolean, cp1252: Boolean): Doc = {
    val cols = 3 + g.rnd.nextInt(4)
    val accents = Seq("café", "naïve", "über", "señor", "façade")
    val header = (0 until cols).map(c => s"col$c${g.marker()}")
    val rows = Seq.newBuilder[Seq[String]]
    var size = 0
    var r = 0
    while (size < target) {
      r += 1
      val row = (0 until cols).map { c =>
        if (c == 0) s"r$r"
        else if (cp1252 && (r + c) % 7 == 0) accents(g.rnd.nextInt(accents.size))
        else g.rnd.nextInt(1000000).toString
      }
      rows += row
      size += row.map(_.length + 1).sum
    }
    val all = header +: rows.result()
    val text = all.map(_.mkString(",")).mkString("\n") + "\n"
    val name = g.name(if (cp1252) "ledger1252" else "ledger", "csv")
    Doc("csv", name, text.getBytes(if (cp1252) Cp1252 else StandardCharsets.UTF_8),
      Expect(stemOf(name), None, imageNames(Seq("t"), extract),
        Some(splicedMarkdown(Seq(("t", pipeTable(all))), extract)), Nil))
  }

  private def html(g: Gen, target: Int, extract: Boolean): Doc = {
    val sb = new StringBuilder("<!DOCTYPE html><html><head><title>doc</title></head><body>")
    val markers = Seq.newBuilder[String]
    val elems = Seq.newBuilder[String]
    val h = g.marker(); markers += h
    sb ++= s"<h1>Report $h</h1>"
    var i = 0
    while (sb.length < target) {
      val m = g.marker(); markers += m
      i += 1
      i % 6 match {
        case 0 =>
          val t = table(g, 2 + i % 4, 2 + i % 3)
          sb ++= s"<p>Table $m</p><table>"
          t.zipWithIndex.foreach { case (row, ri) =>
            val tag = if (ri == 0) "th" else "td"
            sb ++= row.map(c => s"<$tag>$c</$tag>").mkString("<tr>", "", "</tr>")
          }
          sb ++= "</table>"
          elems += "t"
        case 3 =>
          sb ++= s"<p>Figure $m</p><img src=\"fig$m.png\" alt=\"chart\">"
          elems += "p"
        case _ =>
          sb ++= s"<p>Text $m ${g.words(10 + g.rnd.nextInt(40))}.</p>"
      }
    }
    sb ++= "</body></html>"
    val name = g.name("page", "html")
    Doc("html", name, u(sb.toString), Expect(stemOf(name), None,
      imageNames(elems.result(), extract), None, markers.result()))
  }

  private def asciidoc(g: Gen, target: Int, extract: Boolean): Doc = {
    val blocks = Seq.newBuilder[String]
    val markers = Seq.newBuilder[String]
    val elems = Seq.newBuilder[String]
    val t0 = g.marker(); markers += t0
    blocks += s"= Guide $t0"
    var size = 0
    var i = 0
    while (size < target) {
      val m = g.marker(); markers += m
      i += 1
      val b = i % 7 match {
        case 0 => s"== Part $m"
        case 2 =>
          elems += "t"
          val t = table(g, 2 + i % 3, 2 + i % 3)
          s"Table $m\n\n" + ("|===" +: t.map(_.mkString("|", "|", "")) :+ "|===").mkString("\n")
        case 4 if i % 14 == 4 => elems += "p"; s"Figure $m\n\nimage::fig$m.png[]"
        case _ => s"Paragraph $m ${g.words(10 + g.rnd.nextInt(40))}."
      }
      blocks += b
      size += b.length + 2
    }
    val name = g.name("guide", "adoc")
    Doc("asciidoc", name, u(blocks.result().mkString("\n\n") + "\n"),
      Expect(stemOf(name), None, imageNames(elems.result(), extract), None, markers.result()))
  }

  private val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
  private val A = "http://schemas.openxmlformats.org/drawingml/2006/main"
  private val P = "http://schemas.openxmlformats.org/presentationml/2006/main"
  private val R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val Rels = "http://schemas.openxmlformats.org/package/2006/relationships"

  private def docx(g: Gen, target: Int, extract: Boolean): Doc = {
    def wp(text: String, style: Option[String] = None): String = {
      val pPr = style.map(s => s"""<w:pPr><w:pStyle w:val="$s"/></w:pPr>""").getOrElse("")
      s"<w:p>$pPr<w:r><w:t>$text</w:t></w:r></w:p>"
    }
    val body = new StringBuilder
    val blocks = Seq.newBuilder[(String, String)]
    val media = Seq.newBuilder[(String, Array[Byte])]
    var mediaBytes = 0
    val title = s"Memo ${g.marker()}"
    body ++= wp(title, Some("Heading1")); blocks += (("h", s"# $title"))
    var i = 0
    while (mediaBytes < target) {
      i += 1
      val para = s"Paragraph ${g.marker()} ${g.words(10 + g.rnd.nextInt(30))}."
      body ++= wp(para); blocks += (("x", para))
      if (i % 2 == 0) {
        val t = table(g, 2 + i % 3, 2 + i % 3)
        body ++= t.map(r => r.map(c => s"<w:tc><w:p><w:r><w:t>$c</w:t></w:r></w:p></w:tc>")
          .mkString("<w:tr>", "", "</w:tr>")).mkString("<w:tbl>", "", "</w:tbl>")
        blocks += (("t", pipeTable(t)))
      }
      val png = encode(raster(g, sideFor(math.min(60000, target / 2)), sideFor(math.min(60000, target / 2)), noise = true), "png")
      val k = media.result().size + 1
      media += ((s"word/media/image$k.png", png))
      mediaBytes += png.length
      body ++= s"""<w:p><w:r><w:drawing><wp:inline xmlns:wp="x"><a:blip xmlns:a="$A" r:embed="rImg$k" xmlns:r="$R"/></wp:inline></w:drawing></w:r></w:p>"""
      blocks += (("p", ""))
    }
    val rels = media.result().zipWithIndex.map { case ((path, _), j) =>
      s"""<Relationship Id="rImg${j + 1}" Type="$R/image" Target="${path.stripPrefix("word/")}"/>"""
    }.mkString
    val bytes = zip(Seq(
      "[Content_Types].xml" -> u("<Types/>"),
      "word/document.xml" -> u(s"""<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>"""),
      "word/_rels/document.xml.rels" -> u(s"""<?xml version="1.0"?><Relationships xmlns="$Rels">$rels</Relationships>""")
    ) ++ media.result(): _*)
    val bs = blocks.result()
    val name = g.name("memo", "docx")
    Doc("docx", name, bytes, Expect(stemOf(name), None,
      imageNames(bs.map(_._1), extract), Some(splicedMarkdown(bs, extract)), Nil))
  }

  private def pptx(g: Gen, target: Int, extract: Boolean): Doc = {
    def sp(text: String, title: Boolean): String = {
      val ph = if (title) """<p:ph type="title"/>""" else ""
      s"""<p:sp><p:nvSpPr><p:nvPr>$ph</p:nvPr></p:nvSpPr><p:txBody><a:p><a:r><a:t>$text</a:t></a:r></a:p></p:txBody></p:sp>"""
    }
    val entries = Seq.newBuilder[(String, Array[Byte])]
    entries += "[Content_Types].xml" -> u("<Types/>")
    entries += "ppt/presentation.xml" -> u("<p/>")
    val blocks = Seq.newBuilder[(String, String)]
    var size = 0
    var n = 0
    while (size < target) {
      n += 1
      val title = s"Slide ${g.marker()}"
      val text = s"Point ${g.marker()} ${g.words(6 + g.rnd.nextInt(12))}."
      val t = table(g, 2 + n % 3, 2 + n % 2)
      val frame = t.map(r => r.map(c => s"<a:tc><a:txBody><a:p><a:r><a:t>$c</a:t></a:r></a:p></a:txBody></a:tc>")
        .mkString("<a:tr>", "", "</a:tr>")).mkString("<p:graphicFrame><a:tbl>", "", "</a:tbl></p:graphicFrame>")
      val png = encode(raster(g, sideFor(math.min(50000, target / 2)), sideFor(math.min(50000, target / 2)), noise = true), "png")
      val pic = s"""<p:pic><p:blipFill><a:blip r:embed="rId2" xmlns:r="$R"/></p:blipFill></p:pic>"""
      entries += s"ppt/slides/slide$n.xml" -> u(
        s"""<?xml version="1.0"?><p:sld xmlns:p="$P" xmlns:a="$A"><p:cSld><p:spTree>""" +
          sp(title, title = true) + sp(text, title = false) + frame + pic + "</p:spTree></p:cSld></p:sld>")
      entries += s"ppt/slides/_rels/slide$n.xml.rels" -> u(
        s"""<?xml version="1.0"?><Relationships xmlns="$Rels"><Relationship Id="rId2" Type="$R/image" Target="../media/image$n.png"/></Relationships>""")
      entries += s"ppt/media/image$n.png" -> png
      blocks ++= Seq(("h", s"# $title"), ("x", text), ("t", pipeTable(t)), ("p", ""))
      size += png.length + 600
    }
    val bs = blocks.result()
    val name = g.name("deck", "pptx")
    Doc("pptx", name, zip(entries.result(): _*), Expect(stemOf(name), None,
      imageNames(bs.map(_._1), extract), Some(splicedMarkdown(bs, extract)), Nil))
  }

  /** Multi-page PDF: positioned text lines and an unruled text grid (read
    * as a table) on every page, and one DCT (JPEG) image XObject drawn on
    * the second page. */
  private def pdf(g: Gen, target: Int, extract: Boolean): Doc = {
    val jpeg = encode(raster(g, 96, 64, noise = false), "jpeg")
    val markers = Seq.newBuilder[String]
    val pages = Seq.newBuilder[String]
    val elems = Seq.newBuilder[String]
    var size = 0
    var p = 0
    val imagePage = 1
    while (size < target || p < 2) {
      val lines = (0 until 10).map { _ =>
        val m = g.marker(); markers += m
        s"Line $m ${g.words(6)}"
      }
      val text = "BT /F1 11 Tf 72 720 Td " + lines.zipWithIndex.map { case (l, i) =>
        (if (i == 0) "" else "0 -14 Td ") + s"($l) Tj "
      }.mkString + "ET"
      def pad(s: String) = s + " " * (10 - s.length)
      val grid = (0 until 4).map(r => (0 until 3).map(c => if (r == 0) s"h$c" else s"v${r}c$c").map(pad).mkString.trim)
      val gridOps = "BT /F1 10 Tf 72 500 Td " + grid.zipWithIndex.map { case (l, i) =>
        (if (i == 0) "" else "0 -12 Td ") + s"($l) Tj "
      }.mkString + "ET"
      val img = if (p == imagePage) "\nq 96 0 0 64 72 300 cm /Im0 Do Q" else ""
      elems += "t"
      if (p == imagePage) elems += "p"
      pages += text + "\n" + gridOps + img
      size += text.length + gridOps.length + 200
      p += 1
    }
    val contents = pages.result()
    val nPages = contents.size
    val bos = new ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w(s"2 0 obj\n<< /Type /Pages /Kids [${(0 until nPages).map(i => s"${4 + i} 0 R").mkString(" ")}] /Count $nPages >>\nendobj\n")
    w(s"3 0 obj\n<< /Type /XObject /Subtype /Image /Width 96 /Height 64 /BitsPerComponent 8 " +
      s"/ColorSpace /DeviceRGB /Filter /DCTDecode /Length ${jpeg.length} >>\nstream\n")
    bos.write(jpeg)
    w("\nendstream\nendobj\n")
    (0 until nPages).foreach { i =>
      w(s"${4 + i} 0 obj\n<< /Type /Page /Parent 2 0 R /Contents ${4 + nPages + i} 0 R " +
        "/Resources << /XObject << /Im0 3 0 R >> >> >>\nendobj\n")
    }
    contents.zipWithIndex.foreach { case (c, i) =>
      val payload = c.getBytes(StandardCharsets.ISO_8859_1)
      w(s"${4 + nPages + i} 0 obj\n<< /Length ${payload.length} >>\nstream\n")
      bos.write(payload)
      w("\nendstream\nendobj\n")
    }
    w("%%EOF\n")
    val name = g.name("scan", "pdf")
    Doc("pdf", name, bos.toByteArray, Expect(stemOf(name), None,
      imageNames(elems.result(), extract), None, markers.result()))
  }

  private def image(g: Gen, target: Int, jpeg: Boolean): Doc = {
    val side = sideFor(target)
    val bytes =
      if (jpeg) encode(raster(g, side * 2, side * 2, noise = false), "jpeg")
      else encode(raster(g, side, side, noise = true), "png")
    val name = g.name("photo", if (jpeg) "jpg" else "png")
    Doc("image", name, bytes, Expect(stemOf(name), None, Seq("picture:picture-1.png"),
      Some("picture-1.png"), Nil))
  }

  /** A file that passes upload validation (PNG signature) but cannot be
    * decoded; the service must answer with an error row. */
  private def undecodable(g: Gen): Doc = {
    val name = g.name("broken", "png")
    val bytes = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      Array.fill(200 + g.rnd.nextInt(2000))(g.rnd.nextInt(256).toByte)
    Doc("unsupported", name, bytes, Expect(stemOf(name),
      Some(s"Could not decode image '$name' (OCR text extraction additionally " +
        "requires ML models not available in this build)"), Nil, None, Nil))
  }

  // -------------------------------------------------------------- decks

  /** Heavy-tailed size at a fixed quantile (so every seed gets the same
    * size profile), jittered ±2% by the seed. */
  private def sizeAt(g: Gen, q: Double, lo: Int, hi: Int): Int = {
    val v = lo * math.pow(hi.toDouble / lo, q * q * q)
    (v * (0.98 + 0.04 * g.rnd.nextDouble())).toInt
  }

  private def small(g: Gen, i: Int, extract: Boolean): Doc = i % 5 match {
    case 0 => md(g, 400 + g.rnd.nextInt(1200), extract)
    case 1 => csv(g, 300 + g.rnd.nextInt(1500), extract, cp1252 = i % 2 == 1)
    case 2 => html(g, 600 + g.rnd.nextInt(1500), extract)
    case 3 => asciidoc(g, 400 + g.rnd.nextInt(1200), extract)
    case _ => md(g, 200 + g.rnd.nextInt(600), extract)
  }

  /** The sync deck: a fixed composition of single and batch requests whose
    * content, order and sizes (within fixed quantile bands) follow the
    * seed. Clients cycle through it. */
  def syncDeck(seed: Long): Seq[Req] = {
    val g = new Gen(seed)
    val reqs = Seq.newBuilder[Req]
    // (kind, count, lo bytes, hi bytes)
    val plan = Seq(("md", 8, 1000, 60000), ("csv", 5, 2000, 400000), ("csv1252", 3, 2000, 200000),
      ("html", 5, 2000, 120000), ("asciidoc", 4, 1500, 60000), ("docx", 3, 20000, 300000),
      ("pptx", 3, 20000, 250000), ("pdf", 4, 2000, 40000), ("png", 2, 8000, 300000),
      ("jpeg", 2, 20000, 400000))
    var n = 0
    plan.foreach { case (kind, count, lo, hi) =>
      (0 until count).foreach { i =>
        n += 1
        val extract = n % 4 == 0
        val scale = if (n % 3 == 0) 1 else 4
        val sz = sizeAt(g, (i + 0.5) / count, lo, hi)
        val d = kind match {
          case "md" => md(g, sz, extract)
          case "csv" => csv(g, sz, extract, cp1252 = false)
          case "csv1252" => csv(g, sz, extract, cp1252 = true)
          case "html" => html(g, sz, extract)
          case "asciidoc" => asciidoc(g, sz, extract)
          case "docx" => docx(g, sz, extract)
          case "pptx" => pptx(g, sz, extract)
          case "pdf" => pdf(g, sz, extract)
          case "png" => image(g, sz, jpeg = false)
          case "jpeg" => image(g, sz, jpeg = true)
        }
        reqs += Req(batch = false, scale, extract, Seq(d))
      }
    }
    // the heavy tail: one ~2.4 MB scan at full scale, one ~860 KB CSV
    reqs += Req(batch = false, 4, extractTables = false, Seq(image(g, 2400000 + g.rnd.nextInt(40000), jpeg = false)))
    reqs += Req(batch = false, 4, extractTables = false, Seq(csv(g, 860000 + g.rnd.nextInt(10000), extract = false, cp1252 = false)))
    // batch-convert requests of 2-8 small docs, one undecodable file each
    (0 until 6).foreach { b =>
      val k = 2 + (b * 5) % 7
      val docs = (0 until k - 1).map(i => small(g, b + i, extract = b % 3 == 0)) :+ undecodable(g)
      reqs += Req(batch = true, if (b % 2 == 0) 4 else 1, extractTables = b % 3 == 0, g.rnd.shuffle(docs))
    }
    g.rnd.shuffle(reqs.result())
  }

  /** The async deck: batch jobs of 8 small (k1-sized) documents. */
  def asyncDeck(seed: Long, jobs: Int): Seq[Req] = {
    val g = new Gen(seed)
    Seq.tabulate(jobs) { j =>
      val docs = (0 until 8).map(i => small(g, j + i, extract = false))
      Req(batch = true, scale = 4, extractTables = false, docs)
    }
  }
}
