package graft.kernel

import graft.kernel.DocModel._

/** Pluggable output serializers — the reference declares an OutputFormat
  * enum (md, json, text, doctags — utils.py:20-24) but wires only
  * Markdown; this ships the declared surface for real. All four render a
  * [[DocTree]] deterministically; [[ConvertKernel]] keeps markdown as the
  * wire default exactly like the reference.
  */
trait OutputSerializer {
  def format: String
  def serialize(doc: DocTree): String
}

object OutputSerializers {

  object Markdown extends OutputSerializer {
    val format = "md"
    def serialize(doc: DocTree): String = DocModel.renderMarkdown(doc)
  }

  /** Plain text: headings without markup, table rows tab-separated,
    * pictures as a bracketed marker. */
  object Text extends OutputSerializer {
    val format = "text"
    def serialize(doc: DocTree): String =
      doc.items.map {
        case HeadingElement(t, _) => t
        case TextElement(t) => t
        case ListElement(items, _, _) => items.mkString("\n")
        case t: TableElement =>
          val grid = Array.fill(t.numRows, t.numCols)("")
          t.cells.foreach { c =>
            for (r <- c.startRow until math.min(c.endRow, t.numRows);
                 col <- c.startCol until math.min(c.endCol, t.numCols))
              grid(r)(col) = c.text
          }
          grid.map(_.mkString("\t")).mkString("\n")
        case _: PictureElement => "[image]"
      }.filter(_.nonEmpty).mkString("\n\n")
  }

  /** Structural JSON: one object per element with a `kind` discriminator —
    * the shape a downstream Spark reader ingests with a declared schema
    * (from_json + ArrayType(StructType(...))). */
  object Json extends OutputSerializer {
    import graft.JsonString.{quote => q}

    val format = "json"

    def serialize(doc: DocTree): String = {
      val items = doc.items.map {
        case HeadingElement(t, l) =>
          s"""{"kind":"heading","level":$l,"text":${q(t)}}"""
        case TextElement(t) =>
          s"""{"kind":"text","text":${q(t)}}"""
        case ListElement(items, ordered, levels) =>
          val lvls = if (levels.size == items.size) levels else items.map(_ => 0)
          s"""{"kind":"list","ordered":$ordered,"items":[${items.map(q).mkString(",")}],""" +
            s""""levels":[${lvls.mkString(",")}]}"""
        case t: TableElement =>
          val cells = t.cells.map(c =>
            s"""{"row":${c.startRow},"col":${c.startCol},"text":${q(c.text)},"header":${c.columnHeader}}""")
          s"""{"kind":"table","num_rows":${t.numRows},"num_cols":${t.numCols},"cells":[${cells.mkString(",")}]}"""
        case _: PictureElement =>
          s"""{"kind":"picture"}"""
      }
      s"""{"name":${q(doc.name)},"items":[${items.mkString(",")}]}"""
    }
  }

  /** DocTags-style markup: one tag per element kind, nested cell tags for
    * tables (the reference's fourth declared format, never wired there). */
  object DocTags extends OutputSerializer {
    val format = "doctags"

    private def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    def serialize(doc: DocTree): String =
      doc.items.map {
        case HeadingElement(t, l) => s"<section_header_level_$l>${esc(t)}</section_header_level_$l>"
        case TextElement(t) => s"<text>${esc(t)}</text>"
        case ListElement(items, ordered, _) =>
          val tag = if (ordered) "ordered_list" else "unordered_list"
          s"<$tag>${items.map(i => s"<list_item>${esc(i)}</list_item>").mkString}</$tag>"
        case t: TableElement =>
          val rows = (0 until t.numRows).map { r =>
            val cells = t.cells.filter(c => c.startRow <= r && r < c.endRow)
              .sortBy(_.startCol).map(c => s"<cell>${esc(c.text)}</cell>")
            s"<row>${cells.mkString}</row>"
          }
          s"<table>${rows.mkString}</table>"
        case _: PictureElement => "<picture/>"
      }.mkString("\n")
  }

  val byFormat: Map[String, OutputSerializer] =
    Seq(Markdown, Text, Json, DocTags).map(s => s.format -> s).toMap
}
