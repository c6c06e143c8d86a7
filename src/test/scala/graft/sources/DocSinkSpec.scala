package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The V2 sink's protocol contract: parallel per-row file delivery,
  * two-phase publish (nothing visible before driver commit; staging
  * gone after), clean overwrite on re-delivery, path-traversal
  * sanitization, and schema rejection at write-build time. */
class DocSinkSpec extends SparkTestBase {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sink").toString

  private def listVisible(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(_.getName).toSet

  test("writes one file per row across partitions and round-trips bytes") {
    val dir = tmp()
    val docs = (0 until 40)
      .map(i => (s"doc$i.md", s"# doc $i\ncontent-$i"))
      .toDF("filename", "content")
      .repartition(8)
    docs.write.format("doclingsink").mode("append").save(dir)
    assert(listVisible(dir) == (0 until 40).map(i => s"doc$i.md").toSet)
    (0 until 40).foreach { i =>
      val got = new String(Files.readAllBytes(Paths.get(dir, s"doc$i.md")), "UTF-8")
      assert(got == s"# doc $i\ncontent-$i", s"doc$i.md corrupted: $got")
    }
    // two-phase publish left no staging residue
    assert(new java.io.File(dir).listFiles().forall(!_.getName.startsWith("_staging_")))
  }

  test("re-delivery of the same filename overwrites cleanly") {
    val dir = tmp()
    Seq(("a.txt", "v1")).toDF("filename", "content")
      .write.format("doclingsink").mode("append").save(dir)
    Seq(("a.txt", "v2"), ("b.txt", "fresh")).toDF("filename", "content")
      .write.format("doclingsink").mode("append").save(dir)
    assert(new String(Files.readAllBytes(Paths.get(dir, "a.txt"))) == "v2")
    assert(new String(Files.readAllBytes(Paths.get(dir, "b.txt"))) == "fresh")
  }

  test("filenames sanitize to their basename — no path traversal") {
    val dir = tmp()
    Seq(("../../escape.txt", "x"), ("nested/dir/ok.txt", "y"))
      .toDF("filename", "content")
      .write.format("doclingsink").mode("append").save(dir)
    assert(listVisible(dir) == Set("escape.txt", "ok.txt"))
    assert(!Files.exists(Paths.get(dir).getParent.resolve("escape.txt")))
  }

  test("wrong schema is rejected at write-build time") {
    val dir = tmp()
    val bad = Seq((1L, "x")).toDF("id", "content")
    // Spark rejects against the declared table schema before the
    // builder even runs — the engine-level half of the contract
    val e = intercept[Exception] {
      bad.write.format("doclingsink").mode("append").save(dir)
    }
    assert(e.getMessage.contains("filename"),
      s"unexpected error: ${e.getMessage}")
    assert(listVisible(dir).isEmpty, "rejected write left artifacts")
  }

  test("bundled mode packs <=N docs per shard and the index slices every doc back") {
    val dir = tmp()
    val docs = (0 until 40)
      .map(i => (s"doc$i.md", s"# doc $i\ncontent-$i"))
    docs.toDF("filename", "content").repartition(4)
      .write.format("doclingsink").option("bundleDocs", 8)
      .mode("append").save(dir)
    val files = listVisible(dir)
    val bins = files.filter(_.endsWith(".bin"))
    val idxs = files.filter(_.endsWith(".idx"))
    assert(bins.nonEmpty && idxs == bins.map(_ + ".idx"),
      s"every shard needs exactly one sidecar index: $files")
    assert(files == bins ++ idxs, s"stray per-doc files in bundled mode: $files")
    // parse the index sidecars and slice every doc back out by offset/len
    val entryRe =
      """\{"bundle":"([^"]+)","name":"([^"]+)","offset":(\d+),"len":(\d+)\}""".r
    val entries = idxs.toSeq.flatMap { idx =>
      new String(Files.readAllBytes(Paths.get(dir, idx)), "UTF-8")
        .linesIterator.map {
          case entryRe(b, n, off, len) => (b, n, off.toLong, len.toInt)
          case l => fail(s"unparseable index line: $l")
        }
    }
    assert(entries.map(_._2).toSet == docs.map(_._1).toSet, "index lost docs")
    entries.groupBy(_._1).foreach { case (b, es) =>
      assert(es.size <= 8, s"$b holds ${es.size} docs > bundleDocs")
      // offsets are contiguous from 0 and sum to the shard's byte size
      val sorted = es.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"$b does not start at offset 0")
      sorted.sliding(2).foreach {
        case Seq((_, _, o1, l1), (_, _, o2, _)) =>
          assert(o1 + l1 == o2, s"$b has a gap/overlap at offset $o2")
        case _ =>
      }
      assert(sorted.last._3 + sorted.last._4 ==
        Files.size(Paths.get(dir, b)), s"$b trailing bytes unaccounted")
    }
    val byName = docs.toMap
    entries.foreach { case (b, n, off, len) =>
      val bytes = Files.readAllBytes(Paths.get(dir, b))
        .slice(off.toInt, off.toInt + len)
      assert(new String(bytes, "UTF-8") == byName(n), s"$n reconstructed wrong")
    }
  }

  test("bundled index reads back names with tabs and newlines through spark.read.json") {
    // the sidecar index is one JSON object per line; a raw tab or newline
    // in a name would turn its line into a corrupt record for the reader
    val dir = tmp()
    val docs = Seq(("tab\there.md", "first body"), ("line\nbreak.md", "second, longer body"),
      ("cr\r\nboth\t.md", "third"), ("plain.md", "fourth body"))
    docs.toDF("filename", "content").coalesce(1)
      .write.format("doclingsink").option("bundleDocs", 8)
      .mode("append").save(dir)
    val idx = spark.read
      .schema("bundle STRING, name STRING, offset LONG, len LONG")
      .json(dir + "/*.idx").collect()
    assert(idx.length == docs.size, idx.mkString("\n"))
    val byName = idx.map(r => r.getString(1) -> r).toMap
    assert(byName.keySet == docs.map(_._1).toSet, idx.mkString("\n"))
    docs.foreach { case (name, body) =>
      val r = byName(name)
      val bytes = Files.readAllBytes(Paths.get(dir, r.getString(0)))
        .slice(r.getLong(2).toInt, (r.getLong(2) + r.getLong(3)).toInt)
      assert(r.getLong(3) == body.getBytes("UTF-8").length, s"len of $name")
      assert(new String(bytes, "UTF-8") == body, s"$name reconstructed wrong")
    }
  }

  test("a losing speculative attempt's abort cannot unstage its twin's files") {
    // two live attempts of the same partition (speculation): each stages
    // under its own attempt subdir, so the loser's abort() removes only
    // its own files and the winner still publishes
    val dir = tmp()
    val bw = new DocSinkBatchWrite(dir, 0, 1)
    val factory = bw.createBatchWriterFactory(null)
    val winner = factory.createWriter(0, 1L)
    val loser = factory.createWriter(0, 2L)
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("spec.txt"),
      org.apache.spark.unsafe.types.UTF8String.fromString("winner bytes"))
    winner.write(row)
    loser.write(row)
    loser.abort()                    // loses the commit-coordinator race
    winner.commit()                  // must still find its staged file
    bw.commit(Array.empty)
    assert(new String(Files.readAllBytes(Paths.get(dir, "spec.txt"))) == "winner bytes")
    assert(new java.io.File(dir).listFiles().forall(!_.getName.startsWith("_staging_")))
  }

  test("separator-only and trailing-separator filenames get the clear diagnostic") {
    val dir = tmp()
    val bw = new DocSinkBatchWrite(dir, 0, 1)
    Seq("/", "\\", "a/", "dir/..").foreach { bad =>
      val w = bw.createBatchWriterFactory(null).createWriter(0, 9L)
      val row = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(bad),
        org.apache.spark.unsafe.types.UTF8String.fromString("x"))
      val e = intercept[IllegalArgumentException](w.write(row))
      assert(e.getMessage.contains("unusable filename"), s"'$bad' → ${e.getMessage}")
      w.abort()
    }
    bw.abort(Array.empty)
  }

  test("task abort leaves nothing visible; job abort clears staging") {
    // drive the writer API directly to exercise the failure path the
    // engine takes on task retry/job failure
    val dir = tmp()
    val bw = new DocSinkBatchWrite(dir, 0, 1)
    val w = bw.createBatchWriterFactory(null).createWriter(0, 0L)
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("ghost.txt"),
      org.apache.spark.unsafe.types.UTF8String.fromString("never published"))
    w.write(row)
    w.abort()                       // task retry path
    bw.abort(Array.empty)           // job failure path
    assert(!Files.exists(Paths.get(dir, "ghost.txt")))
    val residue = Option(new java.io.File(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
    assert(residue.forall(!_.getName.startsWith("_staging_")),
      s"staging residue: $residue")
  }
}
