package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Segments

class SegmentsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("property: chunks concatenate to the original; sizes are `size` except last") {
    val rnd = new scala.util.Random(42)
    val cases = (1 to 25).map { _ =>
      val len = 1 + rnd.nextInt(40)
      val text = rnd.alphanumeric.take(len).mkString
      val size = 1 + rnd.nextInt(7)
      (text, size)
    }
    for ((text, size) <- cases) {
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val segs = Segments.segmentText(df, col("doc_id"), col("text"), size)
        .orderBy("seg_no").collect()
      val joined = segs.map(_.getAs[String]("seg_text")).mkString
      assert(joined == text, s"text=$text size=$size")
      val lens = segs.map(_.getAs[Long]("seg_len"))
      assert(lens.init.forall(_ == size), s"text=$text size=$size")
      assert(lens.last <= size && lens.last >= 1, s"text=$text size=$size")
      assert(segs.length == (text.length + size - 1) / size)
    }
  }

  test("segment names are %04d zero-padded (filesegmenter.py:33-35)") {
    val df = Seq((7L, "abcdefghij")).toDF("doc_id", "text")
    val names = Segments.segmentText(df, col("doc_id"), col("text"), 3)
      .orderBy("seg_no").select("seg_name").as[String].collect()
    assert(names.toSeq == Seq("doc_7-0000.txt", "doc_7-0001.txt",
      "doc_7-0002.txt", "doc_7-0003.txt"))
  }

  test("byte-true property: chunks concatenate to the original BYTES; every " +
      "chunk is `size` bytes except the last (multi-byte text included)") {
    val rnd = new scala.util.Random(7)
    val pool = "aé中🙂 b" // 1-, 2-, 3-, 4-byte codepoints
    val cases = (1 to 20).map { _ =>
      val text = Seq.fill(1 + rnd.nextInt(30))(
        pool(rnd.nextInt(pool.length))).mkString
      (text, 1 + rnd.nextInt(7))
    } :+ (("中中中", 2)) // chunk boundary mid-codepoint
    for ((text, size) <- cases) {
      val df = Seq((1L, "src/doc_1.txt", text)).toDF("doc_id", "path", "text")
      val segs = Segments.segmentBytes(df, col("doc_id"), col("path"),
          col("text").cast("binary"), size)
        .orderBy("seg_no").collect()
      val joined = segs.flatMap(_.getAs[Array[Byte]]("seg_bytes"))
      val want = text.getBytes("UTF-8")
      assert(java.util.Arrays.equals(joined, want), s"text=$text size=$size")
      val lens = segs.map(_.getAs[Long]("seg_len"))
      assert(lens.init.forall(_ == size), s"text=$text size=$size")
      assert(lens.last >= 1 && lens.last <= size)
      assert(segs.length == (want.length + size - 1) / size)
      assert(segs.head.getAs[String]("seg_name") == "doc_1-0000.txt")
    }
  }

  test("writeSegmentFiles mirrors split_file: real {basename}-%04d.txt files " +
      "that reassemble to the original bytes") {
    val text = "héllo 中文 world 🙂 " * 5
    val df = Seq((3L, "a/b/doc_3.txt", text)).toDF("doc_id", "path", "text")
    val segs = Segments.segmentBytes(df, col("doc_id"), col("path"),
      col("text").cast("binary"), 16)
    val root = tempDir("graft-segw")
    Segments.writeSegmentFiles(segs, root)
    val files = java.nio.file.Files
      .list(java.nio.file.Paths.get(root, "doc_3"))
      .toArray.map(_.toString).sorted
    assert(files.nonEmpty)
    assert(files.forall(_.matches(""".*/doc_3-\d{4}\.txt""")))
    val joined = files.flatMap(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
    assert(java.util.Arrays.equals(joined, text.getBytes("UTF-8")))
  }

  test("writeSegmentFiles keeps same-basename inputs apart (a/doc.txt vs b/doc.txt)") {
    val df = Seq((1L, "a/doc.txt", "AAAAAA"), (2L, "b/doc.txt", "BBBBBB"))
      .toDF("doc_id", "path", "text")
    val segs = Segments.segmentBytes(df, col("doc_id"), col("path"),
      col("text").cast("binary"), 4)
    val root = tempDir("graft-segw2")
    Segments.writeSegmentFiles(segs, root)
    def bytes(doc: String) = java.nio.file.Files
      .list(java.nio.file.Paths.get(root, doc)).toArray.map(_.toString).sorted
      .flatMap(f => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
    assert(new String(bytes("doc_1"), "UTF-8") == "AAAAAA")
    assert(new String(bytes("doc_2"), "UTF-8") == "BBBBBB")
  }

  test("0-byte payloads yield ZERO segment rows (reference writes no chunks)") {
    val df = Seq((1L, "a/empty.txt", ""), (2L, "a/full.txt", "xyz"))
      .toDF("doc_id", "path", "text")
    val byBytes = Segments.segmentBytes(df, col("doc_id"), col("path"),
      col("text").cast("binary"), 2).select("doc_id").as[Long].collect()
    assert(byBytes.toSeq.sorted == Seq(2L, 2L))
    val byChars = Segments.segmentText(df, col("doc_id"), col("text"), 2)
      .select("doc_id").as[Long].collect()
    assert(byChars.toSeq.sorted == Seq(2L, 2L))
  }
}
