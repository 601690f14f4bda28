package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Writes generated inputs as single-file parquet files ahead of the
 * measurement, with the parquet library directly (no Spark job, so the
 * program's session sees nothing of it); the timed part of a run only
 * publishes them ([[publish]]). */
object Stage {
  private val WireType = MessageTypeParser.parseMessageType(
    "message wire { optional binary key (STRING); optional binary value (STRING); " +
      "optional binary topic (STRING); required int64 offset; }")
  private val DocType = MessageTypeParser.parseMessageType(
    "message doc { required int64 doc_id; optional binary text (STRING); }")

  private def write(file: Path, schema: MessageType)(rows: SimpleGroupFactory => Seq[Group]): Path = {
    Files.createDirectories(file.getParent)
    val w = ExampleParquetWriter.builder(new HPath(file.toUri))
      .withType(schema).withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows(new SimpleGroupFactory(schema)).foreach(w.write) finally w.close()
    file
  }

  def wireFiles(files: Seq[Seq[WireRow]], dir: Path): IndexedSeq[Path] =
    files.zipWithIndex.map { case (rs, i) =>
      write(dir.resolve(fileName(i)), WireType)(f => rs.map { r =>
        val g = f.newGroup()
        g.add("key", r.key)
        if (r.value != null) g.add("value", r.value)
        g.add("topic", r.topic)
        g.add("offset", r.offset)
        g
      })
    }.toIndexedSeq

  private def docGroups(ds: Seq[Gen.Doc])(f: SimpleGroupFactory): Seq[Group] =
    ds.map { d => val g = f.newGroup(); g.add("doc_id", d.id); g.add("text", d.text); g }

  def docFiles(files: Seq[Seq[Gen.Doc]], dir: Path): IndexedSeq[Path] =
    files.zipWithIndex.map { case (ds, i) =>
      write(dir.resolve(fileName(i)), DocType)(docGroups(ds))
    }.toIndexedSeq

  /** A one-file parquet table of documents (seed and benchmark corpora). */
  def docTable(docs: Seq[Gen.Doc], dir: Path): Unit =
    write(dir.resolve(fileName(0)), DocType)(docGroups(docs))

  /** Publish a staged file into a source directory the way
   * `graft.Tables.stageCopy` does: hidden copy, explicit mtime, one
   * atomic rename. */
  def publish(src: Path, inDir: Path, name: String, mtimeMs: Long): Unit =
    graft.Tables.stageCopy(src, inDir.resolve(name), mtimeMs)

  def fileName(i: Int): String = f"part-$i%05d.parquet"
}
