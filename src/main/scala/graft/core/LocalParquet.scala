package graft.core

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType

/** DRIVER-SIDE parquet reads of local files: no Spark job, and no
  * Hadoop `Configuration` either. A footer read through a fresh
  * `Configuration` and `HadoopInputFile` took 21-25 ms per file on a
  * loaded 4-vCPU VM; through `LocalInputFile` over one shared plain
  * configuration it took 0.03-0.17 ms. Every store in this
  * repository lives on the local file system, so this is the reader
  * for footers, bounded sidecars and point lookups alike. */
object LocalParquet {
  // read-only after construction, so safe to share across threads; a
  // reader's codec factory is per-open (two empty maps, released on
  // close) because decompressors are stateful
  private val conf = new PlainParquetConfiguration()

  /** `filter` skips row groups by their statistics and dictionaries.
    * Column-index and bloom-filter pruning stay off: on the small
    * files here they cost more reads than they save. */
  def open(file: Path, filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetFileReader =
    ParquetFileReader.open(new LocalInputFile(file),
      ParquetReadOptions.builder(conf).withRecordFilter(filter)
        .useColumnIndexFilter(false).useBloomFilter(false).build())

  def recordCount(file: Path): Long = Using.resource(open(file))(_.getRecordCount)

  /** Regular files under `root`, recursively, skipping every name that
    * starts with `_` or `.` the way Spark's file index does (commit
    * markers, `_temporary`, checksum files). Empty if `root` is not a
    * directory. */
  def dataFiles(root: Path): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    def walk(dir: Path): Unit =
      Using.resource(Files.list(dir)) { s =>
        s.iterator().asScala.toList.foreach { p =>
          val n = p.getFileName.toString
          if (!n.startsWith("_") && !n.startsWith(".")) {
            if (Files.isDirectory(p)) walk(p)
            else if (Files.isRegularFile(p)) out += p
          }
        }
      }
    if (Files.isDirectory(root)) walk(root)
    out.result()
  }

  /** Every record of `file`, as a [[Group]] over all its columns. */
  def foreachRecord(file: Path)(f: Group => Unit): Unit =
    Using.resource(open(file)) { r =>
      val meta = r.getFooter.getFileMetaData
      val io = new ColumnIOFactory(meta.getCreatedBy).getColumnIO(meta.getSchema)
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(meta.getSchema))
        for (_ <- 0L until pages.getRowCount) f(records.read())
        pages = r.readNextRowGroup()
      }
    }

  /** Every row group of `file` that `filter` does not rule out, read a
    * column at a time over the file's columns named in `columns`. No
    * record is assembled, so a caller that matches rows on a few key
    * columns decodes the wide ones only at the rows it keeps. */
  def foreachRowGroup(file: Path, columns: Set[String], filter: FilterCompat.Filter)
                     (f: RowGroup => Unit): Unit =
    Using.resource(open(file, filter)) { r =>
      val meta = r.getFooter.getFileMetaData
      val schema = new MessageType(meta.getSchema.getName,
        meta.getSchema.getFields.asScala.filter(t => columns.contains(t.getName)).asJava)
      r.setRequestedSchema(schema)
      val converter = new GroupRecordConverter(schema).getRootConverter
      var pages = r.readNextRowGroup()
      while (pages != null) {
        f(new RowGroup(new ColumnReadStoreImpl(pages, converter, schema, meta.getCreatedBy),
          schema, pages.getRowCount.toInt))
        pages = r.readNextRowGroup()
      }
    }

  /** One row group's columns; each may be read once. */
  final class RowGroup private[LocalParquet] (store: ColumnReadStoreImpl, schema: MessageType,
                                              val rows: Int) {
    private def reader(col: String) = store.getColumnReader(schema.getColumnDescription(Array(col)))

    /** A non-null INT64 column, 0 where the row is not `wanted` (those
      * values are skipped, not decoded). */
    def longs(col: String, wanted: Int => Boolean = _ => true): Array[Long] = {
      val cr = reader(col)
      Array.tabulate(rows) { i =>
        val v = if (wanted(i)) cr.getLong else { cr.skip(); 0L }
        cr.consume()
        v
      }
    }

    /** A BINARY column, null where the value is NULL or the row is not
      * `wanted` (those values are skipped, not decoded). */
    def binaries(col: String, wanted: Int => Boolean = _ => true): Array[Binary] = {
      val out = new Array[Binary](rows)
      val cr = reader(col)
      val defined = cr.getDescriptor.getMaxDefinitionLevel
      for (i <- 0 until rows) {
        if (cr.getCurrentDefinitionLevel == defined) {
          if (wanted(i)) out(i) = cr.getBinary.copy() else cr.skip()
        }
        cr.consume()
      }
      out
    }
  }
}
