package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.codec.UnsignedBytes
import graft.tools.FooterSort

/** An operation whose output is wrong. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Checks {
  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
}

/** Attempted/failed bookkeeping. Every setup, warmup, timed and check
  * operation goes through [[run]]; a throw or a failed check is counted
  * and reported, never swallowed.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  def run[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        val msg = s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        errors += msg.take(400)
        System.err.println(s"[perfbench] FAILED $msg")
        None
    }
  }
}

/** Footer facts of one converted output directory. */
final case class Layout(files: Int, rowGroups: Int, bytes: Long, rows: Long)

object ConvertCheck {
  val Unsigned = Seq("vout", "height", "amount")
  val MaxRowGroupRows = 64L * 1024

  def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  /** Verifies a convert output and returns its layout:
    *  - the observed row count and the footers' row count equal the
    *    snapshot header's `numUtxos`, and `_SUCCESS` exists;
    *  - every row group carries the `script` sorting-columns stamp and
    *    vout/height/amount carry UINT_64;
    *  - row groups hold at most 64Ki rows;
    *  - per file, row-group `script` minima and maxima never decrease.
    */
  def apply(dir: String, expectedRows: Long, observedRows: Long): Layout = {
    import Checks.check
    check(observedRows == expectedRows, s"convert reported $observedRows rows, header says $expectedRows")
    check(new File(dir, "_SUCCESS").exists(), s"$dir has no _SUCCESS")
    val files = parquetFiles(dir)
    check(files.nonEmpty, s"$dir holds no parquet files")
    val conf = new Configuration()
    var rowGroups = 0
    var rows = 0L
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      val (scriptIdx, blocks) =
        try (reader.getFileMetaData.getSchema.getFieldIndex("script"), reader.getFooter.getBlocks.asScala.toSeq)
        finally reader.close()
      val want = Seq((scriptIdx, false, false))
      check(FooterSort.sortingColumnsOf(f).forall(_ == want), s"${f.getName}: no script sorting-columns stamp")
      val types = FooterSort.convertedTypesOf(f)
      check(Unsigned.forall(c => types.get(c).contains("UINT_64")), s"${f.getName}: converted types $types")
      var prevMin: Array[Byte] = null
      var prevMax: Array[Byte] = null
      blocks.foreach { b =>
        check(b.getRowCount <= MaxRowGroupRows, s"${f.getName}: row group of ${b.getRowCount} rows")
        val st = b.getColumns.asScala.find(_.getPath.toDotString == "script")
          .getOrElse(throw new CheckFailed(s"${f.getName}: no script column")).getStatistics
        val (mn, mx) = (st.getMinBytes, st.getMaxBytes)
        if (prevMin != null)
          check(UnsignedBytes(prevMin, mn) <= 0 && UnsignedBytes(prevMax, mx) <= 0,
            s"${f.getName}: row-group script ranges decrease")
        prevMin = mn
        prevMax = mx
        rows += b.getRowCount
      }
      rowGroups += blocks.size
    }
    check(rows == expectedRows, s"footers hold $rows rows, header says $expectedRows")
    Layout(files.size, rowGroups, files.map(_.length).sum, rows)
  }
}
