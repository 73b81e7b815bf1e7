package graft.perfbench

import java.io.File

import org.apache.commons.io.FileUtils

import graft.codec.{SnapshotGen, SnapshotIndexer}
import graft.sources.UtxoConvert

/** Shows that the convert output check fires: converts a small
  * snapshot, then runs the check on the good output, with a wrong
  * expected row count, and on a copy whose first file lost its footer
  * stamp. Prints one JSON object of "operation -> failed".
  *
  * Usage: SelfTest <work dir>
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0)).getAbsoluteFile
    FileUtils.deleteQuietly(work)
    new File(work, "tmp").mkdirs()
    val conf = PerfBench.Conf("selftest", 1L, 0, trace = false, work, 20000, "")
    val spark = PerfBench.session(conf)
    val ops = new Ops
    val failed = try {
      val snap = conf.path("snapshot.bin")
      val os = new java.io.FileOutputStream(snap)
      try SnapshotGen.writeSynthetic(os, conf.coins, conf.seed) finally os.close()
      val expected = SnapshotIndexer.readHeaderOnly(snap, spark.sparkContext.hadoopConfiguration).numUtxos
      val out = conf.path("out")
      val rows = UtxoConvert.convert(spark, snap, out).rows

      // the same rows rewritten by a plain Spark write carry no stamp
      val unstamped = conf.path("unstamped")
      FileUtils.copyDirectory(new File(out), new File(unstamped))
      val victim = ConvertCheck.parquetFiles(unstamped).head
      val rewrite = conf.path("rewrite")
      spark.read.parquet(victim.getAbsolutePath).coalesce(1).write.parquet(rewrite)
      FileUtils.copyFile(ConvertCheck.parquetFiles(rewrite).head, victim)
      new File(victim.getParentFile, s".${victim.getName}.crc").delete()

      def fails(what: String)(f: => Any): (String, Boolean) = {
        val before = ops.failed
        ops.run(what)(f)
        what -> (ops.failed > before)
      }
      Seq(
        fails("good_output")(ConvertCheck(out, expected, rows)),
        fails("wrong_row_count")(ConvertCheck(out, expected + 1, rows)),
        fails("stamp_removed")(ConvertCheck(unstamped, expected, rows)))
    } finally spark.stop()
    println(failed.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
  }
}
