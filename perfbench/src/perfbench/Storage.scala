package perfbench

import org.apache.spark.sql.SparkSession

import graft.storage.TxLog

/** Storage-layer state read from outside, after the measured loop. */
object Storage {
  def state(spark: SparkSession, main: String, tables: Seq[String]): Map[String, Double] = {
    val v = TxLog.currentVersion(spark, main).getOrElse(0L)
    Map(
      "storage.versions" -> v.toDouble,
      "storage.live_files" -> TxLog.manifest(spark, main, v).files.size.toDouble,
      "storage.log_bytes" -> tables.map(t => Files.sizeUnder(s"$t/_manifests")).sum.toDouble)
  }
}
