package graftbench

import org.apache.spark.sql.SparkSession

/** Pinning helper for graftbench/pin.py.
  *   graftbench.Pin names        print the benchmark's op names
  *   graftbench.Pin <dumpDir>    digest each op's `graft.Verify` dump
  *                               (one parquet directory per query) with
  *                               the benchmark's full-consume digest,
  *                               one `PIN name rows hash` line each */
object Pin {
  val ops: Seq[String] = Batch.catalogOps ++ Batch.curationOps

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("names")) { ops.foreach(println); return }
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ops.foreach { name =>
      val r = Digest.of(spark.read.parquet(s"${args(0)}/$name")).collect().head
      println(s"PIN $name ${r.getLong(0)} ${r.getDecimal(1).toPlainString}")
    }
    spark.stop()
  }
}
