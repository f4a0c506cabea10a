package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One-off generator for the committed default BPE merge list (see
  * BpeOps.defaultMerges) — prints the Scala source of
  * DefaultBpeMerges. Test scope, kept out of the shipped surface; run:
  *   sbt "Test/runMain graft.TrainBpeScratch"
  */
object TrainBpeScratch {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val merges = graft.operators.BpeOps.trainMerges(
      Tables.documents(spark, "/root/testdata/sf0.001"), col("text"),
      graft.operators.BpeOps.defaultNumMerges)
    println("// generated by TrainBpeScratch — do not hand-edit")
    println("BPE_BEGIN")
    merges.foreach { case (a, b) => println(s"""    ("$a", "$b"),""") }
    println("BPE_END")
    val alphabet = graft.operators.BpeOps.trainAlphabet(
      Tables.documents(spark, "/root/testdata/sf0.001"), col("text"))
    println("ALPHA_BEGIN")
    println(alphabet.map(c => "\"" + c.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .grouped(12).map(_.mkString(", ")).mkString(",\n    "))
    println("ALPHA_END")
    spark.stop()
  }
}
