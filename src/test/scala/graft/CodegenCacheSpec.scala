package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.tune]] sizes Spark's compiled-class cache. The cache is one per
  * JVM, created on first use, so each case runs [[CodegenCacheProbe]] in a
  * fresh child JVM; sbt's shared forked test JVM has compiled long before
  * any spec runs. */
class CodegenCacheSpec extends AnyFunSuite {
  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** Run the probe in a child JVM on this JVM's classpath and module
    * opens; returns the probe's result fields and its whole output. */
  private def probe(mode: String): (Map[String, String], String) = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) => Seq("--add-opens", jvmArgs(i + 1))
      case _ => Nil
    }
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val main = CodegenCacheProbe.getClass.getName.stripSuffix("$")
    val cmd = Seq(java, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), main, mode)
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 0, s"probe $mode failed:\n$out")
    val fields = out.linesIterator.find(_.startsWith("RESULT ")).getOrElse(
      fail(s"probe $mode printed no result:\n$out"))
      .stripPrefix("RESULT ").split(' ').map(_.split('=')).map(kv => kv(0) -> kv(1)).toMap
    (fields, out)
  }

  test("a tuned session compiles each class once past the default 100 entries") {
    val (r, _) = probe("tuned")
    assert(r("conf") == Tables.codegenCacheEntries.toString)
    assert(r("first").toLong > CodegenCacheProbe.queries)
    assert(r("second") == "0")
  }

  test("the same program without tune recompiles its classes") {
    val (r, _) = probe("untuned")
    assert(r("conf") == "100")
    assert(r("second").toLong > CodegenCacheProbe.queries)
  }

  test("a value the session was built with is kept and sizes the cache") {
    val (r, _) = probe("explicit")
    assert(r("conf") == CodegenCacheProbe.explicitEntries.toString)
    assert(r("second").toLong > CodegenCacheProbe.queries)
  }

  test("tune after a compile warns and leaves the conf as it was") {
    val (r, out) = probe("late")
    assert(r("set") == "false")
    assert(r("conf") == "100")
    val warnings = out.linesIterator.filter(l => l.contains("WARN") && l.contains(key)).toSeq
    assert(warnings.size == 1, out)
    assert(warnings.head.contains(s"$key=${Tables.codegenCacheEntries}"))
  }
}

/** Child-JVM program behind [[CodegenCacheSpec]]: builds a session the way
  * graftbench does, runs [[queries]] distinct single-stage queries twice and
  * prints `RESULT` with the cache conf and each round's compile count. */
object CodegenCacheProbe {
  val queries = 150
  val explicitEntries = 64
  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val b = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Files.createTempDirectory("graft-warehouse").toString)
    if (mode == "explicit") b.config(key, explicitEntries.toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "late") spark.range(8).selectExpr("id * 3").collect()
    if (mode != "untuned") Tables.tune(spark)
    def round(): Long =
      CompileCounter((0 until queries).foreach(i => spark.range(8).selectExpr(s"id + $i").collect()))._2
    val first = round()
    val second = round()
    val conf = spark.sessionState.conf
    println(s"RESULT conf=${conf.getConfString(key)} set=${conf.contains(key)} " +
      s"first=$first second=$second")
    spark.stop()
  }
}
