package graft

import org.apache.spark.sql.SparkSession

/** Production session factory: one place that encodes how graft expects a
  * cluster session to be configured. Local mains use the same knobs with
  * local-sized values.
  */
object GraftSession {

  /** Build a session tuned for graft's workload shape. Runtime tuning
    * (AQE, the compiled-class cache) is [[Tables.tune]]'s, applied before
    * the session runs anything.
    *
    * @param master            cluster manager URL (None = use deploy env)
    * @param shufflePartitions size to ~2-3× the cluster's total cores; at
    *                          100 TB inputs this is thousands, not 200
    */
  def build(appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Int = 32): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // fact scans: keep split sizes large enough to amortize footer reads
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    val s = Tables.tune(master.fold(b)(b.master).getOrCreate())
    functions.GraftFunctions.register(s)
    s
  }

  /** The session every local main runs on: `local[cpus]` with shuffle
    * partitions = cpus (`SPARK_GRAFT_CPUS`, else `defaultCpus`), UTC,
    * UI off, then `logLevel` and [[Tables.tune]] before any query. */
  def local(defaultCpus: Int, logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    Tables.tune(s)
  }
}
