package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated test tables.
  *
  * At production scale these are date-partitioned parquet fact tables
  * (lineitem/orders/events/documents) and small broadcastable dimensions
  * (region/nation/supplier/part); the loaders are the single seam where a
  * deployment would swap in its own catalog/bucketing.
  */
object Tables {
  val factTables = Seq("lineitem", "orders", "events", "documents", "embeddings", "customer")
  val dimTables  = Seq("region", "nation", "supplier", "part")

  private val schemas = new SessionCache[StructType]()

  /** Parquet read of `dir/name.parquet` with its schema inferred once
    * per (session, path): inference launches a Spark job, a read with
    * a known schema lists files and launches none.
    *
    * Contract: the schema of a path is fixed for the session's
    * lifetime. Files are still listed on every read, so rows written
    * over the path with the same schema are seen; a schema change at a
    * path needs a new session. A failed inference is not memoized, so
    * [[eventsRaw]] can retry under a changed conf. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas.getOrCompute(spark, path)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.ts has drifted across testdata generations: parquet
    * TIMESTAMP(NANOS) (rejected by Spark's vectorized reader unless read as
    * raw nanos), then timestamp[us] without timezone (read as TIMESTAMP_NTZ).
    * A production lakehouse sees exactly this — the same logical column
    * written by different writers — so the loader adapts to the physical
    * encoding it finds instead of pinning one. All branches land on
    * session-zoned TIMESTAMP (UTC session), which is what the micro-resolution
    * DuckDB oracle computes on. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(eventsRaw(s, d))

  /** Raw events read, tolerant of the TIMESTAMP(NANOS) encoding that Spark's
    * scan planner rejects unless the legacy raw-nanos conf is on. The conf is
    * session-wide by design — it only affects NANOS columns, which nothing
    * else in the corpus has. */
  def eventsRaw(s: SparkSession, d: String): DataFrame =
    try table(s, d, "events")
    catch {
      case e: Exception if e.getMessage != null && e.getMessage.contains("NANOS") =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        table(s, d, "events")
    }

  /** Map whatever physical encoding `ts` arrived in onto session-zoned
    * TIMESTAMP — the logical type every operator (and the micro-resolution
    * DuckDB oracle, under the UTC session) computes on. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other            => sys.error(s"events.ts: unsupported physical type $other")
    }
  }

  /** Streaming events ingest: readStream needs an explicit schema, so peek at
    * the files with a batch read (adapting to the physical encoding exactly
    * like `events`), then stream with that schema and the same ts
    * normalization. `d` may be any directory events-parquet files land in. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    val raw = eventsRaw(s, d) // side effect: sets nanosAsLong if needed
    normalizeEventTs(s.readStream.schema(raw.schema).parquet(d))
  }
  /** `documents.text` is normalized at this seam: control whitespace
    * that the two regex engines class differently — Java's `\s`
    * includes vertical tab (\x0B), RE2/DuckDB's does not — is mapped
    * to a plain space, so every `\s+`-tokenizing operator sees
    * engine-independent token boundaries REGARDLESS of corpus bytes
    * (SURVEY §6's caveat, closed here rather than left as a deployment
    * footgun). The seam is a LOADER contract, not a Spark-side quirk:
    * any oracle/twin engine must read through the same normalization
    * (scripts/check.py mirrors it in its documents view), exactly as a
    * deployment would normalize once at ingest.
    *
    * The map is `replace(text, VT, " ")`, a byte search fused into the
    * scan projection: VT is the single UTF-8 byte 0x0B, which never
    * occurs inside a multi-byte sequence, so replacing the byte is
    * replacing the character, and a text without VT (the sf test
    * corpora hold none) is returned as is, with no copy. The oracle view in
    * scripts/check.py applies the same DuckDB `replace`. (`translate`
    * would give the same output but decodes every text and probes a
    * HashMap per character.) */
  def documents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, replace}
    table(s, d, "documents")
      .withColumn("text", replace(col("text"), lit("\u000B"), lit(" ")))
  }
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Rebalance a frame ONLY when its layout is narrower than the session
    * parallelism — the single-split test parquet would otherwise
    * serialize per-row heavy work (shingling, vector math). On a
    * production layout with >= cluster-parallelism splits this is a
    * no-op, so the heavy paths never inherit a gratuitous full-corpus
    * exchange from a test-data workaround.
    *
    * ONLY pass raw table scans: the layout probe (`df.rdd`) forces the
    * physical plan, and under AQE a frame with upstream shuffles would
    * EXECUTE those stages eagerly right here (and again when the result
    * is consumed). Every call site in this library passes a fresh
    * `Tables.*` read, where the probe is pure file-layout metadata. */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Runtime tuning applied by every entry point. AQE re-plans shuffles at
    * runtime (skew joins, partition coalescing) — essential at cluster scale,
    * harmless locally.
    *
    * It also sizes Spark's compiled-class cache. That cache is one LRU per
    * JVM, keyed by generated source and by the compiling thread's class
    * loader (a driver compile and an executor compile of one stage take two
    * slots), and sized once, when `CodeGenerator` is first touched, from the
    * static `spark.sql.codegen.cache.maxEntries` (default 100). graft's
    * working sets are larger: a curation pass compiles ~220 classes and a
    * catalog round ~180, so at 100 entries each warm pass recompiled
    * 84–164 of them. `tune` sets the conf on the session to
    * [[codegenCacheEntries]], unless the session was built with a value,
    * and creates the cache under it at once, so graft fixes the size rather
    * than whichever thread compiles first. A cache hit returns the class
    * compiled from identical source, so results cannot change.
    *
    * Contract: call it before the session's first query. Once anything has
    * been compiled in this JVM the cache exists with its size fixed; `tune`
    * then logs one warning naming the conf to set at session build and
    * leaves the conf as it is. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // SimHashAgg buffers are 512 B; keep ObjectHashAggregate in hash mode
    // well past the conservative 128-key default before sort fallback.
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    // NOTE: do not lower spark.sql.codegen.hugeMethodLimit. Exceeding it
    // does not split the stage — it abandons whole-stage codegen for the
    // whole plan (interpreted fallback), a measured ~3x slowdown across
    // this suite. Method splitting is already handled by
    // spark.sql.codegen.methodSplitThreshold inside codegen.
    sizeCodegenCache(spark)
    spark
  }

  /** Entries in the JVM's compiled-class cache when [[tune]] creates it,
    * sized from measured traffic (graftbench's session, 4 cores). Every
    * query of [[SparkEntry.queries]] run once at sf0.01 compiles 2,107
    * distinct classes, and each further pass ~100 more whose source
    * differs run to run; 4096 holds the whole query surface, so the bound,
    * not the workload, caps the cache. A cached class retains 28–42 KB of
    * heap (retained heap over the extra classes cached: +3.5 MB for
    * curation's ~124 extra, +92 MB for the surface's ~2,200 extra after
    * three passes), so a full cache holds at most about 170 MB. */
  val codegenCacheEntries = 4096

  // The cache is one per JVM, so the first `tune` in the JVM decides it.
  private var codegenCacheDecided = false

  private def sizeCodegenCache(spark: SparkSession): Unit = synchronized {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
    if (!codegenCacheDecided) {
      codegenCacheDecided = true
      val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
      if (CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"Tables.tune ran after code was compiled in this JVM, so Spark's " +
          s"compiled-class cache already has its size; set ${key.key}=" +
          s"$codegenCacheEntries when building the session to size it.")
      else {
        val conf = spark.sessionState.conf
        if (!conf.contains(key.key)) conf.setConf(key, codegenCacheEntries)
        SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
      }
    }
  }
}
