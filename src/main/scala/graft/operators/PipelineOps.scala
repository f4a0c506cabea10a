package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.decimalSum

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: deterministic splits, weighted corpus mixing,
  * per-domain quotas, sequence packing, and benchmark-contamination
  * detection.
  *
  * Everything here is keyed on content hashes (md5 hex), never on RNG:
  * the same corpus always yields the same split/sample/pack, runs are
  * reproducible across engines and cluster sizes, and the DuckDB oracle
  * can replay each operator exactly. All operators are map-side column
  * chains or single-shuffle windows/aggregations — no driver actions, no
  * all-pairs joins — so each plan holds unchanged at 100 TB.
  */
object PipelineOps {

  /** Stable sampling key over arbitrary identity columns: md5 of their
    * `#`-joined string forms. Using the hex string (not a parsed int)
    * keeps comparisons identical in every engine — lowercase hex
    * compares lexicographically in key order. */
  def sampleKeyOf(cols: Column*): Column =
    md5(concat_ws("#", cols.map(_.cast("string")): _*))

  private def sampleKey = sampleKeyOf(col("source"), col("doc_id"))

  private val sampleKeySql = "md5(source || '#' || CAST(doc_id AS VARCHAR))"

  // ------------------------------------------------------ hash split

  /** Generic API: append (bucket, split) columns — deterministic
    * train/val/test assignment by the first hex digit of the row's
    * content hash: 12/16 train, 2/16 val, 2/16 test. Pure map-side
    * column chain — a 100 TB corpus splits with zero shuffles, and a
    * row keeps its split across reruns and engine versions. */
  def hashSplitOf(df: DataFrame, key: Column): DataFrame =
    df.withColumn("bucket", substring(key, 1, 1))
      .withColumn("split",
        when(col("bucket") <= "b", "train")
          .when(col("bucket") <= "d", "val")
          .otherwise("test"))

  def hashSplit(s: SparkSession, dir: String): DataFrame =
    hashSplitOf(Tables.documents(s, dir), sampleKey)
      .select("doc_id", "source", "bucket", "split")
      .orderBy("doc_id")

  val hashSplitSql: String =
    s"""SELECT doc_id, source, bucket,
       |  CASE WHEN bucket <= 'b' THEN 'train'
       |       WHEN bucket <= 'd' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, source,
       |        substring($sampleKeySql, 1, 1) AS bucket
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- leakage-safe split

  /** Train/val/test split that never separates near-duplicates: every
    * member of a dedup cluster is assigned the split of its CLUSTER
    * (key = hash of the cluster id), so a document can never land in
    * train while its near-copy sits in test — the contamination path
    * a row-keyed split leaves open. Composes the persisted cluster map
    * ([[DedupOps.clusterMapFor]] — the standing artifact a dedup pass
    * already built) with the same map-side bucket rule as
    * [[hashSplitOf]]: beyond the cluster map the split itself is still
    * a zero-shuffle column chain. Split proportions hold because
    * md5(cluster_id) is uniform over clusters. */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame =
    hashSplitOf(DedupOps.clusterMapFor(s, dir), sampleKeyOf(col("cluster_id")))
      .select("doc_id", "cluster_id", "bucket", "split")
      .orderBy("doc_id")

  /** Oracle: the recursive-CTE cluster reachability (shared with the
    * clusters oracle) + the hash-bucket CASE on the cluster id. */
  lazy val leakageSafeSplitSql: String =
    DedupOps.dedupClustersSql.replaceFirst(
      "SELECT id AS doc_id, min\\(r\\) AS cluster_id,[\\s\\S]*$",
      """, cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id, cluster_id, bucket,
        |  CASE WHEN bucket <= 'b' THEN 'train'
        |       WHEN bucket <= 'd' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, cluster_id,
        |        substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1) AS bucket
        |      FROM cl)
        |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------ corpus mix

  /** Per-tier sampling rates for the mixture: tier = source number mod 4.
    * Rate 1.0 keeps everything; lower tiers are downsampled by comparing
    * a 16-bit slice of the content hash against the rate's hex threshold
    * (floor(rate * 0x10000)). `weight` is the inverse rate, so weighted
    * counts over the sample are unbiased estimates of the full corpus. */
  private val tierRates = Seq(
    // (tier, hex threshold, inverse-propensity weight)
    (0, "ffff", 1.0), // rate 1.0 — threshold unused, kept for symmetry
    (1, "8000", 2.0), // rate 0.5
    (2, "4000", 4.0), // rate 0.25
    (3, "1999", 10.0)) // rate 0.1

  /** Generic API: keep each row with probability `rate` (a per-row
    * Column, e.g. from a broadcast-joined config dim), deterministically:
    * a 16-bit slice of the row's content hash is compared against the
    * rate's hex threshold. Rows ≥ 1.0 always survive. The keep/drop
    * decision is a map-side hash compare — mixing a 100 TB corpus is a
    * single scan with no shuffle at all. */
  def sampleByRateOf(df: DataFrame, key: Column, rate: Column): DataFrame =
    df.filter(rate >= 1.0 ||
      substring(key, 1, 4) < format_string("%04x", floor(rate * 65536).cast("int")))

  /** Weighted corpus mixing: downsample each source tier at its
    * configured rate, deterministically. The rate lookup is a literal
    * CASE (at production scale, a broadcast-joined config dim); the
    * keep/drop decision is the [[sampleByRateOf]] hash compare. */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val tier = substring(col("source"), 4, 10).cast("int") % 4
    val thr = tierRates.tail.foldLeft(lit(tierRates.head._2)) { case (acc, (t, h, _)) =>
      when(tier === t, lit(h)).otherwise(acc)
    }
    val weight = tierRates.tail.foldLeft(lit(tierRates.head._3)) { case (acc, (t, _, w)) =>
      when(tier === t, lit(w)).otherwise(acc)
    }
    Tables.documents(s, dir)
      .withColumn("tier", tier)
      .withColumn("sample_key", substring(sampleKey, 1, 4))
      .filter(col("tier") === 0 || col("sample_key") < thr)
      .select(col("doc_id"), col("source"), col("tier"), col("sample_key"),
        weight.as("weight"))
      .orderBy("doc_id")
  }

  val corpusMixSql: String = {
    val thrCase = tierRates.tail.map { case (t, h, _) => s"WHEN tier = $t THEN '$h'" }
      .mkString(" ")
    val wCase = tierRates.tail.map { case (t, _, w) => s"WHEN tier = $t THEN $w" }
      .mkString(" ")
    s"""SELECT doc_id, source, tier, sample_key,
       |  CAST(CASE $wCase ELSE ${tierRates.head._3} END AS DOUBLE) AS weight
       |FROM (SELECT doc_id, source,
       |        CAST(substring(source, 4) AS INTEGER) % 4 AS tier,
       |        substring($sampleKeySql, 1, 4) AS sample_key
       |      FROM documents)
       |WHERE tier = 0 OR sample_key < CASE $thrCase ELSE '${tierRates.head._2}' END
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- language rebalance

  /** Rebalance the corpus toward EQUAL language shares, with rates
    * derived FROM the data (unlike [[corpusMix]]'s fixed tier config):
    * each language keeps min(1, total/(n_langs·count)) of its rows —
    * over-represented languages downsample to the uniform target,
    * under-represented ones keep everything (deterministic hash
    * sampling, never upsampled). The per-language rates are one tiny
    * aggregate broadcast back; keep/drop is the [[sampleByRateOf]]
    * map-side hash compare, so rebalancing a 100 TB crawl is one scan
    * + one LANGUAGE-sized aggregate. Output is the per-language audit
    * frame (counts before/after + the applied rate) — the per-row
    * frame is the same plan minus the final rollup. */
  def langRebalance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val totals = counts.agg(sum(col("n_docs")).as("total"),
      count(lit(1)).as("n_langs"))
    val rated = counts.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"),
        least(lit(1.0), col("total").cast("double") /
          (col("n_langs") * col("n_docs"))).as("rate"))
    val kept = sampleByRateOf(
        docs.join(broadcast(rated.select("lang", "rate")), Seq("lang")),
        sampleKey, col("rate"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    rated.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), round(col("rate"), 6).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("lang")
  }

  val langRebalanceSql: String =
    s"""WITH counts AS (
       |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
       |totals AS (
       |  SELECT sum(n_docs) AS total, count(*) AS n_langs FROM counts),
       |rated AS (
       |  SELECT lang, n_docs,
       |    least(CAST(1.0 AS DOUBLE),
       |      CAST(total AS DOUBLE) / (n_langs * n_docs)) AS rate
       |  FROM counts CROSS JOIN totals),
       |kept AS (
       |  SELECT d.lang, count(*) AS n_kept
       |  FROM documents d JOIN rated r ON d.lang = r.lang
       |  WHERE r.rate >= 1.0 OR
       |    substring($sampleKeySql, 1, 4) <
       |      printf('%04x', CAST(floor(r.rate * 65536) AS INTEGER))
       |  GROUP BY 1)
       |SELECT lang, n_docs, round(rate, 6) AS rate,
       |  COALESCE(n_kept, 0) AS n_kept
       |FROM rated LEFT JOIN kept USING (lang)
       |ORDER BY lang""".stripMargin

  // -------------------------------------------- temperature resample

  /** Temperature-based source rebalancing at τ = 0.5 — the classic
    * square-root sampling recipe for mixing imbalanced sources
    * (multilingual BERT's exponent-smoothed mixing, arXiv:1901.07291
    * §3.1 popularized the family; τ = 0.5 is the standard square-root
    * point): target share p_s ∝ n_s^τ, realized downsample-only by
    * normalizing against the most-underrepresented source, which
    * algebraically collapses to rate_s = √(n_min / n_s) — the smallest
    * source keeps 100%, a source 4× its size keeps 50%, a 100× source
    * keeps 10%.
    *
    * τ is pinned at 0.5 ON PURPOSE: the rate then needs only division
    * and sqrt, both IEEE-correctly-rounded on every engine, so the
    * per-row keep threshold (floor(rate·65536), compared against the
    * row's content-hash prefix exactly like [[langRebalance]]) is
    * bit-identical between Spark and the oracle — a pow(n, 0.7) rate
    * could differ by an ulp and flip a threshold. Keep decisions are
    * hash-keyed and RNG-free; the plan is two bounded rollups + one
    * broadcast rate join, map-side accept at corpus scale. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    // the driver corpus is DELIBERATELY uniform (25 docs per source),
    // which would make every rate 1.0 and the gate vacuous — so the
    // fixture plants deterministic imbalance (the piiScrub/EncodingOps
    // pattern, mirrored in the oracle): each source contributes only
    // its doc_id % k == 0 rows, with k = 1 + ascii(last name char) % 8
    // — name-agnostic, spreading per-source counts ~8:1 for the rates
    // to act on. A real crawl is skewed on its own; the plant exists
    // only so the hash check exercises a DISCRIMINATING gate.
    val skew = lit(1) + ascii(substring(col("source"), -1, 1)) % 8
    val docs = Tables.spread(s, Tables.documents(s, dir))
      .filter(col("doc_id") % skew === 0)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val nMin = counts.agg(min(col("n_docs")).as("n_min"))
    val rated = counts.crossJoin(broadcast(nMin))
      .select(col("source"), col("n_docs"),
        sqrt(col("n_min").cast("double") / col("n_docs")).as("rate"))
    val kept = sampleByRateOf(
        docs.join(broadcast(rated.select("source", "rate")), Seq("source")),
        sampleKey, col("rate"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    rated.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), round(col("rate"), 6).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  val temperatureMixSql: String =
    s"""WITH skewed AS (
       |  SELECT * FROM documents
       |  WHERE doc_id % (1 + ascii(right(source, 1)) % 8) = 0),
       |counts AS (
       |  SELECT source, count(*) AS n_docs FROM skewed GROUP BY 1),
       |nmin AS (SELECT min(n_docs) AS n_min FROM counts),
       |rated AS (
       |  SELECT source, n_docs,
       |    sqrt(CAST(n_min AS DOUBLE) / n_docs) AS rate
       |  FROM counts CROSS JOIN nmin),
       |kept AS (
       |  SELECT d.source AS source, count(*) AS n_kept
       |  FROM skewed d JOIN rated r ON d.source = r.source
       |  WHERE r.rate >= 1.0 OR
       |    substring(md5(d.source || '#' || CAST(d.doc_id AS VARCHAR)), 1, 4) <
       |      printf('%04x', CAST(floor(r.rate * 65536) AS INTEGER))
       |  GROUP BY 1)
       |SELECT source, n_docs, round(rate, 6) AS rate,
       |  COALESCE(n_kept, 0) AS n_kept
       |FROM rated LEFT JOIN kept USING (source)
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------- blocklist gate

  /** Placeholder blocklist standing in for a deployment's term list —
    * C4 (arXiv:1910.10683 §2.2) drops any page containing a term from
    * its public blocklist; Dolma ships the same gate. The terms here
    * are neutral synthetic tokens because the CONTRACT under test is
    * the matching semantics (word-boundary, case-folded), not the
    * list. */
  val blocklist: Seq[String] = Seq("blockterm0", "blockterm1", "blockterm2")

  /** Blocklist screening: count case-folded whole-word blocklist hits
    * per document and emit the C4 drop verdict (any hit → drop), plus
    * the sorted distinct matched terms as the audit trail. One codegen
    * regex projection — at crawl scale this runs at scan speed like
    * the other rule gates (a production list with thousands of terms
    * compiles to one automaton the same way; RE2/Java both build a
    * linear-scan alternation). Word boundaries matter: a term INSIDE a
    * larger word must not fire (the classic C4 false-positive
    * complaint is substring matching — this gate only matches whole
    * words). The driver corpus contains no blocklisted term, so hits
    * are planted deterministically from doc_id (the piiScrub pattern,
    * mirrored in the oracle), including an uppercase and a
    * punctuation-adjacent form to pin the folding/boundary rules. */
  def blocklistFilter(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 6 === 0, lit(" blockterm0 trailing")).otherwise(lit("")),
      when(col("doc_id") % 9 === 0, lit(" has BLOCKTERM2, inside.")).otherwise(lit("")),
      // substring form that must NOT fire: boundary semantics
      when(col("doc_id") % 7 === 0, lit(" xblockterm1y")).otherwise(lit("")))
    blocklistFilterOf(
      Tables.documents(s, dir).withColumn("raw", planted),
      col("doc_id"), col("raw"), blocklist)
      .orderBy("doc_id")
  }

  /** Generic API — screen ANY corpus frame against a deployment's term
    * list (the plant above is a test fixture, not part of the gate).
    * Terms are matched literally (regex-quoted), case-folded, at word
    * boundaries; emits hit count, sorted distinct matched terms, and
    * the C4 drop verdict. Still one codegen regex projection — scan
    * speed at crawl scale regardless of the frame it runs on. */
  def blocklistFilterOf(df: DataFrame, id: Column, text: Column,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklist must be non-empty")
    val re = terms.map(t => java.util.regex.Pattern.quote(t.toLowerCase))
      .mkString("\\b(", "|", ")\\b")
    df.withColumn("_bl_hits", regexp_extract_all(lower(text), lit(re), lit(1)))
      .select(id,
        size(col("_bl_hits")).as("n_blocked"),
        array_join(array_sort(array_distinct(col("_bl_hits"))), ",")
          .as("blocked_terms"),
        (size(col("_bl_hits")) === 0).as("keep"))
  }

  val blocklistFilterSql: String = {
    val re = blocklist.mkString("\\b(", "|", ")\\b")
    s"""WITH raw AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 6 = 0 THEN ' blockterm0 trailing' ELSE '' END ||
       |    CASE WHEN doc_id % 9 = 0 THEN ' has BLOCKTERM2, inside.' ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' xblockterm1y' ELSE '' END AS raw
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, regexp_extract_all(lower(raw), '$re', 1) AS hits
       |  FROM raw)
       |SELECT doc_id,
       |  CAST(len(hits) AS INTEGER) AS n_blocked,
       |  COALESCE(array_to_string(list_sort(list_distinct(hits)), ','), '')
       |    AS blocked_terms,
       |  len(hits) = 0 AS keep
       |FROM h ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ domain cap

  val domainCap = 15

  /** Generic API: keep at most `cap` rows per domain, chosen by the
    * stable content hash (a deterministic uniform sample, not "first N
    * by id" which would bias toward old crawls). One shuffle
    * partitioned by domain; Spark's WindowGroupLimit pushes the rank
    * bound map-side, so each partition forwards at most `cap` rows per
    * domain into the shuffle — a viral domain with 100M pages costs its
    * per-input-split top-N, not a 100M-row sort. */
  def domainCapOf(df: DataFrame, domain: Column, key: Column, tie: Column,
      cap: Int): DataFrame = {
    val w = Window.partitionBy(domain).orderBy(key, tie)
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= cap)
  }

  def domainCapped(s: SparkSession, dir: String): DataFrame =
    domainCapOf(Tables.documents(s, dir), col("source"), sampleKey, col("doc_id"),
      domainCap)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy("doc_id")

  val domainCapSql: String =
    s"""SELECT doc_id, source, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY $sampleKeySql, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $domainCap ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- source overlap

  /** Cross-source duplication audit: for every source pair, the count
    * of exact-dup content fingerprints (the [[graft.operators.DedupOps
    * .exactDedupOf]] key) present in BOTH, and that count as a share
    * of the smaller side — the dataset-curation question "which of my
    * sources are re-crawls of each other". The join key is the
    * fingerprint, so only sources actually sharing content ever meet
    * (posting-list shape, never |sources|² scans), per-source
    * fingerprint inventories are tiny aggregates joined back, and a
    * fingerprint's per-source multiplicity is collapsed by the
    * distinct before any pairing. */
  def sourceOverlapOf(docs: DataFrame, source: Column, key: Column): DataFrame = {
    val fp = docs.select(source.as("src"), key.as("fp")).distinct()
    val inv = fp.groupBy(col("src")).agg(count(lit(1)).as("n_fps"))
    val shared = fp.select(col("src").as("source_a"), col("fp"))
      .join(fp.select(col("src").as("source_b"), col("fp")), Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_fps"))
    shared
      .join(inv.select(col("src").as("source_a"), col("n_fps").as("fps_a")), "source_a")
      .join(inv.select(col("src").as("source_b"), col("n_fps").as("fps_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("shared_fps"),
        col("fps_a"), col("fps_b"),
        round(col("shared_fps").cast("double") / least(col("fps_a"), col("fps_b")), 6)
          .as("overlap"))
      .orderBy("source_a", "source_b")
  }

  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(Tables.documents(s, dir), col("source"),
      graft.operators.DedupOps.exactKeyOf(col("text")))

  val sourceOverlapSql: String =
    s"""WITH fp AS (
      |  SELECT DISTINCT source AS src,
      |    ${graft.operators.DedupOps.exactKeySql} AS fp
      |  FROM documents),
      |inv AS (SELECT src, count(*) AS n_fps FROM fp GROUP BY 1),
      |shared AS (
      |  SELECT a.src AS source_a, b.src AS source_b, count(*) AS shared_fps
      |  FROM fp a JOIN fp b USING (fp) WHERE a.src < b.src GROUP BY 1, 2)
      |SELECT source_a, source_b, shared_fps, ia.n_fps AS fps_a, ib.n_fps AS fps_b,
      |  round(CAST(shared_fps AS DOUBLE) / least(ia.n_fps, ib.n_fps), 6) AS overlap
      |FROM shared
      |JOIN inv ia ON ia.src = source_a
      |JOIN inv ib ON ib.src = source_b
      |ORDER BY source_a, source_b""".stripMargin

  // -------------------------------------------- stratified sampling

  /** Global downsampling rate for the driver row. */
  val stratifiedRate = 0.2

  /** Generic API: proportional stratified sampling — keep exactly
    * round(rate · |stratum|) rows of every stratum, chosen by the
    * deterministic content-hash order (no RNG; re-runs and
    * repartitionings pick the identical sample — the property every
    * hash-keyed curation op here shares). Unlike [[domainCapOf]]'s
    * fixed per-domain cap, allocation is proportional, so the sample
    * preserves the corpus mixture — the "downsample the crawl 5× but
    * keep the source distribution" op.
    *
    * Scale shape: per-stratum quotas are a tiny aggregate joined back
    * (AQE broadcasts it), and the rank is a per-stratum window ordered
    * by the hash key — the same single-shuffle shape as the domain
    * cap; WindowGroupLimit cannot prune here (the quota is per-group,
    * not constant) but the window state is O(1) per row. */
  def stratifiedSampleOf(df: DataFrame, stratum: Column, key: Column,
      tie: Column, rate: Double): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(key, tie)
    val quotas = df.groupBy(stratum.as("__graft_stratum"))
      .agg(round(count(lit(1)) * rate, 0).cast("long").as("quota"))
    df.withColumn("rk", row_number().over(w))
      .join(quotas, stratum === col("__graft_stratum"))
      .filter(col("rk") <= col("quota"))
      .drop("__graft_stratum")
  }

  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    stratifiedSampleOf(Tables.documents(s, dir), col("source"), sampleKey,
      col("doc_id"), stratifiedRate)
      .select(col("doc_id"), col("source"), col("rk").cast("int").as("rk"),
        col("quota"))
      .orderBy("doc_id")

  val stratifiedSampleSql: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY $sampleKeySql, doc_id) AS rk
       |  FROM documents),
       |quotas AS (
       |  SELECT source, CAST(round(count(*) * $stratifiedRate, 0) AS BIGINT) AS quota
       |  FROM documents GROUP BY 1)
       |SELECT doc_id, source, CAST(rk AS INTEGER) AS rk, quota
       |FROM ranked JOIN quotas USING (source)
       |WHERE rk <= quota ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ packing

  val packBudget = 512

  /** Generic API: concat-and-chunk sequence packing. Per group, rows are
    * concatenated in `order` into a token stream that is cut into
    * `budget`-token context windows; each row learns which pack it
    * starts in (`pack_id`) and at what offset (`pack_offset`). One
    * window shuffle partitioned by group — the running sum is O(1)
    * state per partition, so packing a 100 TB corpus is one pass
    * (per-group streams pack independently, which is also what keeps
    * pack contents deterministic under re-partitioning). */
  def packSequencesOf(df: DataFrame, group: Column, order: Column, tokens: Column,
      budget: Int): DataFrame = {
    val w = Window.partitionBy(group).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum_before", coalesce(sum(tokens).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("cum_before") / budget))
      .withColumn("pack_offset", col("cum_before") % budget)
  }

  def packSequences(s: SparkSession, dir: String): DataFrame =
    packSequencesOf(
      Tables.documents(s, dir)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+"))),
      col("source"), col("doc_id"), col("n_tokens"), packBudget)
      .select("doc_id", "source", "n_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")

  val packSequencesSql: String =
    s"""SELECT doc_id, source,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
       |  CAST(floor(cum_before / $packBudget.0) AS BIGINT) AS pack_id,
       |  CAST(cum_before % $packBudget AS BIGINT) AS pack_offset
       |FROM (
       |  SELECT doc_id, source, text,
       |    CAST(coalesce(sum(len(string_split_regex(trim(text), '\\s+')))
       |      OVER (PARTITION BY source ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ contamination

  val contaminationFrac = 0.05

  /** Benchmark-contamination check: flag training documents whose
    * word-3-gram shingles overlap an eval set beyond a threshold — the
    * standard decontamination gate before pre-training. The eval set
    * here is the deterministic doc_id % 97 subset; in production it is
    * the benchmark suite, which is always tiny relative to the corpus,
    * so its distinct shingle hashes broadcast and the whole check is a
    * map-side probe plus one groupBy on doc_id. Nothing scales with
    * corpus × benchmark size.
    *
    * Generic API: per-document benchmark overlap over (doc_id, hs)
    * shingle-hash frames (e.g. from [[DedupOps.shingleHashesOf]]).
    * `bench` is the eval corpus's frame — always tiny relative to
    * training data, so its distinct hashes broadcast. */
  def contaminationHashedOf(corpus: DataFrame, bench: DataFrame, frac: Double): DataFrame = {
    val benchH = bench
      .select(explode(col("hs")).as("h"))
      .distinct()
      .withColumn("hit", lit(1))
    corpus
      .select(col("doc_id"), size(col("hs")).as("n_shingles"),
        explode(col("hs")).as("h"))
      .join(broadcast(benchH), Seq("h"), "left")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(coalesce(sum(col("hit")), lit(0)).cast("long").as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_shingles")).as("overlap_frac"),
        (col("n_overlap").cast("double") / col("n_shingles") > frac)
          .as("contaminated"))
  }

  def contamination(s: SparkSession, dir: String): DataFrame = {
    val hs = DedupOps.shingleHashes(s, dir)
    contaminationHashedOf(
      hs.filter(col("doc_id") % 97 =!= 0),
      hs.filter(col("doc_id") % 97 === 0),
      contaminationFrac)
      .orderBy("doc_id")
  }

  // --------------------------------------- contamination, bloom probe

  /** Bits per eval shingle for the decontamination Bloom prefilter.
    * The bloom only PRE-FILTERS — an exact equi-join verifies every
    * surviving shingle, so its fpp costs verify-join volume, never
    * correctness. 64 bits/item measures ~6e-5 fpp on this domain
    * (Spark's double-hashing scheme floors well above the textbook
    * formula, which is exactly why the verify pass exists); production
    * would trade down to 10-20 bits/item when the eval set is huge. */
  val bloomBitsPerItem = 64L

  /** Build the eval set's shingle-hash Bloom filter and return its
    * serialized bytes — the compact artifact a decontamination pass
    * ships to every executor. Uses Spark's native mergeable
    * [[BloomFilterAggregate]] (map-side partial sketches, bit-OR
    * merge — commutative, so the bits are partition-order
    * deterministic). Two actions by design: sizing count + build —
    * this is index construction, not query-path work. */
  def evalBloomOf(bench: DataFrame): Array[Byte] = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val h = bench.select(explode(col("hs")).as("h")).distinct()
    val items = math.max(h.count(), 1L)
    val agg = new BloomFilterAggregate(
      GraftBridge.expression(col("h")),
      Literal(items), Literal(items * bloomBitsPerItem))
      .toAggregateExpression()
    h.select(GraftBridge.column(agg).as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Corpus-scale decontamination: bloom prefilter + exact verify —
    * the runtime-filter pattern Spark itself uses for row-group
    * pruning. The bloom rides the plan as a binary literal (it IS the
    * broadcast: kilobytes however large the eval set) and
    * [[BloomFilterMightContain]] gates every exploded shingle map-side;
    * only the surviving sliver meets the exact eval shingle set, so the
    * output is exactly [[contaminationHashedOf]]'s (bloom FPs die at
    * the verify, never in the result — driver hash-checks against the
    * exact oracle).
    *
    * ONE corpus scan: the bloom verdict becomes the join KEY — a row
    * failing the bloom gets a null key, which can never match, so the
    * row survives the left join (keeping zero-overlap docs in the
    * rollup) without being probed. Shingling — the dominant per-row
    * cost — runs once; the exact-gate twin differs only in probing
    * every row. In the regime where the eval set is too large to
    * broadcast (where this gate earns its keep), use the
    * [[bloomGateRows]] filter+shuffle-join shape the streaming twin is
    * built on: there the bloom cuts SHUFFLE volume to ~the true
    * overlap, which is the 100 TB win. */
  def contaminationBloomHashedOf(corpus: DataFrame, bench: DataFrame,
      bloom: Array[Byte], frac: Double): DataFrame = {
    val benchH = bench.select(explode(col("hs")).as("jk"))
      .distinct().withColumn("hit", lit(1L))
    corpus
      .select(col("doc_id"), size(col("hs")).as("n_shingles"),
        explode(col("hs")).as("h"))
      .withColumn("jk", when(mightContain(bloom, col("h")), col("h")))
      .join(broadcast(benchH), Seq("jk"), "left")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_shingles")).as("overlap_frac"),
        (col("n_overlap").cast("double") / col("n_shingles") > frac)
          .as("contaminated"))
  }

  /** The bloom verdict as a Column: `might_contain(<literal bloom>, h)`. */
  def mightContain(bloom: Array[Byte], h: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    GraftBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType), GraftBridge.expression(h)))
  }

  /** Filter+verify building block for the huge-eval-set / streaming
    * regime: per-(doc, shingle) rows gated by the bloom BEFORE the
    * exact join, so a shuffle-join's exchange carries ~only the true
    * overlap. Emits one 0-hit row per doc plus one 1-hit row per
    * verified shingle — aggregate `sum(hit)` by (doc_id, n_shingles)
    * to recover the gate output (the streaming twin adds a watermark
    * first). */
  def bloomGateRows(corpus: DataFrame, bench: DataFrame,
      bloom: Array[Byte], carry: Seq[String] = Nil): DataFrame = {
    val extra = carry.map(col)
    val benchH = bench.select(explode(col("hs")).as("h")).distinct()
    val hits = corpus
      .select(col("doc_id") +: size(col("hs")).as("n_shingles") +:
        explode(col("hs")).as("h") +: extra: _*)
      .filter(mightContain(bloom, col("h")))
      .join(benchH, Seq("h"))
      .select(col("doc_id") +: col("n_shingles") +: lit(1L).as("hit") +: extra: _*)
    corpus
      .select(col("doc_id") +: size(col("hs")).as("n_shingles") +:
        lit(0L).as("hit") +: extra: _*)
      .unionByName(hits)
  }

  /** One bloom per (session, corpus): built on first use, reused by
    * every later gate run — the artifact shape of a standing
    * decontamination service. */
  private val bloomCache = new graft.SessionCache[Array[Byte]]()

  /** Save/load the decontamination artifacts — the eval set's distinct
    * shingle table (the exact verify side) and its Bloom filter (the
    * map-side prefilter blob) — so a standing decontamination service
    * gates every run of the week without re-shingling the benchmark
    * suite. Parity is spec-pinned (ArtifactParitySpec). */
  def writeEvalIndex(s: SparkSession, bench: DataFrame, bloom: Array[Byte],
      path: String): Unit = {
    graft.ArtifactStore.writeTable(bench, path, "eval_shingles")
    graft.ArtifactStore.writeBlob(s, bloom, path, "eval_bloom")
  }

  def loadEvalIndex(s: SparkSession, path: String): (DataFrame, Array[Byte]) =
    (graft.ArtifactStore.loadTable(s, path, "eval_shingles"),
      graft.ArtifactStore.loadBlob(s, path, "eval_bloom"))

  def contaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val hs = DedupOps.shingleHashes(s, dir)
    val bench = hs.filter(col("doc_id") % 97 === 0)
    val bloom = bloomCache.getOrCompute(s, dir)(evalBloomOf(bench))
    contaminationBloomHashedOf(hs.filter(col("doc_id") % 97 =!= 0),
      bench, bloom, contaminationFrac)
      .orderBy("doc_id")
  }

  /** Oracle intersects the shingle *strings* — identical to the hashed
    * plan up to 64-bit collisions (~1e-9 at test vocabulary sizes). */
  val contaminationSql: String = DedupOps.shinglesSql +
    s""", bl AS (
       |  SELECT list(s) AS bl FROM (
       |    SELECT DISTINCT unnest(sh) AS s FROM sh_t WHERE doc_id % 97 = 0))
       |SELECT doc_id,
       |  CAST(len(sh) AS INTEGER) AS n_shingles,
       |  CAST(len(list_intersect(sh, bl)) AS BIGINT) AS n_overlap,
       |  CAST(len(list_intersect(sh, bl)) AS DOUBLE) / len(sh) AS overlap_frac,
       |  (CAST(len(list_intersect(sh, bl)) AS DOUBLE) / len(sh)) > $contaminationFrac
       |    AS contaminated
       |FROM sh_t CROSS JOIN bl
       |WHERE doc_id % 97 <> 0
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------- semantic decontamination

  /** Semantic contamination gate threshold — cosine at which a corpus
    * embedding counts as a paraphrase-level copy of an eval-set
    * vector. Production gates sit near 0.9 on real sentence
    * embeddings; the synthetic vectors' similarity ceiling is lower
    * (like [[DedupOps.cosineThreshold]]'s 0.4), so 0.35 keeps the
    * flagged band non-degenerate at every test scale. */
  val semanticCosine: Double = 0.35

  /** Embedding-level decontamination: flag corpus vectors whose cosine
    * to ANY eval-set embedding (vec_id < 10, the benchmark stand-in)
    * reaches [[semanticCosine]] — the paraphrase-contamination catch
    * that n-gram gates ([[contamination]]) structurally miss: a
    * reworded benchmark answer shares no 3-gram but sits next to the
    * eval vector in embedding space (the SemDeDup/phi-style recipe).
    *
    * Scale shape: the eval set is KBs against a 100 TB corpus, so it
    * rides a broadcast and the scan stays map-side (the exact analog
    * of the n-gram gate's broadcast probe); the per-vector best match
    * is a window over |eval| rows. Exact by construction — cosines via
    * the same codegen dot the hash-green embedding family uses, so the
    * brute-force oracle compares bit-identically. */
  def semanticDecontam(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{cosineOf, dot}
    val e = Tables.spread(s, Tables.embeddings(s, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < AnnOps.nQueries)
      .select(col("vec_id").as("eval_id"), col("v").as("qv"), col("norm").as("qn"))
    val best = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("eval_id"))
    e.filter(col("vec_id") >= AnnOps.nQueries)
      .crossJoin(broadcast(q))
      .withColumn("cosine", cosineOf(col("v"), col("qv"), col("norm"), col("qn")))
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1 && col("cosine") >= semanticCosine)
      .select(col("vec_id"), col("eval_id"), col("cosine"))
      .orderBy("vec_id")
  }

  val semanticDecontamSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS norm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS eval_id, v AS qv, norm AS qn FROM e
       |      WHERE vec_id < ${AnnOps.nQueries}),
       |scored AS (
       |  SELECT c.vec_id, q.eval_id,
       |    list_dot_product(c.v, q.qv) / (c.norm * q.qn) AS cosine
       |  FROM e c CROSS JOIN q WHERE c.vec_id >= ${AnnOps.nQueries}),
       |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cosine DESC, eval_id) AS rn FROM scored)
       |SELECT vec_id, eval_id, cosine FROM r
       |WHERE rn = 1 AND cosine >= $semanticCosine
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ URL canonical

  /** URL canonicalization for crawl dedup: lowercase the host, strip a
    * `www.` prefix and default ports, drop tracking parameters
    * (`utm_*`, `fbclid`) while preserving the rest in order, drop the
    * fragment, and strip the trailing slash of non-root paths. Documents
    * sharing a canonical URL form one group; the smallest doc_id is the
    * canonical fetch. Pure string-expression chain + one groupBy-window
    * on the canonical key — the standard first pass over a 100 TB crawl.
    */
  /** Generic API: the canonical form of a URL column — lowercased host,
    * `www.` and default ports stripped, tracking parameters (`utm_*`,
    * `fbclid`) dropped with the rest preserved in order, fragment
    * dropped, trailing slash of non-root paths stripped. Pure codegen'd
    * string expressions, usable in any plan. */
  def canonicalUrlOf(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = regexp_extract(noFrag, "^([a-z]+)://", 1)
    val host = regexp_replace(
      regexp_replace(lower(regexp_extract(noFrag, "^[a-z]+://([^/?#]*)", 1)), "^www\\.", ""),
      ":(80|443)$", "")
    val path = regexp_replace(
      regexp_extract(noFrag, "^[a-z]+://[^/?#]*([^?#]*)", 1), "(.)/$", "$1")
    val query = array_join(
      filter(split(regexp_extract(noFrag, "\\?([^#]*)", 1), "&"),
        kv => !kv.rlike("^(utm_[^=]*|fbclid)=") && kv =!= ""), "&")
    concat(scheme, lit("://"), host, path,
      when(query =!= "", concat(lit("?"), query)).otherwise(lit("")))
  }

  def urlCanonical(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    val k = (id % 50).cast("string")
    val p = (id % 20).cast("string")
    val url = when(id % 6 === 0,
      concat(lit("https://www.EXAMPLE"), k, lit(".com/path/"), p, lit("/")))
      .when(id % 6 === 1, concat(lit("https://example"), k, lit(".com:443/path/"), p))
      .when(id % 6 === 2,
        concat(lit("https://example"), k, lit(".com/path/"), p, lit("?utm_source=feed&ref=a")))
      .when(id % 6 === 3, concat(lit("http://example"), k, lit(".com/path/"), p, lit("#frag")))
      .when(id % 6 === 4,
        concat(lit("https://example"), k, lit(".com/path/"), p, lit("?ref=a&utm_campaign=x")))
      .otherwise(concat(lit("https://www.example"), k, lit(".com/path/"), p))

    val byCanon = Window.partitionBy(col("canonical_url"))
    Tables.documents(s, dir)
      .withColumn("url", url)
      .withColumn("canonical_url", canonicalUrlOf(col("url")))
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(byCanon))
      .withColumn("n_copies", count(lit(1)).over(byCanon))
      .select("doc_id", "url", "canonical_url", "is_canonical", "n_copies")
      .orderBy("doc_id")
  }

  val urlCanonicalSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE
      |      WHEN doc_id % 6 = 0 THEN 'https://www.EXAMPLE' || CAST(doc_id % 50 AS VARCHAR) ||
      |        '.com/path/' || CAST(doc_id % 20 AS VARCHAR) || '/'
      |      WHEN doc_id % 6 = 1 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR) ||
      |        '.com:443/path/' || CAST(doc_id % 20 AS VARCHAR)
      |      WHEN doc_id % 6 = 2 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR) ||
      |        '.com/path/' || CAST(doc_id % 20 AS VARCHAR) || '?utm_source=feed&ref=a'
      |      WHEN doc_id % 6 = 3 THEN 'http://example' || CAST(doc_id % 50 AS VARCHAR) ||
      |        '.com/path/' || CAST(doc_id % 20 AS VARCHAR) || '#frag'
      |      WHEN doc_id % 6 = 4 THEN 'https://example' || CAST(doc_id % 50 AS VARCHAR) ||
      |        '.com/path/' || CAST(doc_id % 20 AS VARCHAR) || '?ref=a&utm_campaign=x'
      |      ELSE 'https://www.example' || CAST(doc_id % 50 AS VARCHAR) ||
      |        '.com/path/' || CAST(doc_id % 20 AS VARCHAR)
      |    END AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, url,
      |    regexp_extract(nf, '^([a-z]+)://', 1) || '://' ||
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(nf, '^[a-z]+://([^/?#]*)', 1)), '^www\.', ''),
      |      ':(80|443)$', '') ||
      |    regexp_replace(regexp_extract(nf, '^[a-z]+://[^/?#]*([^?#]*)', 1), '(.)/$', '\1') ||
      |    CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS canonical_url
      |  FROM (
      |    SELECT doc_id, url, nf,
      |      array_to_string(list_filter(string_split(regexp_extract(nf, '\?([^#]*)', 1), '&'),
      |        kv -> NOT regexp_matches(kv, '^(utm_[^=]*|fbclid)=') AND kv <> ''), '&') AS q2
      |    FROM (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u)))
      |SELECT doc_id, url, canonical_url,
      |  doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS is_canonical,
      |  count(*) OVER (PARTITION BY canonical_url) AS n_copies
      |FROM c ORDER BY doc_id""".stripMargin

  // ------------------------------------------- end-to-end pipeline

  val minTokens = 20
  val maxDupWordFrac = 0.6

  /** The whole curation pass as ONE composed plan — the query a corpus
    * owner actually runs before training: quality gate (length +
    * repetition), exact dedup (canonical doc per content key),
    * benchmark decontamination, then the deterministic split. Every
    * document comes back with its per-stage verdicts and its final
    * disposition, so the output is simultaneously the curated corpus
    * (rows with `kept`) and the audit trail (why each drop dropped).
    *
    * At 100 TB the corpus scan IS the cost, so the plan reads the
    * corpus exactly ONCE: a single projection emits every map-side
    * per-doc feature — quality stats, the exact-dedup content key, the
    * split, and the shingle-hash set — and drops the heavy text column.
    * Decontamination rides that same frame: shingles explode, probe the
    * broadcast benchmark set, and a groupBy on (doc_id, carried cols)
    * re-collapses to one row per document — map-side partial
    * aggregation means the per-shingle rows never cross the wire, so
    * there is no join-back and no second corpus scan. The canonical-doc
    * window then shuffles only the narrow per-doc frame on the
    * high-cardinality content key. The only other scan is the tiny
    * benchmark side, which at production scale is a separate
    * (broadcast) eval table anyway. */
  def curatePipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    // one projection: tokenize once (materialized via the single-element
    // array trick — see [[SearchOps.phraseSearchOf]] on HOF inlining), emit
    // quality verdict + content key + split + shingle hashes, drop the text
    val base = docs.select(col("doc_id"), col("source"),
      element_at(transform(array(split(trim(col("text")), "\\s+")), ws =>
        struct(size(ws).as("n_tokens"),
          size(array_distinct(ws)).as("n_uniq"))), 1).as("st"),
      graft.operators.DedupOps.exactKeyOf(col("text")).as("fp"),
      substring(sampleKey, 1, 1).as("bucket"),
      graft.functions.GraftFunctions.shingles(col("text"), 3).as("hs"))
      .select(col("doc_id"), col("source"),
        col("st.n_tokens").as("n_tokens"),
        (col("st.n_tokens") >= minTokens &&
          (lit(1.0) - col("st.n_uniq").cast("double") / col("st.n_tokens"))
            <= maxDupWordFrac).as("passed_quality"),
        col("fp"),
        when(col("bucket") <= "b", "train")
          .when(col("bucket") <= "d", "val")
          .otherwise("test").as("split"),
        col("hs"))
    // decontamination without a join-back: explode the shingles with the
    // per-doc columns carried along, probe the broadcast benchmark set,
    // and re-collapse per doc (explode_outer keeps unshingleable docs:
    // 0/0 > frac is false, so they come out clean — same as the absent
    // rows of the join formulation)
    val benchH = DedupOps.shingleHashes(s, dir)
      .filter(col("doc_id") % 97 === 0)
      .select(explode(col("hs")).as("h"))
      .distinct()
      .withColumn("hit", lit(1))
    val perDoc = base
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("passed_quality"), col("fp"), col("split"),
        size(col("hs")).as("n_shingles"), explode_outer(col("hs")).as("h"))
      .join(broadcast(benchH), Seq("h"), "left")
      .groupBy(col("doc_id"), col("source"), col("n_tokens"),
        col("passed_quality"), col("fp"), col("split"), col("n_shingles"))
      .agg(coalesce(sum(col("hit")), lit(0)).cast("double").as("n_overlap"))
      .withColumn("clean",
        !(col("n_overlap") / col("n_shingles") > contaminationFrac) &&
          col("doc_id") % 97 =!= 0) // eval docs themselves never train
    // exact dedup: canonical doc per content key, window over the
    // already-narrow one-row-per-doc frame
    perDoc
      .withColumn("is_canonical",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .withColumn("kept", col("passed_quality") && col("is_canonical") && col("clean"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("passed_quality"), col("is_canonical"), col("clean"), col("kept"),
        when(col("kept"), col("split")).as("split"))
      .orderBy("doc_id")
  }

  val curatePipelineSql: String = DedupOps.shinglesSql +
    s""", bl AS (
       |  SELECT list(s) AS bl FROM (
       |    SELECT DISTINCT unnest(sh) AS s FROM sh_t WHERE doc_id % 97 = 0)),
       |stats AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
       |    len(string_split_regex(trim(text), '\\s+')) >= $minTokens AND
       |      (1.0 - CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) /
       |        len(string_split_regex(trim(text), '\\s+'))) <= $maxDupWordFrac AS passed_quality
       |  FROM documents),
       |canon AS (
       |  SELECT doc_id,
       |    doc_id = min(doc_id) OVER (
       |      PARTITION BY ${DedupOps.exactKeySql})
       |      AS is_canonical
       |  FROM documents),
       |cln AS (
       |  SELECT sh_t.doc_id,
       |    (CAST(len(list_intersect(sh, bl)) AS DOUBLE) / len(sh))
       |      <= $contaminationFrac AS clean0
       |  FROM sh_t CROSS JOIN bl),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN b <= 'b' THEN 'train' WHEN b <= 'd' THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, substring($sampleKeySql, 1, 1) AS b FROM documents)),
       |j AS (
       |  SELECT stats.doc_id, source, n_tokens, passed_quality, is_canonical,
       |    coalesce(clean0, TRUE) AND stats.doc_id % 97 <> 0 AS clean, split
       |  FROM stats
       |  JOIN canon ON stats.doc_id = canon.doc_id
       |  LEFT JOIN cln ON stats.doc_id = cln.doc_id
       |  JOIN sp ON stats.doc_id = sp.doc_id)
       |SELECT doc_id, source, n_tokens, passed_quality, is_canonical, clean,
       |  passed_quality AND is_canonical AND clean AS kept,
       |  CASE WHEN passed_quality AND is_canonical AND clean THEN split END AS split
       |FROM j ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- corpus report

  /** Per-source corpus health report — the monitoring query a curation
    * pipeline runs after every ingest: document and token volume,
    * length distribution, exact-duplicate rate, language spread. One
    * map-side projection feeding one groupBy(source) plus a global fp
    * aggregation for the dup rate; every measure is integer math or a
    * decimal-summed average, so the report is bit-stable at any
    * partitioning (a plain double avg would drift in the last ulp with
    * partition order). */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val perDoc = docs.select(
      col("doc_id"), col("source"), col("lang"),
      length(col("text")).cast("long").as("n_chars"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
      graft.operators.DedupOps.exactKeyOf(col("text")).as("fp"))
    // Copy counts as a window on the fp partitioning instead of a
    // groupBy + join-back: the join shape re-ran the whole per-doc
    // projection (tokenize + md5) for the aggregate side — the two
    // join inputs shuffle different children, so AQE could not reuse
    // the exchange — and paid two fp exchanges; the window is ONE
    // tokenize pass and ONE fp exchange (guide §2.4). fp groups are
    // exact-copy groups (bounded by crawl duplication, never
    // Zipfian), so the window partition cannot concentrate a hot key.
    val withCopies = perDoc.withColumn("n_copies",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
    withCopies
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        (decimalSum(col("n_tokens").cast("decimal(18,6)")) / count(lit(1)))
          .cast("double").as("avg_doc_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        (sum(when(col("n_copies") >= 2, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("exact_dup_frac"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")
  }

  val corpusReportSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, source, lang,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      |    ${DedupOps.exactKeySql} AS fp
      |  FROM documents),
      |f AS (SELECT fp, count(*) AS n_copies FROM d GROUP BY 1)
      |SELECT source,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(sum(CAST(n_tokens AS DECIMAL(18,6))) / count(*) AS DOUBLE) AS avg_doc_tokens,
      |  min(n_tokens) AS min_tokens,
      |  max(n_tokens) AS max_tokens,
      |  CAST(sum(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS exact_dup_frac,
      |  count(DISTINCT lang) AS n_langs
      |FROM d JOIN f USING (fp)
      |GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hash_split"     -> (hashSplit _),
    "q_leakage_safe_split" -> (leakageSafeSplit _),
    "q_corpus_mix"     -> (corpusMix _),
    "q_lang_rebalance" -> (langRebalance _),
    "q_temperature_mix" -> (temperatureMix _),
    "q_blocklist_filter" -> (blocklistFilter _),
    "q_domain_cap"     -> (domainCapped _),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_source_overlap" -> (sourceOverlap _),
    "q_pack_sequences" -> (packSequences _),
    "q_contamination"  -> (contamination _),
    "q_contamination_bloom" -> (contaminationBloom _),
    "q_semantic_decontam" -> (semanticDecontam _),
    "q_url_canonical"  -> (urlCanonical _),
    "q_corpus_report"  -> (corpusReport _),
    "q_curate_pipeline" -> (curatePipeline _))

  def oracles: Map[String, String] = Map(
    "q_hash_split"     -> hashSplitSql,
    "q_leakage_safe_split" -> leakageSafeSplitSql,
    "q_corpus_mix"     -> corpusMixSql,
    "q_lang_rebalance" -> langRebalanceSql,
    "q_temperature_mix" -> temperatureMixSql,
    "q_blocklist_filter" -> blocklistFilterSql,
    "q_domain_cap"     -> domainCapSql,
    "q_stratified_sample" -> stratifiedSampleSql,
    "q_source_overlap" -> sourceOverlapSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_contamination"  -> contaminationSql,
    "q_contamination_bloom" -> contaminationSql,
    "q_semantic_decontam" -> semanticDecontamSql,
    "q_url_canonical"  -> urlCanonicalSql,
    "q_corpus_report"  -> corpusReportSql,
    "q_curate_pipeline" -> curatePipelineSql)
}
