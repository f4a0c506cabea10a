package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.GraftFunctions.{cosineOf, dot}

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Brute-force top-k is the correctness baseline (and the oracle); IVF is
  * the scale path: assign every vector to its nearest centroid (broadcast
  * centroids, map-side), then restrict each query to its `nprobe` closest
  * clusters — the candidate scan shrinks from |N| to |N| * nprobe / K,
  * and the heavy join is an equi-join on cluster_id instead of a cross
  * join. Output is (query, rank, neighbor) — ids not scores — so ranking
  * is robust to last-ulp float differences between engines.
  */
object AnnOps {

  val topK = 5
  val nQueries = 10
  val nprobe = 3

  private[graft] def embeddingsWithNorm(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, Tables.embeddings(s, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  // ------------------------------------------------ brute-force top-k

  /** Shared brute-force cosine top-k: broadcast the query frame against
    * the candidate corpus, rank per query (ties → smaller neighbor id).
    * [[annTopk]] and [[knnGraph]] are both this plan with different
    * query sets. The scoring stays the deliberate exact all-pairs mine;
    * only the top-k SELECTION is the native bounded aggregate
    * ([[graft.functions.TopKScoreIdAgg]], the streaming probes'
    * mechanism): value-identical to the row_number window over
    * (cosine desc, neighbor asc) — the id is negated so the
    * descending (cosine, nid) order ties to the smallest neighbor,
    * exactly the window's order, pinned by TopKAggSpec and the oracle
    * hash — but the exchange carries at most k pairs per query per
    * partition instead of every scored candidate row (measured: the
    * q_knn_graph candidate exchange was 5.0 MB + a per-query sort;
    * guide §2.3 "aggregate before you shuffle"). */
  private def cosineTopkOf(q: DataFrame, cand: DataFrame): DataFrame =
    cand.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineOf(col("qv"), col("cv"), col("qn"), col("cn")))
      .groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topkScoreId(
        col("cosine"), -col("neighbor_id"), topK, ascending = false).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "c")))
      .select(col("query_id"), (col("r0") + 1).cast("int").as("rank"),
        (-col("c.id")).as("neighbor_id"))
      .orderBy("query_id", "rank")

  private def asQueries(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))

  private def asCandidates(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("norm").as("cn"))

  /** Exact cosine top-5 for query vectors (vec_id < 10), self excluded. */
  def annTopk(s: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithNorm(s, dir)
    cosineTopkOf(asQueries(e.filter(col("vec_id") < nQueries)), asCandidates(e))
  }

  /** Shared oracle template: brute-force cosine top-k with a pluggable
    * query-set predicate — one text for [[annTopkSql]] and
    * [[knnGraphSql]], like the Scala side's cosineTopkOf. */
  private def cosineTopkSql(queryPred: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(q.v, c.v) / (q.norm * c.norm) AS cosine
       |  FROM e q JOIN e c ON $queryPred q.vec_id <> c.vec_id)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  val annTopkSql: String = cosineTopkSql(s"q.vec_id < $nQueries AND")

  // ---------------------------------------------- corpus kNN graph

  /** Exact corpus k-NN graph: every vector's topK cosine neighbors —
    * the building block of graph-shaped embedding pipelines (SemDeDup
    * groups, kNN clustering, connectivity-based outlier pruning).
    * Like [[annTopk]] this is the deliberate exact twin the oracle
    * can hash-check — a corpus×corpus broadcast nested loop is
    * correctness baseline only; [[knnGraphIvf]] is the 100 TB path
    * (probe the trained IVF index with every vector, so the candidate
    * scan is |N|·nprobe/K instead of |N|², with the identical output
    * shape and a spec-pinned recall floor). */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithNorm(s, dir)
    cosineTopkOf(asQueries(e), asCandidates(e))
  }

  val knnGraphSql: String = cosineTopkSql("")

  /** The scale path for [[knnGraph]]: probe the trained IVF index with
    * EVERY corpus vector. Same output shape; recall vs the exact graph
    * is pinned in spec (rows-only at the driver gate, like q_ann_ivf).
    * Uses the session-cached index — at production scale the index is
    * trained once, persisted, and every graph build reads it. */
  def knnGraphIvf(s: SparkSession, dir: String): DataFrame = {
    val (cents, assigned) = ivfFor(s, dir)
    annIvfSearch(embeddingsWithNorm(s, dir), cents, assigned)
  }

  // ---------------------------------------- binary Hamming-sketch ANN

  /** Hamming-stage shortlist size: candidates per query that survive
    * sign-sketch screening and get the exact float rerank. */
  val hammingShortlist = 50

  /** Binary sign sketch: bit i set iff v(i) >= 0. dim = 64 packs the
    * whole vector into ONE long (a wider embedding would carry
    * ceil(dim/64) longs, same fold per word). NaN compares above zero
    * on both engines (larger-than-everything float ordering), so the
    * sketch is engine-exact. */
  def signBits(v: Column): Column =
    // first word of the native wide sketch — for the ≤64-dim contract
    // this is exactly the old zip_with/aggregate fold (spec-pinned),
    // without the per-row interpreted HOF allocations
    element_at(graft.functions.GraftFunctions.signBitsWide(v), 1)

  /** Sign sketch for ARBITRARY dimensionality: ceil(dim/64) longs,
    * word w bit i = sign(v(64w+i)) — the wide form the 64-dim
    * [[signBits]] fast path specializes ([[signBitsWide]] of a 64-dim
    * vector is exactly array(signBits(v)), spec-pinned). Tail bits
    * beyond dim stay clear on both vectors and never contribute to a
    * Hamming distance. */
  def signBitsWide(v: Column): Column =
    // native one-pass sketch ([[graft.functions.SignBitsWide]]) —
    // value-identical to the interpreted transform/zip_with/aggregate
    // chain (spec-pinned incl. NaN/-0.0/null-element/empty corners),
    // which allocated a zip_with array + a fold per WORD per row
    graft.functions.GraftFunctions.signBitsWide(v)

  /** Hamming distance between two wide sketches: per-word XOR+POPCNT,
    * summed — the multi-word twin of
    * `bit_count(a.bitwiseXOR(b))`. */
  def hammingWide(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, h) => acc + h).cast("int")

  /** Binary-quantized ANN: screen candidates by Hamming distance on the
    * 64-bit sign sketch — sign-random-projection LSH in the Charikar
    * (STOC 2002) sense, with the coordinate axes as hyperplanes — then
    * exact-cosine rerank of the per-query `hammingShortlist` survivors.
    * Unlike IVF/PQ this scale path is fully deterministic (ties break
    * on neighbor id at BOTH stages), so the driver oracle hash-checks
    * it end to end: the DuckDB twin reproduces the Hamming distance in
    * pure list arithmetic, |q XOR c| = pop(q) + pop(c) - 2*dot(sq, sc).
    *
    * Scale shape: the screening corpus carries (neighbor_id, one long)
    * — 32x smaller than the float32 vectors, ~12 GB per billion
    * vectors; queries broadcast; the per-pair cost is one XOR+POPCNT
    * inside whole-stage codegen; the only wide shuffle is the per-query
    * top-R window over narrow (id, id, int) rows; float vectors are
    * read back only for the |Q| * R shortlist equi-join. */
  def annHamming(s: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithNorm(s, dir).withColumn("bits", signBits(col("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bits").as("qb"),
        col("v").as("qv"), col("norm").as("qn"))
    val sketches = e.select(col("vec_id").as("neighbor_id"), col("bits").as("cb"))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val short = sketches
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", bit_count(col("qb").bitwiseXOR(col("cb"))))
      .withColumn("hr", row_number().over(wH))
      .filter(col("hr") <= hammingShortlist)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("qv"), col("qn"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    short
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cn")), Seq("neighbor_id"))
      .withColumn("cosine", cosineOf(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
      .orderBy("query_id", "rank")
  }

  /** Band layout for the sketch LSH: 8 bands x 8 bits. Pigeonhole
    * guarantee — any pair within Hamming distance 7 (< number of
    * bands) shares at least one EXACT band, so band equality is a
    * recall contract for near twins, not just a heuristic; at 8 bits
    * a random pair matches a given band with p = 2^-8, so the
    * screened candidate volume is ~3% of the corpus per query on
    * unclustered data and concentrates on true neighbors as angular
    * structure grows (16-bit bands measured ZERO candidates on the
    * weakly-clustered test embeddings — a screen, not a contract). */
  val hammingBands = 8
  val hammingBandBits = 8

  private def bandStructsOf(bits: Column): Column =
    array((0 until hammingBands).map { b =>
      struct(lit(b).as("band_id"),
        shiftrightunsigned(bits, b * hammingBandBits)
          .bitwiseAND(lit(0xFFL)).as("band_key"))
    }: _*)

  /** One row per (input row, band) of a `words` sign-sketch column:
    * every 64-bit word contributes its [[hammingBands]] bands under a
    * word-offset band_id (word·8 + band), so a d-dim vector has
    * 8·ceil(d/64) bands, and a 64-dim vector's band ids are 0..7. The
    * input columns ride along; `words` itself is kept. */
  private[graft] def bandRowsOf(df: DataFrame): DataFrame =
    df.select(col("*"), posexplode(col("words")).as(Seq("word_idx", "word")))
      .select(col("*"), explode(bandStructsOf(col("word"))).as("band"))
      .withColumn("band_id", col("word_idx") * hammingBands + col("band.band_id"))
      .withColumn("band_key", col("band.band_key"))
      .drop("word_idx", "word", "band")

  /** The banded sketch index: one (vec_id, words, band_id, band_key)
    * row per (vector, band) — the standing artifact a streaming probe
    * equi-joins instead of scanning every sketch. Eight narrow rows per
    * 64-dim corpus vector (8·ceil(dim/64) in general); persist bucketed
    * by (band_id, band_key) at scale so a probe reads only its buckets.
    * The full sketch rides along so the batch search's Hamming column
    * needs no second lookup. */
  def sketchBandsOf(e: DataFrame): DataFrame =
    bandRowsOf(e.select(col("vec_id"), signBitsWide(col("v")).as("words")))

  /** Persist the banded sketch index, clustered by band_key on write so
    * a probe's bucket equi-join reads only its buckets' files; at 64
    * dims the index is eight (id, array<long>, int, long) rows per
    * corpus vector. Load-parity is spec-pinned like every standing
    * artifact. */
  def writeSketchIndex(bands: DataFrame, path: String): Unit =
    bands.repartition(col("band_key"))
      .write.mode("overwrite").parquet(s"$path/sketch_bands")

  def loadSketchIndex(s: SparkSession, path: String): DataFrame =
    s.read.parquet(s"$path/sketch_bands")

  /** Exact cosine re-rank of a per-query shortlist: `short` carries
    * (query_id, neighbor_id) plus any `extra` columns to keep; the
    * query vectors come from `q` (broadcast) and the candidate vectors
    * from the float corpus `e`, both by equi-join, so floats are only
    * touched for shortlist rows. Top-[[topK]] by (cosine desc,
    * neighbor asc). The one refinement step of every filter-then-refine
    * search here: banded Hamming, PQ-ADC and IVFADC. */
  private def exactRerank(short: DataFrame, q: DataFrame, e: DataFrame,
      extra: String*): DataFrame = {
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    short
      .join(broadcast(asQueries(q)), "query_id")
      .join(asCandidates(e), "neighbor_id")
      .withColumn("cosine", cosineOf(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= topK)
      .select((Seq("query_id", "rank", "neighbor_id") ++ extra).map(col): _*)
      .orderBy("query_id", "rank")
  }

  /** Banded-Hamming search: candidates are corpus vectors sharing at
    * least one exact band with the query (an equi-join on
    * (band_id, band_key) — no per-query corpus scan, unlike
    * [[annHamming]]'s global top-R screen), deduped, then exact-cosine
    * reranked; `hamming` is the summed per-word XOR+POPCNT of the two
    * sketches. The batch twin of the streaming probe
    * ([[graft.streaming.EventStream.hammingProbeStream]] — parity
    * spec-pinned); `q` is any (vec_id, v, norm) frame of any
    * dimensionality, `bands` a [[sketchBandsOf]] index, `e` the float
    * corpus for rerank. */
  def annHammingBandedSearch(q: DataFrame, bands: DataFrame,
      e: DataFrame): DataFrame = {
    val qb = sketchBandsOf(q)
      .select(col("vec_id").as("query_id"), col("words").as("qwords"),
        col("band_id"), col("band_key"))
    val cands = qb
      .join(bands.select(col("vec_id").as("neighbor_id"),
        col("words").as("cwords"), col("band_id"), col("band_key")),
        Seq("band_id", "band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hammingWide(col("qwords"), col("cwords")).as("hamming"))
      .distinct()
    exactRerank(cands, q, e, "hamming")
  }

  /** The banded query row: [[annHammingBandedSearch]] over the corpus'
    * own [[sketchBandsOf]] index — the LSH-indexed form of
    * [[annHamming]] (bucket equi-joins instead of a per-query corpus
    * scan), still fully deterministic, so IT TOO hash-checks against a
    * full SQL oracle: DuckDB rebuilds each 8-bit band key as a slice
    * dot-product against [1,2,...,128] and replays the same candidate
    * join, popcount-identity Hamming and rerank tie rules. */
  def annHammingBanded(s: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithNorm(s, dir)
    annHammingBandedSearch(e.filter(col("vec_id") < nQueries),
      sketchBandsOf(e), e)
  }

  val annHammingBandedSql: String = {
    val weights = (0 until hammingBandBits).map(j => s"${1 << j}.0").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS norm
       |  FROM embeddings),
       |sp AS (
       |  SELECT vec_id, v, norm, sb, list_dot_product(sb, sb) AS pop
       |  FROM (SELECT vec_id, v, norm,
       |    list_transform(v, x -> CASE WHEN x >= 0 THEN 1.0 ELSE 0.0 END) AS sb
       |    FROM e)),
       |bands AS (
       |  SELECT vec_id, b AS band_id,
       |    CAST(list_dot_product(
       |      sb[$hammingBandBits*b+1 : $hammingBandBits*b+$hammingBandBits],
       |      [$weights]) AS INTEGER) AS band_key
       |  FROM sp CROSS JOIN (SELECT unnest(range($hammingBands)) AS b)),
       |cand AS (
       |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
       |  FROM bands qb JOIN bands cb
       |    ON qb.band_id = cb.band_id AND qb.band_key = cb.band_key
       |  WHERE qb.vec_id < $nQueries AND qb.vec_id <> cb.vec_id),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    CAST(q.pop + c.pop - 2 * list_dot_product(q.sb, c.sb) AS INTEGER)
       |      AS hamming,
       |    list_dot_product(q.v, c.v) / (q.norm * c.norm) AS cosine
       |  FROM cand
       |  JOIN sp q ON cand.query_id = q.vec_id
       |  JOIN sp c ON cand.neighbor_id = c.vec_id)
       |SELECT query_id, rank, neighbor_id, hamming FROM (
       |  SELECT query_id, neighbor_id, hamming,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Independent DuckDB re-execution: the sign sketch as a 0/1 double
    * list, Hamming via the popcount identity (exact small-integer
    * arithmetic in doubles), identical shortlist and rerank tie rules. */
  val annHammingSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS norm
       |  FROM embeddings),
       |sp AS (
       |  SELECT vec_id, v, norm, sb, list_dot_product(sb, sb) AS pop
       |  FROM (SELECT vec_id, v, norm,
       |    list_transform(v, x -> CASE WHEN x >= 0 THEN 1.0 ELSE 0.0 END) AS sb
       |    FROM e)),
       |ham AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(q.pop + c.pop - 2 * list_dot_product(q.sb, c.sb) AS INTEGER)
       |      AS hamming
       |  FROM sp q JOIN sp c ON q.vec_id < $nQueries AND q.vec_id <> c.vec_id),
       |short AS (
       |  SELECT query_id, neighbor_id, hamming
       |  FROM (SELECT query_id, neighbor_id, hamming,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming ASC, neighbor_id ASC) AS hr FROM ham)
       |  WHERE hr <= $hammingShortlist),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id, s.hamming,
       |    list_dot_product(q.v, c.v) / (q.norm * c.norm) AS cosine
       |  FROM short s
       |  JOIN sp q ON s.query_id = q.vec_id
       |  JOIN sp c ON s.neighbor_id = c.vec_id)
       |SELECT query_id, rank, neighbor_id, hamming FROM (
       |  SELECT query_id, neighbor_id, hamming,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM rer)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------- per-label centroids

  /** Per-label embedding centroid (element-wise mean) — the summary a
    * curation pipeline uses for topic balance checks, per-class drift,
    * and seeding k-means. One explode to (label, idx, x), one hash agg
    * per (label, idx) with a sorted fold (deterministic FP — see
    * SURVEY §6). The fold order is pinned by (x, vec_id) on both
    * engines so the unrounded double means hash-match. Output is one
    * scalar row per (label, dimension) — `(label, n_vectors, idx, m)`
    * — exactly like [[quantizeEmbeddings]]: the full centroid is still
    * verified element-by-element, but every compared cell is a scalar
    * the comparison harness can canonicalize (an array cell is
    * unhashable in a pandas sort). At scale this is one shuffle of
    * narrow rows and never a whole-vector groupBy. */
  def embedCentroids(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.spread(s, Tables.embeddings(s, dir))
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("idx", "x")))
    ex.groupBy(col("label"), col("idx"))
      .agg(count(lit(1)).as("n_vectors"),
        aggregate(sort_array(collect_list(struct(col("x"), col("vec_id")))),
          lit(0.0), (acc, t) => acc + t.getField("x")).as("sx"))
      .select(col("label"), col("n_vectors"), col("idx"),
        (col("sx") / col("n_vectors")).as("m"))
      .orderBy("label", "idx")
  }

  val embedCentroidsSql: String =
    """WITH ex AS (
      |  SELECT label, vec_id, CAST(i AS INTEGER) AS idx,
      |    v[CAST(i+1 AS BIGINT)] AS x
      |  FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |        unnest(range(len(embedding))) AS i FROM embeddings))
      |SELECT label, count(*) AS n_vectors, idx,
      |  list_reduce(list_prepend(0.0, list_transform(
      |    list(struct_pack(x := x, vid := vec_id) ORDER BY x, vec_id), t -> t.x)),
      |    (a, b) -> a + b) / count(*) AS m
      |FROM ex GROUP BY label, idx ORDER BY label, idx""".stripMargin

  // -------------------------------------------- per-label outliers

  /** Fraction of each label's vectors flagged as outliers (the
    * farthest from the label centroid) — the embedding-space prune a
    * curation pipeline runs before training (mislabeled / off-topic /
    * corrupted vectors sit far from their class mean). */
  val outlierFrac = 0.05

  /** Per-label embedding outliers: Euclidean distance of every vector
    * to its label centroid, the top ⌊outlierFrac·n⌋ per label flagged.
    * The centroid means are the same sorted-fold sums as
    * [[embedCentroids]] (hash-exact doubles), the distance is an
    * idx-ordered fold of (x−m)² — bit-identical on both engines — and
    * the cutoff is an integer rank, so the whole row hash-checks. The
    * squared distance joins through narrow (label, idx) rows (the
    * centroid side is labels×dims — AQE broadcasts it); the per-label
    * rank window sorts one label's vectors per partition, fine for a
    * bounded label set — an unbounded-cardinality key would switch to
    * an approx-quantile cutoff broadcast back, the [[q_ppl_buckets]]
    * shape. */
  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    // materialized once: the centroid aggregation and the distance
    // join probe are different consumers of the exploded frame, and
    // join-pushed filters deny AQE exchange reuse — without the cut
    // the corpus scan + 64× posexplode ran twice per query (measured
    // as two ~600 ms serial scan stages at sf0.1; the
    // q_pmi_collocations reuse-denial mechanism, guide §2.4)
    val ex = Tables.spread(s, Tables.embeddings(s, dir))
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("idx", "x")))
      .localCheckpoint()
    val cents = ex.groupBy(col("label"), col("idx"))
      .agg(count(lit(1)).as("n"),
        aggregate(sort_array(collect_list(struct(col("x"), col("vec_id")))),
          lit(0.0), (acc, t) => acc + t.getField("x")).as("sx"))
      .select(col("label"), col("idx"), col("n"), (col("sx") / col("n")).as("m"))
    val dists = ex.join(cents, Seq("label", "idx"))
      .groupBy(col("label"), col("vec_id"), col("n"))
      .agg(sqrt(aggregate(
        sort_array(collect_list(struct(col("idx"),
          ((col("x") - col("m")) * (col("x") - col("m"))).as("d2")))),
        lit(0.0), (acc, t) => acc + t.getField("d2"))).as("dist"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist").desc, col("vec_id").asc)
    dists
      .withColumn("dist_rank", row_number().over(w))
      .select(col("vec_id"), col("label"), round(col("dist"), 6).as("dist"),
        col("dist_rank"),
        (col("dist_rank") <= floor(lit(outlierFrac) * col("n")).cast("int"))
          .as("is_outlier"))
      .orderBy("vec_id")
  }

  lazy val embedOutliersSql: String =
    s"""WITH ex AS (
       |  SELECT label, vec_id, CAST(i AS INTEGER) AS idx,
       |    v[CAST(i+1 AS BIGINT)] AS x
       |  FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |        unnest(range(len(embedding))) AS i FROM embeddings)),
       |c AS (
       |  SELECT label, idx, count(*) AS n,
       |    list_reduce(list_prepend(0.0, list_transform(
       |      list(struct_pack(x := x, vid := vec_id) ORDER BY x, vec_id), t -> t.x)),
       |      (a, b) -> a + b) / count(*) AS m
       |  FROM ex GROUP BY label, idx),
       |d AS (
       |  SELECT ex.label, ex.vec_id, c.n,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(
       |      list(struct_pack(i := ex.idx, d2 := (ex.x - c.m) * (ex.x - c.m))
       |        ORDER BY ex.idx),
       |      t -> t.d2)), (a, b) -> a + b)) AS dist
       |  FROM ex JOIN c ON ex.label = c.label AND ex.idx = c.idx
       |  GROUP BY ex.label, ex.vec_id, c.n)
       |SELECT vec_id, label, round(dist, 6) AS dist,
       |  CAST(row_number() OVER (PARTITION BY label
       |    ORDER BY dist DESC, vec_id ASC) AS INTEGER) AS dist_rank,
       |  CAST(row_number() OVER (PARTITION BY label
       |    ORDER BY dist DESC, vec_id ASC) AS INTEGER)
       |    <= CAST(floor(CAST($outlierFrac AS DOUBLE) * n) AS INTEGER) AS is_outlier
       |FROM d ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ IVF

  val kClusters = 10
  val lloydIterations = 3

  /** Mean IVF cell population the cluster count is sized against:
    * K = max(kClusters, ⌊√(N / targetCellSize)⌋) — the K ≈ √N rule
    * (the balance point of the per-query probe cost K + nprobe·N/K),
    * with a constant chosen so K stays at the `kClusters` floor for
    * the small test corpora (N ≤ 2000 → K = 10) and grows with the
    * corpus beyond that (N = 20 000 → K = 31; N = 10⁹ → K ≈ 7000,
    * still a few-MB broadcast). Without this, a fixed K pays an
    * unbounded |N|·nprobe/K candidate volume as the corpus grows —
    * the round-5 stress run's one scale-weak row. */
  val targetCellSize = 20

  /** Cluster count for a corpus of `n` vectors (see [[targetCellSize]]). */
  def adaptiveK(n: Long): Int =
    math.max(kClusters, math.sqrt(n.toDouble / targetCellSize).toInt)

  /** Centroids as one collected array row, for riding broadcast into a
    * plan: scoring against k centroids becomes per-row array math —
    * map-side only, no join, no shuffle. (graft-visible: the streaming
    * ANN probe reuses the same broadcast probe selection.) */
  private[graft] def centArr(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("centroid_id"), col("cv"), col("cn"))).as("cents"))

  /** Top-`n` centroid ids for the row's vector against the broadcast
    * `cents` array, by cosine desc with ties to the smaller id — the
    * native probe/assignment kernel ([[graft.functions.CentroidProbes]]):
    * one primitive loop per row instead of an interpreted K-struct
    * transform + sort + reverse (spec-pinned against that chain,
    * CentroidProbesSpec). */
  private[graft] def probeIdsCol(v: Column, norm: Column, n: Int): Column =
    graft.functions.GraftFunctions.centroidProbes(v, norm, col("cents"), n)

  /** k-means-trained centroids: deterministic pseudo-random seeds (top-k
    * by id hash — random init without a driver-side RNG), then the
    * [[lloydOf]] rounds of map-side nearest-centroid (cosine) assignment
    * + per-dimension mean. At 100 TB, train on a sample; the plan shape
    * is identical. */
  def centroids(s: SparkSession, dir: String): DataFrame =
    centroidsOf(embeddingsWithNorm(s, dir))

  /** Generic API: train k-means centroids over any (vec_id, v, norm)
    * frame with the same deterministic Lloyd recipe. K is
    * corpus-adaptive ([[adaptiveK]]) — the one count() action this
    * costs runs once per training (and training itself is cached per
    * (session, corpus) via [[ivfFor]]), which is the train-once
    * lifecycle's price for cells that stay bounded as the corpus
    * grows. Output (centroid_id, cv, cn). */
  def centroidsOf(e: DataFrame): DataFrame = {
    def withNorm(cents: DataFrame) = cents.withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val seeds = e
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(adaptiveK(e.count()))
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    withNorm(lloydOf(seeds, "centroid_id") { cents =>
      assignmentsOf(e, withNorm(cents))
        .select(col("cluster_id").as("centroid_id"), col("v"))
    })
  }

  /** The one Lloyd trainer: [[centroidsOf]] (key centroid_id, cosine)
    * and [[pqCodebookOf]] (keys subspace, code; L2) bring only `seeds`
    * (`keys`..., cv) and `assign`, which maps the current centroids to
    * one (`keys`..., v) row per training vector. Each round takes the
    * per-centroid mean with the native vector-sum aggregate, quantized
    * to float (double sums vary in the last ulps with partition order;
    * float rounding absorbs that, so training is identical run to run),
    * keeps the previous centroid for an empty cell instead of shrinking
    * k, and cuts the k-row frame once so the next round and every
    * consumer read materialized rows. */
  private[operators] def lloydOf(seeds: DataFrame, keys: String*)(
      assign: DataFrame => DataFrame): DataFrame = {
    val keyCols = keys.map(col)
    var cents = seeds.localCheckpoint()
    for (_ <- 1 to lloydIterations) {
      val means = assign(cents)
        .groupBy(keyCols: _*)
        .agg(graft.functions.GraftFunctions.vecsum(col("v")).as("sv"),
          count(lit(1)).as("cnt"))
        .select(keyCols :+
          transform(col("sv"), x => (x / col("cnt")).cast("float").cast("double"))
            .as("new_cv"): _*)
      cents = cents
        .select(keyCols :+ col("cv").as("prev_cv"): _*)
        .join(means, keys, "left")
        .select(keyCols :+ coalesce(col("new_cv"), col("prev_cv")).as("cv"): _*)
        .localCheckpoint()
    }
    cents
  }

  /** Cluster assignment: nearest trained centroid by cosine. Pure
    * map-side — the k centroids ride the plan as a broadcast scalar and
    * the argmax is per-row array math, so assignment adds zero shuffles
    * at any scale. */
  def assignments(s: SparkSession, dir: String): DataFrame =
    assignmentsOf(embeddingsWithNorm(s, dir), centroids(s, dir))

  /** Generic API: assign any (vec_id, v, norm) frame to the given
    * centroid frame. */
  def assignmentsOf(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(centArr(cents)))
      .select(col("vec_id"), col("v"), col("norm"),
        element_at(probeIdsCol(col("v"), col("norm"), 1), 1).as("cluster_id"))

  /** IVF search: probe the `nprobe` closest clusters per query, exact
    * re-rank within candidates. Probe selection is the same map-side
    * centroid-score array (sorted, sliced, exploded — no window); the one
    * scaled shuffle left is the equi-join on cluster_id. Recall vs brute
    * force is pinned in spec. Uses the session-cached trained index — a
    * production deployment trains/persists the index once and every
    * query reads it, instead of re-running Lloyd per search. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val (cents, assigned) = ivfFor(s, dir)
    annIvfSearch(embeddingsWithNorm(s, dir).filter(col("vec_id") < nQueries),
      cents, assigned)
  }

  /** IVF search against an already-trained index: `q` is any
    * (vec_id, v, norm) query frame, `cents`/`assigned` come from
    * [[buildIndex]], [[loadIndex]], or the inline trainers. */
  def annIvfSearch(q: DataFrame, cents: DataFrame, assigned: DataFrame): DataFrame = {
    // nprobe closest centroids per query: sort scores desc, slice, explode
    val probes = q
      .crossJoin(broadcast(centArr(cents)))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"),
        explode(probeIdsCol(col("v"), col("norm"), nprobe)).as("cluster_id"))
    annIvfCandidates(probes, assigned)
  }

  private def annIvfCandidates(probes: DataFrame, assigned: DataFrame): DataFrame =
    // candidates = vectors in probed clusters (equi-join on cluster_id);
    // top-k selection is the native bounded aggregate — identical
    // (cosine desc, neighbor asc) order as the row_number window it
    // replaces (see cosineTopkOf), with the exchange capped at k pairs
    // per query per partition instead of every candidate row. A vector
    // lives in exactly one cell, so (query, neighbor) rows are unique
    // and the aggregate's duplicate-collapse can never fire.
    probes.join(assigned.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cn"), col("cluster_id")), Seq("cluster_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineOf(col("qv"), col("cv"), col("qn"), col("cn")))
      .groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topkScoreId(
        col("cosine"), -col("neighbor_id"), topK, ascending = false).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "c")))
      .select(col("query_id"), (col("r0") + 1).cast("int").as("rank"),
        (-col("c.id")).as("neighbor_id"))
      .orderBy("query_id", "rank")

  // ------------------------------------------------ int8 quantization

  /** Symmetric int8 quantization of the embedding column — the standard
    * 4x storage/bandwidth cut for a vector corpus (q = floor(x·127/scale
    * + 0.5), scale = max|x| per vector; dequantize = q·scale/127 with
    * bounded error scale/254). floor(+0.5) instead of round() keeps the
    * arithmetic pure IEEE and engine-identical, so the full quantized
    * arrays hash-match the oracle. `scale` is both an output column and
    * the lambda input, which keeps it materialized per row (a
    * single-use alias would be inlined into the lambda and re-computed
    * per element — the HOF pitfall documented at
    * [[SearchOps.phraseSearchOf]]). All-zero vectors quantize to null
    * elements. Output is exploded to one scalar row per (vector,
    * dimension): the full array is still verified element-by-element,
    * but every compared cell is a scalar the comparison harness can
    * canonicalize (an array cell is unhashable in a pandas sort). */
  def quantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("scale", nullif(array_max(transform(col("v"), x => abs(x))), lit(0.0)))
      .select(
        col("vec_id"), col("scale"),
        posexplode(transform(col("v"),
          x => floor(x * lit(127.0) / col("scale") + lit(0.5)).cast("int")))
          .as(Seq("idx", "q_val")))
      .select("vec_id", "idx", "q_val", "scale")
      .orderBy("vec_id", "idx")
  }

  /** Multiple unnests in one SELECT are zipped positionally in DuckDB,
    * so index and value stay aligned. */
  val quantizeEmbeddingsSql: String =
    """WITH s AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    nullif(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 0.0) AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, scale,
      |    list_transform(v, x -> CAST(floor(x * 127.0 / scale + 0.5) AS INTEGER)) AS q
      |  FROM s)
      |SELECT vec_id,
      |  CAST(unnest(range(len(q))) AS INTEGER) AS idx,
      |  unnest(q) AS q_val,
      |  scale
      |FROM q ORDER BY vec_id, idx""".stripMargin

  // ------------------------------------------------ embedding health

  /** Embedding validation gate — the check every index build runs
    * BEFORE Lloyd/LSH sees a vector (one NaN poisons a centroid; a
    * zero vector has no direction; a ragged or denormalized vector
    * breaks the cosine≡dot identity the whole ANN tier rests on):
    * per-vector NaN count, exact-zero count, dimensionality, L2 norm
    * in exact integer micro-units (floor — no FP in the compared
    * value; the fold runs in array order so both engines sum identical
    * doubles), and the `healthy` verdict (no NaN, no zero, norm within
    * 10% of unit). One codegen projection, scan speed.
    *
    * The driver corpus is unit-normalized and clean, so damage is
    * planted deterministically from vec_id (the EncodingOps/piiScrub
    * fixture pattern, mirrored in the oracle): an appended zero
    * (mod 13), an appended NaN (mod 17), an appended 3.0
    * denormalizer (mod 19) — when-chain order resolves overlaps
    * identically on both engines. */
  def embedHealth(s: SparkSession, dir: String): DataFrame = {
    val damaged = when(col("vec_id") % 13 === 0,
        concat(col("embedding"), array(lit(0.0f))))
      .when(col("vec_id") % 17 === 0,
        concat(col("embedding"), array(lit(Float.NaN))))
      .when(col("vec_id") % 19 === 0,
        concat(col("embedding"), array(lit(3.0f))))
      .otherwise(col("embedding"))
    embedHealthOf(
      Tables.embeddings(s, dir).withColumn("v", damaged),
      col("vec_id"), col("v"))
      .orderBy("vec_id")
  }

  /** Generic API — validate ANY embedding frame before an index build
    * (the damage plant above is a test fixture, not part of the gate).
    * Emits per-vector dim / NaN count / zero count / exact-integer
    * micro-unit L2 norm and the `healthy` verdict, keyed by `id`. One
    * codegen projection over the vector column, scan speed. */
  def embedHealthOf(df: DataFrame, id: Column, vec: Column): DataFrame = {
    // the id is aliased to a reserved internal name while the stat
    // columns exist (a caller's id literally named "dim"/"n_nan"/...
    // would otherwise make the re-select ambiguous), then renamed back
    val base = df.select(id.as("_eh_id"),
        size(vec).as("dim"),
        size(filter(vec, x => isnan(x))).as("n_nan"),
        size(filter(vec, x => x === lit(0.0f))).as("n_zero"),
        aggregate(vec, lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")).as("ss"))
      .withColumn("norm_u", when(col("n_nan") > 0, lit(null).cast("long"))
        .otherwise(floor(sqrt(col("ss")) * lit(1000000.0)).cast("long")))
    val idName = df.select(id).columns.head
    base.select(col("_eh_id").as(idName), col("dim"), col("n_nan"),
        col("n_zero"), col("norm_u"),
        (col("n_nan") === 0 && col("n_zero") === 0 &&
          col("norm_u").between(900000L, 1100000L)).as("healthy"))
  }

  /** NaN must never reach the BIGINT cast (DuckDB raises where Spark's
    * lazy CASE simply skips), so norm_u is gated in its own CTE. */
  val embedHealthSql: String =
    """WITH raw AS (
      |  SELECT vec_id,
      |    CASE WHEN vec_id % 13 = 0 THEN list_append(embedding, CAST(0.0 AS FLOAT))
      |         WHEN vec_id % 17 = 0 THEN list_append(embedding, CAST('NaN' AS FLOAT))
      |         WHEN vec_id % 19 = 0 THEN list_append(embedding, CAST(3.0 AS FLOAT))
      |         ELSE embedding END AS v
      |  FROM embeddings),
      |sig AS (
      |  SELECT vec_id,
      |    CAST(len(v) AS INTEGER) AS dim,
      |    CAST(len(list_filter(v, x -> isnan(x))) AS INTEGER) AS n_nan,
      |    CAST(len(list_filter(v, x -> x = 0.0)) AS INTEGER) AS n_zero,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b) AS ss
      |  FROM raw),
      |nu AS (
      |  SELECT vec_id, dim, n_nan, n_zero,
      |    CASE WHEN n_nan > 0 THEN NULL
      |         ELSE CAST(floor(sqrt(ss) * 1000000) AS BIGINT) END AS norm_u
      |  FROM sig)
      |SELECT vec_id, dim, n_nan, n_zero, norm_u,
      |  (n_nan = 0 AND n_zero = 0 AND
      |   norm_u BETWEEN 900000 AND 1100000) AS healthy
      |FROM nu ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ product quantization

  val pqSubspaces = 8
  val pqCodes = 16

  /** (vec_id, subspace, sv) rows: each L2-normalized vector split into
    * `pqSubspaces` contiguous subvectors. Normalizing first makes L2
    * codebook distance rank like cosine, so PQ recall is comparable
    * against the cosine brute-force baseline. */
  private def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("v"), x => x / col("norm")).as("nv"))
      .select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(pqSubspaces - 1)),
          j => slice(col("nv"), j * (size(col("nv")) / pqSubspaces) + 1,
            size(col("nv")) / pqSubspaces))).as(Seq("subspace", "sv")))

  /** Per-subspace centroid arrays as one m-row frame for broadcast:
    * (subspace, cents: array<struct<code, cv>>). */
  private[operators] def codebookArr(cb: DataFrame): DataFrame =
    cb.groupBy(col("subspace"))
      .agg(sort_array(collect_list(struct(col("code"), col("cv")))).as("cents"))

  /** Squared L2 distance between two equal-length arrays, as a
    * sequential index-order fold — deterministic like the dot product. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** Per-row (d2, code) scores against a subspace's centroid array;
    * lexicographic min tie-breaks equal distances to the smallest code. */
  private[operators] def codeScores(sv: Column): Column =
    transform(col("cents"), c => struct(
      l2sq(sv, c.getField("cv")).as("d2"), c.getField("code").as("code")))

  /** Product-quantization codebook: `pqCodes` L2 centroids per subspace,
    * hash-seeded and trained by the one Lloyd trainer ([[lloydOf]], keys
    * (subspace, code)) — all subspaces train together in one exploded
    * frame, so a round is one broadcast-assign + one (subspace, code)
    * aggregation regardless of m. At 100 TB: train on a sample, the
    * codebook is m×k×(d/m) floats — kilobytes — and rides every later
    * plan as a broadcast. */
  def pqCodebook(s: SparkSession, dir: String): DataFrame =
    pqCodebookOf(subvectors(embeddingsWithNorm(s, dir)))

  /** Test hook: the normalized subvector frame for a directory. */
  def pqSubvectorsForTest(s: SparkSession, dir: String): DataFrame =
    subvectors(embeddingsWithNorm(s, dir))

  /** Codebook training runs on a deterministic 1-in-`pqTrainSampleInv`
    * hash sample of the vectors — the codebook is a density model, not
    * an index, so a sample trains it as well as the corpus does (and at
    * 100 TB training on the full corpus is never on the table). The
    * sample is keyed on vec_id hash, so it is reproducible and
    * identical across the train and encode passes. */
  val pqTrainSampleInv = 4

  def pqCodebookOf(sub: DataFrame): DataFrame = {
    val sample = sub.filter(pmod(xxhash64(col("vec_id")), lit(pqTrainSampleInv)) === 0)
    val bySub = Window.partitionBy(col("subspace"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
    val seeds = sample
      .withColumn("rn", row_number().over(bySub))
      .filter(col("rn") <= pqCodes)
      .select(col("subspace"), (col("rn") - 1).as("code"), col("sv").as("cv"))
    lloydOf(seeds, "subspace", "code") { cb =>
      sample.join(broadcast(codebookArr(cb)), "subspace")
        .select(col("subspace"), nearestCode, col("sv").as("v"))
    }
  }

  /** Nearest codeword of a subvector row's `sv` against the broadcast
    * codebook array. */
  private def nearestCode: Column =
    array_min(codeScores(col("sv"))).getField("code").as("code")

  /** (vec_id, subspace, code) rows pivoted to ONE row per vector —
    * (`keys`..., neighbor_id, codes: array<int> in subspace order) —
    * the one encoded form every PQ-family artifact stores, caches and
    * searches: candidate fetch stays an equi-join on the keys and the
    * whole ADC distance is per-row array math instead of an m-way
    * (subspace, code) join + sum. */
  private def codesArrays(rows: DataFrame, keys: Column*): DataFrame =
    rows.groupBy(keys :+ col("vec_id").as("neighbor_id"): _*)
      .agg(transform(sort_array(collect_list(struct(col("subspace"), col("code")))),
        t => t.getField("code")).as("codes"))

  /** PQ encoding: (neighbor_id, codes) — the persisted form, m small
    * ints per vector in place of the floats: a 64-dim float corpus
    * shrinks 32×, and every later search touches only this frame. */
  def pqEncodeOf(sub: DataFrame, cb: DataFrame): DataFrame =
    codesArrays(sub.join(broadcast(codebookArr(cb)), "subspace")
      .select(col("vec_id"), col("subspace"), nearestCode))

  /** ADC shortlist size: quantization error on structure-free vectors
    * is too coarse to trust the PQ ranking for the final top-k, so ADC
    * is used the way production PQ engines use it — as a cheap pruner
    * whose shortlist an exact pass re-ranks. */
  val pqShortlist = 50

  /** The approximate distance of a candidate row: the native
    * [[graft.functions.AdcDistance]] fold of its (rq, codes) against
    * the codebook grid — a DETERMINISTIC subspace-ordered sum (unlike a
    * LUT join's shuffled m-row sum, so batch and stream compute the
    * bit-identical double), with the grid as a codegen closure
    * constant: one allocation-free JVM loop per candidate (the
    * higher-order formulation it replaced evaluated interpreted — the
    * swap measured 3.3× on the streaming probe END TO END, 32.1 s →
    * 9.8 s for 8k queries at sf0.1·4). */
  private def adcDistance(grid: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.AdcDistance(
      org.apache.spark.sql.GraftBridge.expression(col("rq")),
      org.apache.spark.sql.GraftBridge.expression(col("codes")), grid))

  /** Per-query ADC top-`k` of scored candidates (query_id, neighbor_id,
    * approx_d2) as one (query_id, top) row: the native bounded top-k,
    * ascending distance, ties to the smaller id — O(k) state, map-side
    * partials capped at k (guide §2.3 "aggregate before you
    * shuffle"). */
  private def adcTop(cands: DataFrame, k: Int): DataFrame =
    cands.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topkScoreId(
        col("approx_d2"), col("neighbor_id"), k, ascending = true).as("top"))

  /** An [[adcTop]] frame as (query_id, neighbor_id) shortlist rows. */
  private def shortlistOf(top: DataFrame): DataFrame =
    top.select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c.id").as("neighbor_id"))

  /** PQ-ADC top-k with exact re-rank. The approximate stage is the
    * deterministic native ADC fold against the encoded corpus (one
    * (neighbor_id, codes) row per vector): the query's normalized
    * subvectors and the broadcast codebook grid ride the plan, the
    * per-candidate distance is ONE allocation-free JVM loop
    * ([[adcDistance]]), and the per-query shortlist is the native
    * bounded top-k ([[adcTop]]). The previous shape broadcast-joined an
    * m·k LUT against (vec_id, subspace, code) rows, multiplying the
    * corpus stream ×|queries| BEFORE a (query, vector) hash aggregation
    * — measured as the query's dominant stage (515 ms of a 2.4 s warm
    * run at sf0.1, 390 KB pair-partial exchange). The best
    * `pqShortlist` candidates per query are re-ranked with the exact
    * cosine ([[exactRerank]]). The full corpus is only ever touched as
    * codes; float vectors are fetched by equi-join for shortlist rows
    * alone — the plan that holds when the corpus no longer fits in
    * aggregate executor memory as floats. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val (cb, encoded) = pqFor(s, dir)
    annPqSearch(embeddingsWithNorm(s, dir), cb, encoded)
  }

  /** PQ-ADC search against an already-trained codebook and encoded
    * corpus ([[pqEncodeOf]]'s form): `e` is the (vec_id, v, norm)
    * corpus frame (queries are its vec_id < nQueries rows; exact
    * re-rank fetches shortlist vectors from it by equi-join). */
  def annPqSearch(e: DataFrame, cb: PqCodebook, encoded: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
    // the query's normalized subvectors, map-side (10-row broadcast)
    val probes = q.select(col("vec_id").as("query_id"),
      subSplit(transform(col("v"), x => x / col("norm"))).as("rq"))
    val cands = encoded
      .join(broadcast(probes), col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_d2", adcDistance(cb.grid))
    exactRerank(shortlistOf(adcTop(cands, pqShortlist)), q, e)
  }

  // ------------------------------------------------ IVF-PQ (IVFADC)

  /** Subspace split of an arbitrary vector column — the [[subvectors]]
    * slicing without the normalization (IVFADC splits RESIDUALS, which
    * are already differences of unit vectors). */
  private def subSplit(v: Column): Column =
    transform(sequence(lit(0), lit(pqSubspaces - 1)),
      j => slice(v, j * (size(v) / pqSubspaces) + 1, size(v) / pqSubspaces))

  /** The centroid frame keyed for residual joins. */
  private def centById(cents: DataFrame): DataFrame =
    cents.select(col("centroid_id").as("cluster_id"),
      col("cv").as("ccv"), col("cn").as("ccn"))

  /** Per-vector PQ-ready residual subvectors against the IVF coarse
    * quantizer: r = v/|v| − c/|c| for the vector's own cell, split
    * into [[pqSubspaces]] subspaces. Because both sides are unit
    * vectors, ‖q_r − x_r‖² within a shared cell equals ‖q_u − x_u‖²
    * = 2 − 2·cos(q, x) exactly, so ADC over residuals ranks like
    * cosine — this is IVFADC (Jégou et al. 2011, §III): quantize the
    * residual, not the vector, and the coarse quantizer's variance is
    * removed from what PQ must encode. */
  private[operators] def ivfpqResidualSub(e: DataFrame, cents: DataFrame): DataFrame =
    assignmentsOf(e, cents)
      .join(broadcast(centById(cents)), Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"),
        zip_with(col("v"), col("ccv"),
          (x, c) => x / col("norm") - c / col("ccn")).as("rv"))
      .select(col("vec_id"), col("cluster_id"),
        posexplode(subSplit(col("rv"))).as(Seq("subspace", "sv")))

  /** Residual-encoded corpus: (cluster_id, neighbor_id, codes) — m
    * small ints per vector; at scale this IS the search corpus (the
    * float inverted file is only touched by the exact re-rank's
    * shortlist equi-join), cluster-bucketed so a probe reads only its
    * cells. The codebook is SHARED across cells (the standard IVFADC
    * memory layout — per-cell codebooks would be K·m·k centroids). */
  private[operators] def ivfpqEncodeOf(residSub: DataFrame, cb: DataFrame): DataFrame =
    codesArrays(residSub.join(broadcast(codebookArr(cb)), "subspace")
      .select(col("vec_id"), col("cluster_id"), col("subspace"), nearestCode),
      col("cluster_id"))

  /** IVFADC search: probe `nprobe` cells per query, ADC-score the
    * probed cells' encoded vectors against the query's RESIDUAL for
    * each cell ([[ivfAdcTop]]), so candidate volume is |N|·nprobe/K
    * like plain IVF while the corpus side carries codes instead of
    * floats; the `pqShortlist` survivors re-rank exactly against the
    * float corpus ([[exactRerank]]). Composes the two pruning regimes a
    * 100 TB vector corpus needs AT ONCE: partition pruning (IVF) and
    * compression (PQ). The previous shape broadcast-joined a
    * per-(query, cell) m·k LUT against (vec_id, cluster_id, subspace,
    * code) rows and re-summed the m partials in a (query, vector) hash
    * aggregation (shuffle-order double sum; measured as the query's
    * dominant stage, 669 ms of a 2.1 s warm run at sf0.1). */
  def annIvfPqSearch(q: DataFrame, cents: DataFrame, cb: PqCodebook,
      encoded: DataFrame, e: DataFrame): DataFrame =
    exactRerank(shortlistOf(ivfAdcTop(q, cents, cb, encoded, pqShortlist)), q, e)

  /** The composed IVF-PQ query row (rows-only; recall floor vs brute
    * force spec-pinned like q_ann_ivf/q_ann_pq). Reuses the session's
    * trained IVF index as the coarse quantizer, so a deployment that
    * already runs IVF upgrades to IVFADC without retraining Lloyd. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val (cents, cb, encoded) = ivfpqFor(s, dir)
    annIvfPqSearch(embeddingsWithNorm(s, dir).filter(col("vec_id") < nQueries),
      cents, cb, encoded, embeddingsWithNorm(s, dir))
  }

  /** Persist the IVFADC artifacts: the coarse centroids are the IVF
    * index's own (shared), so only the residual codebook and the
    * cluster-keyed encoded corpus are new tables; the encoded corpus
    * is repartitioned by cluster_id on write like the inverted file,
    * so a probe's cluster_id join reads only the probed cells' files. */
  def writeIvfPq(cents: DataFrame, cb: PqCodebook, encoded: DataFrame,
      path: String): Unit = {
    cents.write.mode("overwrite").parquet(s"$path/ivfpq_centroids")
    cb.rows.write.mode("overwrite").parquet(s"$path/ivfpq_codebook")
    encoded.repartition(col("cluster_id"))
      .write.mode("overwrite").parquet(s"$path/ivfpq_encoded")
  }

  def loadIvfPq(s: SparkSession, path: String): (DataFrame, PqCodebook, DataFrame) =
    (s.read.parquet(s"$path/ivfpq_centroids"),
      PqCodebook.of(s.read.parquet(s"$path/ivfpq_codebook")),
      s.read.parquet(s"$path/ivfpq_encoded"))

  private val ivfpqCache = new graft.SessionCache[(DataFrame, PqCodebook, DataFrame)]()

  /** (coarse centroids, shared residual codebook, encoded corpus) for
    * the corpus, training on first use; the coarse quantizer is the
    * SAME session-cached IVF index the plain-IVF rows use. The encoded
    * corpus is PRE-BUCKETED on cluster_id before materialization — the
    * layout [[writeIvfPq]] persists — and the checkpoint preserves that
    * partitioning, so every probe join on cluster_id (the batch search
    * and each micro-batch of
    * [[graft.streaming.EventStream.ivfpqProbeStream]]) reads the index
    * side already placed and re-exchanges only the query rows (guide
    * §2.4 "two operations keyed the same way share one exchange"; a
    * stream-static join re-plans the static side per batch, so an
    * unpartitioned index paid its exchange on every micro-batch). */
  def ivfpqFor(s: SparkSession, dir: String): (DataFrame, PqCodebook, DataFrame) =
    ivfpqCache.getOrCompute(s, dir) {
      val (cents, _) = ivfFor(s, dir)
      val residSub = ivfpqResidualSub(embeddingsWithNorm(s, dir), cents)
        .localCheckpoint()
      val cb = pqCodebookOf(residSub)
      (cents, PqCodebook.of(cb), ivfpqEncodeOf(residSub, cb)
        .repartition(col("cluster_id")).localCheckpoint())
    }

  /** A trained PQ codebook: `rows` (subspace, code, cv) is what
    * encoding broadcasts and the writers persist; `grid`(subspace)(code)
    * = codeword is the same kilobytes collected once per training or
    * load, riding every search plan as an [[graft.functions.AdcDistance]]
    * closure constant (the BPE-encoder pattern), so a warm search
    * launches no collect job. */
  final case class PqCodebook(rows: DataFrame, grid: Array[Array[Array[Double]]])

  object PqCodebook {
    def of(cb: DataFrame): PqCodebook = PqCodebook(cb, cb.collect()
      .groupBy(_.getAs[Int]("subspace")).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getAs[Int]("code"))
          .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray).toArray
      }.toArray)
  }

  /** Probe expansion shared by the batch IVFADC search and the
    * streaming IVFADC probe: for a frame carrying (query_id, qv, qn)
    * plus any pass-through columns (e.g. the stream's ingest_ts), emit
    * one row per (query, probed cell) with the query's residual
    * subvectors against that cell's centroid. Pure map-side against two
    * broadcast scalars (centroid array + per-cell centroid lookup). */
  private[graft] def adcProbes(frame: DataFrame, cents: DataFrame): DataFrame =
    frame
      .crossJoin(broadcast(centArr(cents)))
      .withColumn("cluster_id",
        explode(probeIdsCol(col("qv"), col("qn"), nprobe)))
      .drop("cents")
      .join(broadcast(centById(cents)), Seq("cluster_id"))
      .withColumn("rq",
        subSplit(zip_with(col("qv"), col("ccv"),
          (x, c) => x / col("qn") - c / col("ccn"))))
      .drop("ccv", "ccn")

  /** Scored ADC candidates: probe rows equi-join the encoded corpus on
    * cluster_id and carry their [[adcDistance]] as `approx_d2`. */
  private[graft] def adcCandidates(probes: DataFrame, encoded: DataFrame,
      grid: Array[Array[Array[Double]]]): DataFrame =
    probes
      .join(encoded, Seq("cluster_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_d2", adcDistance(grid))

  /** The IVFADC approximate stage shared by the re-ranked search and
    * the ADC-only answer: [[adcProbes]] → [[adcCandidates]] →
    * [[adcTop]] over a (vec_id, v, norm) query frame. */
  private def ivfAdcTop(q: DataFrame, cents: DataFrame, cb: PqCodebook,
      encoded: DataFrame, k: Int): DataFrame =
    adcTop(adcCandidates(adcProbes(asQueries(q), cents), encoded, cb.grid), k)

  /** Batch ADC top-k over the encoded index: the streaming probe's
    * exact twin (same probes, same fold, same tie rules — spec-pinned
    * row parity), and the ADC-only answer shape for callers that skip
    * the exact re-rank. */
  def annIvfPqAdcTopk(q: DataFrame, cents: DataFrame, cb: PqCodebook,
      encoded: DataFrame): DataFrame =
    ivfAdcTop(q, cents, cb, encoded, topK)
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "c")))
      .select(col("query_id"), (col("r0") + 1).cast("int").as("rank"),
        col("c.id").as("neighbor_id"))
      .orderBy("query_id", "rank")

  // ------------------------------------------------ trained-index lifecycle

  /** The four trained ANN artifacts a deployment persists alongside the
    * corpus instead of retraining per query: IVF centroids (k rows) and
    * the inverted file (corpus rows as (vec_id, cluster_id, v, norm) —
    * at scale this IS the stored corpus, cluster-bucketed), plus the PQ
    * codebook (m×k rows, kilobytes) and the encoded corpus (one
    * (neighbor_id, codes) row per vector, m small ints — the 32×
    * compressed search frame). */
  final case class AnnIndex(centroids: DataFrame, assigned: DataFrame,
      codebook: PqCodebook, encoded: DataFrame)

  /** IVF training: (centroids, inverted file), both materialized. */
  private def ivfOf(e: DataFrame): (DataFrame, DataFrame) = {
    val cents = centroidsOf(e) // lloydOf's last cut
    (cents, assignmentsOf(e, cents).localCheckpoint())
  }

  /** PQ training: (codebook, encoded corpus), both materialized. */
  private def pqOf(e: DataFrame): (PqCodebook, DataFrame) = {
    val sub = subvectors(e).localCheckpoint()
    val cb = pqCodebookOf(sub)
    (PqCodebook.of(cb), pqEncodeOf(sub, cb).localCheckpoint())
  }

  /** Train every artifact over the corpus frame, uncached. */
  def buildIndex(e: DataFrame): AnnIndex = {
    val (cents, assigned) = ivfOf(e)
    val (cb, encoded) = pqOf(e)
    AnnIndex(cents, assigned, cb, encoded)
  }

  /** Persist a trained index as four parquet tables under `path`. The
    * inverted file is repartitioned by cluster_id on write so a probe's
    * equi-join reads only the probed clusters' files. */
  def writeIndex(idx: AnnIndex, path: String): Unit = {
    idx.centroids.write.mode("overwrite").parquet(s"$path/ivf_centroids")
    idx.assigned.repartition(col("cluster_id"))
      .write.mode("overwrite").parquet(s"$path/ivf_assigned")
    idx.codebook.rows.write.mode("overwrite").parquet(s"$path/pq_codebook")
    idx.encoded.write.mode("overwrite").parquet(s"$path/pq_encoded")
  }

  def loadIndex(s: SparkSession, path: String): AnnIndex = AnnIndex(
    s.read.parquet(s"$path/ivf_centroids"),
    s.read.parquet(s"$path/ivf_assigned"),
    PqCodebook.of(s.read.parquet(s"$path/pq_codebook")),
    s.read.parquet(s"$path/pq_encoded"))

  /** Trained artifacts cached per (session, corpus dir), materialized
    * via localCheckpoint: the first search trains, every later search —
    * including bench repetitions — reuses, mirroring the persisted-
    * table deployment without retraining Lloyd per query. The IVF and
    * PQ families train LAZILY and separately — an IVF-only workload
    * never pays the 8-way subvector explode of PQ training, and vice
    * versa. Training is deterministic, so cached and freshly-trained
    * results are identical (spec-pinned). */
  private val ivfCache = new graft.SessionCache[(DataFrame, DataFrame)]()
  private val pqCache = new graft.SessionCache[(PqCodebook, DataFrame)]()

  /** (centroids, inverted file) for the corpus, training on first use. */
  def ivfFor(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfCache.getOrCompute(s, dir)(ivfOf(embeddingsWithNorm(s, dir)))

  /** (codebook, encoded corpus) for the corpus, training on first use. */
  def pqFor(s: SparkSession, dir: String): (PqCodebook, DataFrame) =
    pqCache.getOrCompute(s, dir)(pqOf(embeddingsWithNorm(s, dir)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_topk"        -> (annTopk _),
    "q_ann_hamming"     -> (annHamming _),
    "q_ann_hamming_banded" -> (annHammingBanded _),
    "q_ann_ivf"         -> (annIvf _),
    "q_ann_pq"          -> (annPq _),
    "q_ann_ivfpq"       -> (annIvfPq _),
    "q_knn_graph"       -> (knnGraph _),
    "q_knn_graph_ivf"   -> (knnGraphIvf _),
    "q_embed_centroids" -> (embedCentroids _),
    "q_embed_outliers"  -> (embedOutliers _),
    "q_embed_quantize"  -> (quantizeEmbeddings _),
    "q_embed_health"    -> (embedHealth _))

  /** IVF is approximate by construction — spec-pinned, rows-only check. */
  def oracles: Map[String, String] = Map(
    "q_ann_topk"        -> annTopkSql,
    "q_ann_hamming"     -> annHammingSql,
    "q_ann_hamming_banded" -> annHammingBandedSql,
    "q_knn_graph"       -> knnGraphSql,
    "q_embed_centroids" -> embedCentroidsSql,
    "q_embed_outliers"  -> embedOutliersSql,
    "q_embed_quantize"  -> quantizeEmbeddingsSql,
    "q_embed_health"    -> embedHealthSql)
}
