package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one-word banded Hamming index, batch search and streaming probe
  * that the word-array layout of [[AnnOps.sketchBandsOf]] replaced —
  * kept in test scope as the 64-dim twin the general path is pinned
  * against (HammingProbeStreamSpec): one `bits: long` sketch per
  * vector, eight 8-bit bands with band_id 0..7, Hamming as one
  * XOR+POPCNT. */
object HammingBandsTwin {
  import AnnOps.{hammingBands, hammingBandBits, topK}

  private def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.dot(a, b)

  private def bandStructsOf(bits: Column): Column =
    array((0 until hammingBands).map { b =>
      struct(lit(b).as("band_id"),
        shiftrightunsigned(bits, b * hammingBandBits)
          .bitwiseAND(lit(0xFFL)).as("band_key"))
    }: _*)

  /** (vec_id, bits, band_id, band_key), one row per (vector, band). */
  def sketchBandsOf(e: DataFrame): DataFrame =
    e.withColumn("bits", AnnOps.signBits(col("v")))
      .select(col("vec_id"), col("bits"),
        explode(bandStructsOf(col("bits"))).as("band"))
      .select(col("vec_id"), col("bits"),
        col("band.band_id").as("band_id"), col("band.band_key").as("band_key"))

  /** Band-join candidates, XOR+POPCNT Hamming, exact-cosine top-k. */
  def search(q: DataFrame, bands: DataFrame, e: DataFrame): DataFrame = {
    val qb = sketchBandsOf(q)
      .select(col("vec_id").as("query_id"), col("bits").as("qbits"),
        col("band_id"), col("band_key"))
    val cands = qb
      .join(bands.select(col("vec_id").as("neighbor_id"),
        col("bits").as("cbits"), col("band_id"), col("band_key")),
        Seq("band_id", "band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        bit_count(col("qbits").bitwiseXOR(col("cbits"))).as("hamming"))
      .distinct()
    val wC = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      .join(broadcast(q.select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("norm").as("qn"))), "query_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cn")), "neighbor_id")
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
      .orderBy("query_id", "rank")
  }

  /** The streaming probe over a [[sketchBandsOf]] index: (vec_id,
    * embedding) stream in, (query_id, rank, neighbor_id) out. */
  def probeStream(vecs: DataFrame, bands: DataFrame, corpus: DataFrame): DataFrame = {
    val qs = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        current_timestamp().as("ingest_ts"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("bits", AnnOps.signBits(col("v")))
      .select(col("vec_id").as("query_id"), col("ingest_ts"),
        col("v").as("qv"), col("norm").as("qn"),
        explode(bandStructsOf(col("bits"))).as("band"))
      .select(col("query_id"), col("ingest_ts"), col("qv"), col("qn"),
        col("band.band_id").as("band_id"), col("band.band_key").as("band_key"))
      .withWatermark("ingest_ts", "10 seconds")
    qs
      .join(bands.select(col("vec_id").as("neighbor_id"), col("band_id"),
        col("band_key")), Seq("band_id", "band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cn")), Seq("neighbor_id"))
      .select(col("query_id"), col("ingest_ts"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"),
        (-col("neighbor_id")).as("nid"))
      .groupBy(window(col("ingest_ts"), "1 minute"), col("query_id"))
      .agg(graft.functions.GraftFunctions.topkScoreId(
        col("cosine"), col("nid"), topK, ascending = false).as("top"))
      .drop("window")
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "c")))
      .select(col("query_id"), (col("r0") + 1).cast("int").as("rank"),
        (-col("c.id")).as("neighbor_id"))
  }
}
