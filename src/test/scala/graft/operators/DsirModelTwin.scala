package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The interpreted DSIR training chain that the native
  * [[graft.functions.Md5BucketCounts]] pass replaced — kept in test
  * scope as the twin [[QualityModelOps.dsirModelOf]] is pinned against
  * (DsirModelSpec, Md5BucketCountsSpec): hashed unigram+bigram
  * features from one `\s+` split per row, each feature's bucket the
  * two-hex-char prefix of its string md5. */
object DsirModelTwin {
  import QualityModelOps.refSources

  /** Unigrams ++ adjacent bigrams of `split(trim(text), "\s+")`, the
    * split let-bound so it runs once per row. */
  def featuresCol: Column = element_at(
    transform(array(split(trim(col("text")), "\\s+")),
      ws => concat(ws, QualityModelOps.bigramsOf(ws))), 1)

  /** The bucket counts as string-md5 rollups: per-(source, bucket)
    * multiplicities and their whole-corpus and reference-slice sums;
    * only the last projection turns the hex bucket into the model's
    * `(bucket, cr, ct)` row. */
  def of(docs: DataFrame): DataFrame = {
    val fb = docs
      .select(col("source"), explode(featuresCol).as("f"))
      .select(col("source"), substring(md5(col("f")), 1, 2).as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("m"))
    val cr = fb.groupBy(col("bucket")).agg(sum(col("m")).as("cr"))
    val ct = fb.filter(col("source").isin(refSources: _*))
      .groupBy(col("bucket")).agg(sum(col("m")).as("ct"))
    cr.join(ct, Seq("bucket"), "left")
      .select(conv(col("bucket"), 16, 10).cast("int").as("bucket"), col("cr"), col("ct"))
  }
}
