package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The library is usable from pure SQL: GraftFunctions.register exposes
  * the native expressions to spark.sql, and the same dedup math runs as
  * a SQL statement over a temp view with results identical to the
  * DataFrame API. */
class SqlSurfaceSpec extends SparkSpec {

  test("native expressions are callable from spark.sql") {
    GraftFunctions.register(spark)
    graft.Tables.documents(spark, sfDir).createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |  graft_fingerprint(text) AS fp,
        |  size(graft_shingles(text, 3)) AS n_shingles,
        |  graft_minhash(graft_shingles(text, 3), 8)[0] AS mh0
        |FROM docs_sql WHERE size(graft_shingles(text, 3)) > 0
        |ORDER BY doc_id""".stripMargin).collect()
    val viaApi = graft.operators.DedupOps.shingleHashesOf(
        graft.Tables.documents(spark, sfDir), "doc_id", "text", 3)
      .join(graft.Tables.documents(spark, sfDir), "doc_id")
      .select(col("doc_id"),
        expr("graft_fingerprint(text)").as("fp"),
        size(col("hs")).as("n_shingles"),
        element_at(GraftFunctions.minhash(col("hs"), 8), 1).as("mh0"))
      .orderBy("doc_id").collect()
    assert(viaSql.length == viaApi.length && viaSql.length > 0)
    viaSql.zip(viaApi).foreach { case (a, b) => assert(a == b) }
  }

  test("register is idempotent: a second call keeps every builder") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    GraftFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    val names = Seq("graft_fingerprint", "graft_dot", "graft_shingles", "graft_minhash",
      "graft_window_hashes", "graft_intersect_count", "graft_jpeg_dims",
      "graft_mp4_duration", "graft_gopher_stats")
    val before = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    assert(before.forall(_.isDefined))
    GraftFunctions.register(spark)
    val after = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    before.zip(after).foreach { case (b, a) => assert(a.get eq b.get) }
  }

  test("integral literal widths are accepted; bad k args raise AnalysisException") {
    GraftFunctions.register(spark)
    graft.Tables.documents(spark, sfDir).createOrReplaceTempView("docs_sql")
    // a parser or generator may widen the shingle width to BIGINT —
    // 3L must behave exactly like 3
    val viaInt = spark.sql(
      "SELECT doc_id, graft_shingles(text, 3) AS hs FROM docs_sql ORDER BY doc_id")
      .collect()
    val viaLong = spark.sql(
      "SELECT doc_id, graft_shingles(text, 3L) AS hs FROM docs_sql ORDER BY doc_id")
      .collect()
    assert(viaInt.length > 0 && viaInt.sameElements(viaLong))
    val viaCast = spark.sql(
      "SELECT graft_minhash(graft_shingles(text, CAST(3 AS BIGINT)), 8L) AS sig " +
        "FROM docs_sql LIMIT 1").collect()
    assert(viaCast.nonEmpty)
    // non-foldable and non-integral k must fail at analysis, not eval
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_shingles(text, doc_id) FROM docs_sql").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_shingles(text, 'three') FROM docs_sql").collect()
    }
  }

  test("a SURVEY query's semantics run as one SQL statement") {
    graft.Tables.documents(spark, sfDir).createOrReplaceTempView("docs_sql")
    GraftFunctions.register(spark)
    // exact dedup expressed in SQL over the view
    val sql = spark.sql(
      """SELECT md5(array_join(slice(split(text, ' '), 1, 10), ' ')) AS fp,
        |  min(doc_id) AS canonical_doc_id, count(1) AS n_copies
        |FROM docs_sql GROUP BY 1 ORDER BY fp""".stripMargin).collect()
    val api = graft.operators.DedupOps.exactDedup(spark, sfDir).collect()
    assert(sql.sameElements(api))
  }
}
