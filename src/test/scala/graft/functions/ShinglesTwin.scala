package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The interpreted word-n-gram shingle chain that the native
  * [[ShingleHashes]] / [[ShingleStrings]] expressions replaced — kept
  * in test scope as the twin they are pinned against. Output
  * (doc_id, sh: array<string>), distinct shingles, docs with ≥ n words.
  *
  * The word array is let-bound as a lambda variable (the
  * `transform(array(...), ws => ...)` wrapper): higher-order functions
  * evaluate interpreted with no subexpression sharing, so a bare
  * `split()` referenced inside the shingling lambda would re-split the
  * document once per shingle — O(len²) parsing per document. */
object ShinglesTwin {

  /** Word-3-gram shingle sets of a corpus directory's documents. */
  def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(graft.Tables.documents(s, dir), "doc_id", "text", 3)

  def shinglesOf(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val mkShingles = (ws: Column) =>
      array_distinct(transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*)))
    docs
      .filter(size(split(col(textCol), " ")) >= n)
      .select(col(idCol).as("doc_id"),
        element_at(transform(array(split(col(textCol), " ")), mkShingles), 1).as("sh"))
  }
}
