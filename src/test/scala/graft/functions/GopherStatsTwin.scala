package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The interpreted Gopher rule chain that [[GopherStats]] replaced —
  * kept in test scope as the twin the native kernel is pinned against
  * (GopherStatsSpec). One `\s+` split let-bound through
  * `transform(array(...))` and shared by the word-level rules; the
  * character-level rules run over `text` directly. */
object GopherStatsTwin {
  def col(text: Column): Column = {
    def build(ws: Column): Column = {
      val nWordsI = size(ws)
      val nAlpha = size(filter(ws, w => w.rlike("[A-Za-z]")))
      val nStop = size(array_intersect(array_distinct(ws),
        typedlit(TextFunctions.qualityStopwords)))
      val nWords = nWordsI.cast("double")
      val noWs = length(regexp_replace(trim(text), "\\s+", ""))
      val nSymbols = length(text) - length(translate(text, "#…", ""))
      val meanWordLen = noWs.cast("double") / nWords
      val alphaFrac = nAlpha.cast("double") / nWords
      val symbolRatio = nSymbols.cast("double") / nWords
      val okWords = nWordsI.between(50, 100000)
      val okMeanLen = meanWordLen.between(3.0, 10.0)
      val okAlpha = alphaFrac >= 0.8
      val okSymbol = symbolRatio <= 0.1
      val okStop = nStop >= 2
      struct(
        nWordsI.as("n_words"),
        meanWordLen.as("mean_word_len"),
        alphaFrac.as("alpha_frac"),
        symbolRatio.as("symbol_ratio"),
        nStop.as("n_stop"),
        okWords.as("ok_words"),
        okMeanLen.as("ok_mean_len"),
        okAlpha.as("ok_alpha"),
        okSymbol.as("ok_symbol"),
        okStop.as("ok_stop"),
        (okWords && okMeanLen && okAlpha && okSymbol && okStop).as("keep"))
    }
    element_at(transform(array(split(trim(text), "\\s+")), build _), 1)
  }
}
