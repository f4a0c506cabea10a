package graft.operators

/** The committed default BPE merge list — the output of
  * [[BpeOps.trainMerges]] over the sf0.001 `documents` corpus with
  * [[BpeOps.defaultNumMerges]] merges, in rank order. Generated by the
  * test-scope `graft.TrainBpeScratch` (`sbt "Test/runMain
  * graft.TrainBpeScratch"`); BpeOpsSpec asserts the trainer reproduces
  * this list exactly, so the artifact is regenerable, never hand-kept.
  */
private[operators] object DefaultBpeMerges {
  val merges: Seq[(String, String)] = Seq(
    ("e", "r"),
    ("o", "r"),
    ("i", "n"),
    ("o", "w"),
    ("s", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("m", "er"),
    ("a", "t"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("co", "lu"),
    ("colu", "m"),
    ("colum", "n"),
    ("d", "ow"),
    ("in", "dow"),
    ("w", "indow"),
    ("d", "er"),
    ("or", "der"),
    ("or", "t"),
    ("s", "ort"),
    ("par", "t"),
    ("u", "p"),
    ("a", "g"),
    ("ag", "g"),
    ("a", "lu"),
    ("alu", "e"),
    ("v", "alue"),
    ("in", "e"),
    ("l", "ine"),
    ("e", "y"),
    ("k", "ey"),
    ("j", "o"),
    ("jo", "in"),
    ("g", "e"),
    ("mer", "ge"),
    ("er", "y"))

  /** The committed base alphabet — [[BpeOps.trainAlphabet]] over the
    * same sf0.001 corpus (the synthetic vocabulary spans a-w,y: no x,
    * z, digits or punctuation at this sf). Characters absent here
    * surface as OOV ids (-1) on out-of-distribution corpora — the
    * signal `q_bpe_ids`'s n_oov column exists to count. Also generated
    * by the test-scope TrainBpeScratch and spec-pinned against the trainer. */
  val alphabet: Seq[String] = Seq(
    "a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l",
    "m", "n", "o", "p", "q", "r", "s", "t", "u", "v", "w", "y")
}
