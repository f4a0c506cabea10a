package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {

  test("minhash-LSH: precision 1.0 (verified pairs) and high recall vs exact jaccard") {
    val exact = DedupOps.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = DedupOps.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // precision: every LSH pair is a true >=0.5 pair with the same jaccard
    lsh.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"false positive $pair")
      assert(exact(pair) == j)
    }
    // recall on strong pairs (jaccard >= 0.7): banding (16x2) catches these
    val strong = exact.filter(_._2 >= 0.7).keySet
    if (strong.nonEmpty) {
      val caught = strong.count(lsh.contains)
      assert(caught.toDouble / strong.size >= 0.9,
        s"recall ${caught.toDouble / strong.size} on ${strong.size} strong pairs")
    }
  }

  test("LSH pairs equal the exact miner's (oracle identity for q_dedup_minhash_lsh)") {
    // the driver hash-checks the LSH row against the brute-force
    // oracle — valid while banding recalls every true pair (all true
    // pairs sit at j >= 0.8 where recall is ~1). If regenerated
    // testdata ever plants a borderline pair the LSH misses, THIS
    // fails locally instead of the driver row going red.
    val exact = DedupOps.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val lsh = DedupOps.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(lsh == exact && lsh.nonEmpty)
  }

  test("raw hash arrays are normalized at the signature chokepoint") {
    import spark.implicits._
    // unsorted + duplicated input must yield the same signatures, hs,
    // and verified pairs as the clean sorted-distinct form — the
    // two-pointer verify kernel's contract is enforced by construction
    val dirty = Seq(
      (1L, Seq(9L, 3L, 9L, 1L, 7L)),
      (2L, Seq(7L, 1L, 3L, 3L, 9L)),
      (3L, Seq(100L, 200L))).toDF("doc_id", "hs")
    val clean = dirty.select(col("doc_id"),
      array_sort(array_distinct(col("hs"))).as("hs"))
    val a = DedupOps.minhashLshOf(DedupOps.minhashSignaturesHashedOf(dirty), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = DedupOps.minhashLshOf(DedupOps.minhashSignaturesHashedOf(clean), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a == b && a.nonEmpty)
    // docs 1 and 2 share the identical 4-element set {1,3,7,9} → jaccard 1.0
    assert(a.contains((1L, 2L, 1.0)))
    DedupOps.minhashSignaturesHashedOf(dirty).collect().foreach { r =>
      val hs = r.getSeq[Long](1)
      assert(hs == hs.distinct.sorted, s"hs not sorted-distinct: $hs")
    }
  }

  test("stop-shingle DF cap: capped pairs are a subset, recall stays high") {
    val uncapped = DedupOps.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // aggressive cap (DF > 20 dropped) — far tighter than production's
    // stopShingleDfCap, to actually exercise the pruning on test data
    val capped = DedupOps.ngramJaccardHashedOf(DedupOps.shingleHashes(spark, sfDir),
        DedupOps.jaccardThreshold, 20L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capping only removes common-shingle evidence → jaccard is
    // underestimated → capped pairs are a subset of the true pairs
    assert(capped.subsetOf(uncapped), s"cap invented pairs: ${capped.diff(uncapped)}")
    if (uncapped.nonEmpty) {
      val recall = capped.size.toDouble / uncapped.size
      assert(recall >= 0.8, s"recall $recall over ${uncapped.size} true pairs")
    }
  }

  test("containment: catches subset pairs invisible to jaccard, bounds hold") {
    val pairs = DedupOps.containmentPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, common, cont, jac) =>
      assert(a < b, "ordered pairs")
      assert(cont >= DedupOps.containmentPpm, "threshold enforced")
      assert(cont >= jac, "containment dominates jaccard")
      assert(cont <= 1000000L && jac <= 1000000L && common >= 1)
    }
    // the asymmetric band: pairs the jaccard miner (>= 0.5) cannot see
    val jaccardVisible = DedupOps.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val asymmetric = pairs.filter(p => !jaccardVisible((p._1, p._2)))
    assert(asymmetric.nonEmpty, "no subset-duplication pair caught")
    assert(asymmetric.forall(_._5 < 500000L), "asymmetric pairs sit below the jaccard gate")
  }

  test("duplication profile: sizes partition the corpus, ppm sums within floor slack") {
    val rows = DedupOps.dupProfile(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_._3).sum === nDocs, "every doc sits in exactly one cluster")
    assert(rows.exists(_._1 == 1L), "a healthy corpus has singletons")
    assert(rows.exists(_._1 > 1L), "the planted dups form real clusters")
    rows.foreach { case (sz, nc, nd, ppm) =>
      assert(nd === sz * nc)
      assert(ppm === nd * 1000000L / nDocs)
    }
    val ppmSum = rows.map(_._4).sum
    assert(ppmSum <= 1000000L && ppmSum > 1000000L - rows.length)
  }

  test("simhash: near-identical documents collide at low hamming") {
    import spark.implicits._
    // plant a near-dup corpus: doc + one-word-changed copy
    val base = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").limit(5).collect()
    // exact copies (hamming 0, must always match) and one-word-appended
    // copies (usually ≤ 3 bit flips, majority must match)
    val planted = base.flatMap { r =>
      val id = r.getLong(0); val t = r.getString(1)
      Seq((id, t), (id + 100000L, t), (id + 200000L, t + " appended"))
    }
    val df = planted.toSeq.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("simhash").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = DedupOps.simhashPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue()))
    base.foreach { r =>
      val id = r.getLong(0)
      val exactCopy = pairs.find(p => p._1 == id && p._2 == id + 100000L)
      assert(exactCopy.exists(_._3 == 0L), s"exact copy of doc $id should have hamming 0")
    }
    val nearFound = base.count { r =>
      val id = r.getLong(0)
      pairs.exists(p => p._1 == id && p._2 == id + 200000L)
    }
    assert(nearFound >= base.length / 2,
      s"only $nearFound/${base.length} appended-word near-dups under hamming ${DedupOps.simhashMaxHamming}")
  }

  /** Brute-force twin of [[DedupOps.simhashPairsOf]]: every a < b at
    * Hamming ≤ `maxHamming`, no banding, no collapse. */
  private def bruteSimhash(sigs: Seq[(Long, Long)], maxHamming: Int): Seq[(Long, Long, Long)] =
    (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb).toLong if h <= maxHamming
    } yield (a, b, h)).sorted

  private def simhashRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue())).toSeq

  test("simhash pairs equal a brute-force Hamming pass over the signatures at sf0.01") {
    // 4 × 16-bit bands at maxHamming 3: any pair within Hamming 3
    // leaves one band identical (pigeonhole), so banding recall is exact
    val sf = sfDir.stripSuffix("sf0.001") + "sf0.01"
    val sigs = DedupOps.simhashSignatures(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = bruteSimhash(sigs, DedupOps.simhashMaxHamming)
    assert(want.exists(_._3 == 0L) && want.exists(_._3 > 0L),
      "the corpus must hold exact copies and near pairs")
    assert(simhashRows(DedupOps.simhashPairs(spark, sf)) == want)
  }

  test("simhash banding on crafted signatures: copies and Hamming 3 kept, Hamming 4 dropped") {
    import spark.implicits._
    val base = 0x0123456789abcdefL
    def flip(bits: Int*): Long = bits.foldLeft(base)((x, b) => x ^ (1L << b))
    val sigs = Seq(
      1L -> base, 2L -> base, 3L -> base, // a three-copy group: Hamming 0
      4L -> flip(0, 16, 32),              // Hamming 3 across three bands
      5L -> flip(1, 2, 3),                // Hamming 3 inside band 0
      6L -> flip(0, 16, 32, 48),          // Hamming 4, one bit in every band
      7L -> flip(4, 5, 6, 7),             // Hamming 4 inside band 0
      8L -> flip(4, 5, 6, 7),             // copy of 7
      9L -> ~base)
    val want = bruteSimhash(sigs, DedupOps.simhashMaxHamming)
    assert(Seq((1L, 2L, 0L), (1L, 4L, 3L), (1L, 5L, 3L), (4L, 6L, 1L), (7L, 8L, 0L))
      .forall(want.contains))
    assert(!want.exists(p => p._1 == 1L && (p._2 == 6L || p._2 == 7L)))
    val got = simhashRows(DedupOps.simhashPairsOf(sigs.toDF("doc_id", "simhash"),
      DedupOps.simhashMaxHamming))
    assert(got == want)
  }

  test("exact dedup finds planted exact copies") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "unrelated text here now")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("exact").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = DedupOps.exactDedup(spark, tmp).collect()
    val dupGroup = out.find(_.getLong(2) == 2L)
    assert(dupGroup.isDefined && dupGroup.get.getLong(1) == 1L)
  }

  test("keep rule: exactly one survivor per cluster, longest text wins, ties to min id") {
    val rows = DedupOps.dedupKeep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.length == graft.Tables.documents(spark, sfDir).count(),
      "every document gets a verdict")
    rows.groupBy(_._2).foreach { case (_, cs) =>
      assert(cs.count(_._5) == 1, "one keep per cluster")
      assert(cs.forall(_._4 == cs.length), "n_members is the cluster size")
      val kept = cs.find(_._5).get
      val best = cs.maxBy(c => (c._3, -c._1))
      assert(kept._1 == best._1, "keep = longest text, tie to min doc_id")
    }
    // clusters with >1 member must exist at this SF
    assert(rows.exists(_._4 > 1))
  }

  test("keep rule picks quality over the min-id canonical when they differ") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster_id")
    val lens = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L))
      .toDF("doc_id", "text_len")
    val out = DedupOps.dedupKeepOf(clusters, lens).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    // doc 2 (longest, tie with 3 → min id among longest) beats the
    // cluster's min-id canonical doc 1
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true))
  }
}
