package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SemDedupSpec extends SparkSpec {

  private def vecs: DataFrame = graft.Tables.embeddings(spark, sfDir)

  /** Brute-force twin computed spec-side: same collapse + same trained
    * centroids, then within-cluster pairs and connected components done
    * naively on collected rows (union-find over every pair). */
  private def bruteTwin(grouped: DataFrame, cents: DataFrame,
      threshold: Double): Map[Long, Long] = {
    val e = grouped.select(col("rep_id").as("vec_id"), col("v"))
      .withColumn("norm", sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
    val assigned = AnnOps.assignmentsOf(e, cents)
      .select("vec_id", "v", "norm", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val members = grouped.select(col("rep_id"), col("members")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val ids = members.values.flatten.toSeq
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    def union(x: Long, y: Long): Unit = {
      val (a, b) = (find(x), find(y)); if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    // within-cluster rep pairs at cosine >= threshold
    for {
      (ia, va, na, ca) <- assigned; (ib, vb, nb, cb) <- assigned
      if ia < ib && ca.isDefined && ca == cb
      cos = va.zip(vb).map { case (x, y) => x * y }.sum / (na * nb)
      if cos >= threshold
    } union(ia, ib)
    // copy-group edges (non-zero vectors only)
    for {
      (rep, ms) <- members
      if ms.size >= 2 && assigned.find(_._1 == rep).exists(_._3 > 0)
      m <- ms if m != rep
    } union(rep, m)
    ids.map(i => i -> find(i)).toMap
  }

  test("sem_group labels match a brute-force union-find twin at fixed centroids") {
    val grouped = DedupOps.collapseOf(DedupOps.vectorsOf(vecs, "vec_id", "embedding"),
      "vec_id", col("v"))
    val e = grouped.select(col("rep_id").as("vec_id"), col("v"))
      .withColumn("norm", sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
    val cents = AnnOps.centroidsOf(e).localCheckpoint()
    val got = SemDedupOps.semDedupWithCentroids(grouped, cents, SemDedupOps.semThreshold)
      .select("vec_id", "sem_group", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val want = bruteTwin(grouped, cents, SemDedupOps.semThreshold)
    assert(got.nonEmpty)
    got.foreach { case (id, grp, keep) =>
      assert(grp == want(id), s"vec $id: got group $grp, brute-force says ${want(id)}")
      assert(keep == (id == grp))
    }
    // the operator must actually merge something at this threshold —
    // otherwise the test data pins nothing
    assert(got.exists(!_._3), "expected at least one semantic duplicate dropped")
  }

  test("collapse equivalence: a c-times-duplicated corpus labels copies with the original") {
    // duplicate every vector twice with id-shifted copies; same values
    val n = 100000L
    val base = vecs.select(col("vec_id"), col("embedding"))
    val dup = base.unionByName(base.select((col("vec_id") + n).as("vec_id"), col("embedding")))
      .unionByName(base.select((col("vec_id") + 2 * n).as("vec_id"), col("embedding")))
    val grouped = DedupOps.collapseOf(DedupOps.vectorsOf(dup, "vec_id", "embedding"),
      "vec_id", col("v"))
    val e = grouped.select(col("rep_id").as("vec_id"), col("v"))
      .withColumn("norm", sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
    val cents = AnnOps.centroidsOf(e).localCheckpoint()
    val out = SemDedupOps.semDedupWithCentroids(grouped, cents, SemDedupOps.semThreshold)
      .select("vec_id", "sem_group", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val want = bruteTwin(grouped, cents, SemDedupOps.semThreshold)
    out.foreach { case (id, grp, keep) =>
      assert(grp == want(id))
      assert(keep == (id == grp))
    }
    val byId = out.map(o => o._1 -> o).toMap
    // every copy shares its original's group, and only originals can be kept
    vecs.select("vec_id").collect().map(_.getLong(0)).foreach { id =>
      assert(byId(id + n)._2 == byId(id)._2, s"copy of $id landed in a different group")
      assert(!byId(id + n)._3 && !byId(id + 2 * n)._3)
    }
  }

  test("driver query is deterministic and keeps exactly one canonical per group") {
    val a = SemDedupOps.semDedup(spark, sfDir).collect()
    val b = SemDedupOps.semDedup(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "two runs must be identical")
    val rows = a.map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    rows.groupBy(_._2).foreach { case (grp, ms) =>
      assert(ms.count(_._3) == 1, s"group $grp kept ${ms.count(_._3)} rows")
      assert(ms.map(_._1).min == grp, s"group $grp is not its min member id")
    }
  }
}
