package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted trained-artifact store — the deployment seam between "a
  * pipeline run that trains" and "every later run that reads".
  *
  * The SessionCache keeps artifacts warm within one session; a real
  * multi-job pipeline (train Monday, gate all week) needs them on
  * disk. Every artifact family in this library is either a small
  * DataFrame table (cluster map, LM/DSIR/NB count tables, ppl cutoffs,
  * LSH bands) or a binary blob (the decontamination bloom), so the
  * store is deliberately tiny: named parquet tables plus named blobs
  * under one directory, written with the same layout discipline as
  * [[graft.operators.AnnOps.writeIndex]] (which keeps its own tables:
  * IVF centroids, the cluster-partitioned inverted file, the PQ
  * codebook and the one-row-per-vector encoded corpus;
  * [[graft.operators.AnnOps.writeIvfPq]] and
  * [[graft.operators.AnnOps.writeSketchIndex]] add the IVFADC and
  * banded-sketch tables).
  * Parity specs pin that a written-then-loaded artifact drives its
  * consumer to byte-identical output.
  */
object ArtifactStore {

  def writeTable(df: DataFrame, path: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$path/$name")

  def loadTable(s: SparkSession, path: String, name: String): DataFrame =
    s.read.parquet(s"$path/$name")

  /** Blob as a 1-row parquet table — rides the same storage/permission
    * plumbing as every other artifact (no side-channel filesystem
    * writes on a cluster). */
  def writeBlob(s: SparkSession, bytes: Array[Byte], path: String,
      name: String): Unit = {
    import s.implicits._
    Seq(Tuple1(bytes)).toDF("blob").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$name")
  }

  def loadBlob(s: SparkSession, path: String, name: String): Array[Byte] = {
    val rows = s.read.parquet(s"$path/$name").collect()
    require(rows.length == 1, s"blob $path/$name: expected 1 row, got ${rows.length}")
    rows(0).getAs[Array[Byte]](0)
  }
}
