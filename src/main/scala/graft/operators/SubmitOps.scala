package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Submission intake semantics.
  *
  * Reference: `aws/submit.py:100-190` — parse the submission JSON, inject
  * defaults (`dc.resourceType` = Dataset), move top-level `tags` into
  * `dc.subjects`, reject NaN/Infinity, and pull configuration fields out
  * of the metadata; `tests/test_validator.py` — validate required fields
  * per record and report the reasons.
  *
  * The Spark side round-trips real JSON (`to_json`/`from_json` with an
  * explicit schema) so the operator covers schema-on-read of nested
  * submission documents, not just column math; the oracle reproduces the
  * net semantics from the same base columns.
  */
object SubmitOps {

  private val submissionSchema = StructType(Seq(
    StructField("dc", StructType(Seq(
      StructField("titles", ArrayType(StructType(Seq(StructField("title", StringType))))),
      StructField("resourceType", StructType(Seq(
        StructField("resourceTypeGeneral", StringType)))),
      StructField("subjects", ArrayType(StructType(Seq(StructField("subject", StringType)))))))),
    StructField("tags", ArrayType(StringType)),
    StructField("test", BooleanType),
    StructField("update", BooleanType),
    StructField("value", DoubleType)))

  /** Deterministic raw submission JSON per document: every 3rd has tags,
    * every 4th pre-sets resourceType, every 5th is a test submission. */
  def rawSubmissions(s: SparkSession, dir: String): DataFrame = {
    val title = array_join(slice(split(col("text"), " "), 1, 4), " ")
    Tables.documents(s, dir).select(
      col("doc_id"),
      to_json(struct(
        struct(
          array(struct(title.as("title"))).as("titles"),
          when(col("doc_id") % 4 === 0,
            struct(lit("Software").as("resourceTypeGeneral"))).as("resourceType"),
          when(col("doc_id") % 6 === 0,
            array(struct(lit("materials").as("subject")))).as("subjects")).as("dc"),
        when(col("doc_id") % 3 === 0, array(lit("oxide"), col("source"))).as("tags"),
        (col("doc_id") % 5 === 0).as("test"),
        lit(false).as("update"),
        (col("doc_id") % 100).cast("double").as("value"))).as("raw_json"))
  }

  /** Normalization: defaults + tags→subjects move, flattened output. */
  def submissionNormalize(s: SparkSession, dir: String): DataFrame = {
    val parsed = rawSubmissions(s, dir)
      .withColumn("sub", from_json(col("raw_json"), submissionSchema))
    parsed.select(
      col("doc_id"),
      col("sub.dc.titles").getItem(0).getField("title").as("title"),
      // resourceType defaults to Dataset when absent (submit.py:141-149)
      coalesce(col("sub.dc.resourceType.resourceTypeGeneral"), lit("Dataset"))
        .as("resource_type"),
      // tags move into dc.subjects (submit.py:152-162)
      (coalesce(size(col("sub.dc.subjects")), lit(0)) +
        coalesce(size(col("sub.tags")), lit(0))).as("n_subjects"),
      coalesce(col("sub.test"), lit(false)).as("is_test"),
      col("sub.value").as("value"))
      .orderBy("doc_id")
  }

  val submissionNormalizeSql: String =
    """SELECT doc_id,
      |  array_to_string((string_split(text, ' '))[1:4], ' ') AS title,
      |  CASE WHEN doc_id % 4 = 0 THEN 'Software' ELSE 'Dataset' END AS resource_type,
      |  CAST((CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END) +
      |       (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END) AS INTEGER) AS n_subjects,
      |  doc_id % 5 = 0 AS is_test,
      |  CAST(doc_id % 100 AS DOUBLE) AS value
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-record validation with error reasons (validator semantics):
    * title must be non-empty, value within [0, 50), test submissions may
    * not also be updates, and numeric fields may not be NaN/±Infinity
    * (submit.py:102-111 — `json.dumps(..., allow_nan=False)` rejects the
    * whole submission; both engines order NaN above all doubles, so the
    * range rule stays consistent too) — invalid rows report every failed
    * rule. */
  def validateSubmission(s: SparkSession, dir: String): DataFrame = {
    val base = submissionNormalize(s, dir)
      .withColumn("title", when(col("doc_id") % 7 === 0, lit("")).otherwise(col("title")))
      .withColumn("value",
        when(col("doc_id") % 23 === 0, lit(Double.NaN))
          .when(col("doc_id") % 29 === 0, lit(Double.PositiveInfinity))
          .otherwise(col("value")))
    val errs = array(
      when(length(col("title")) === 0, lit("title: empty")),
      when(col("value") >= 50, lit("value: out of range")),
      when(col("is_test") && col("resource_type") === "Software", lit("test: software not allowed")),
      when(isnan(col("value")) || abs(col("value")) === lit(Double.PositiveInfinity),
        lit("value: NaN or Infinity not allowed")))
    base.select(
      col("doc_id"),
      filter(errs, e => e.isNotNull).as("errs"))
      .select(
        col("doc_id"),
        (size(col("errs")) === 0).as("is_valid"),
        concat_ws("; ", col("errs")).as("errors"))
      .orderBy("doc_id")
  }

  val validateSubmissionSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'x' END AS title_probe,
      |    CASE WHEN doc_id % 23 = 0 THEN 'NaN'::DOUBLE
      |         WHEN doc_id % 29 = 0 THEN 'Infinity'::DOUBLE
      |         ELSE CAST(doc_id % 100 AS DOUBLE) END AS value,
      |    doc_id % 5 = 0 AS is_test,
      |    CASE WHEN doc_id % 4 = 0 THEN 'Software' ELSE 'Dataset' END AS resource_type
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, list_filter([
      |    CASE WHEN title_probe = '' THEN 'title: empty' END,
      |    CASE WHEN value >= 50 THEN 'value: out of range' END,
      |    CASE WHEN is_test AND resource_type = 'Software' THEN 'test: software not allowed' END,
      |    CASE WHEN isnan(value) OR isinf(value) THEN 'value: NaN or Infinity not allowed' END],
      |    x -> x IS NOT NULL) AS errs
      |  FROM b)
      |SELECT doc_id, len(errs) = 0 AS is_valid,
      |  coalesce(array_to_string(errs, '; '), '') AS errors
      |FROM e ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ dataset entries

  private val datasetSchema = StructType(Seq(
    StructField("dc", StructType(Seq(
      StructField("creators", ArrayType(StructType(Seq(
        StructField("creatorName", StringType),
        StructField("familyName", StringType),
        StructField("givenName", StringType))))),
      StructField("publicationYear", StringType),
      StructField("publisher", StringType),
      StructField("resourceType", StructType(Seq(
        StructField("resourceType", StringType),
        StructField("resourceTypeGeneral", StringType)))),
      StructField("titles", ArrayType(StructType(Seq(StructField("title", StringType)))))))),
    StructField("mdf", StructType(Seq(
      StructField("source_name", StringType),
      StructField("source_id", StringType),
      StructField("acl", ArrayType(StringType)))))))

  /** Deterministic full dataset-entry JSON per document, with planted
    * schema defects: missing titles (every 7th), empty creators (11th),
    * missing publicationYear (13th), empty acl (19th), a source_id that
    * does not extend source_name (23rd). */
  def rawDatasets(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val sourceName = concat(lit("ds_"), col("source"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      to_json(struct(
        struct(
          when(id % 11 =!= 0, array(struct(
            lit("Footon, Bartholomew").as("creatorName"),
            lit("Footon").as("familyName"),
            lit("Bartholomew").as("givenName")))).as("creators"),
          when(id % 13 =!= 0, lit("2018")).as("publicationYear"),
          lit("Materials Data Facility").as("publisher"),
          struct(lit("Dataset").as("resourceType"),
            lit("Dataset").as("resourceTypeGeneral")).as("resourceType"),
          when(id % 7 =!= 0,
            array(struct(array_join(slice(split(col("text"), " "), 1, 3), " ").as("title"))))
            .as("titles")).as("dc"),
        struct(
          sourceName.as("source_name"),
          when(id % 23 === 0, lit("other_v1"))
            .otherwise(concat(sourceName, lit("_v"), (id % 3 + 1).cast("string")))
            .as("source_id"),
          when(id % 19 =!= 0, array(lit("public"))).as("acl")).as("mdf"))).as("raw_json"))
  }

  /** Dataset-entry schema validation (tests/test_validator.py): required
    * dc/mdf blocks checked after a real JSON round-trip, every violated
    * requirement reported — the reference's jsonschema error surface as
    * a per-record column. */
  def validateDataset(s: SparkSession, dir: String): DataFrame = {
    val d = rawDatasets(s, dir)
      .withColumn("e", from_json(col("raw_json"), datasetSchema))
    val errs = array(
      when(coalesce(size(col("e.dc.titles")), lit(0)) === 0, lit("dc.titles: required")),
      when(coalesce(size(col("e.dc.creators")), lit(0)) === 0, lit("dc.creators: required")),
      when(col("e.dc.publicationYear").isNull, lit("dc.publicationYear: required")),
      when(coalesce(size(col("e.mdf.acl")), lit(0)) === 0, lit("mdf.acl: required")),
      when(!col("e.mdf.source_id").startsWith(concat(col("e.mdf.source_name"), lit("_v"))),
        lit("mdf.source_id: must extend source_name")))
    d.select(col("doc_id"), filter(errs, e => e.isNotNull).as("errs"))
      .select(
        col("doc_id"),
        (size(col("errs")) === 0).as("is_valid"),
        concat_ws("; ", col("errs")).as("errors"))
      .orderBy("doc_id")
  }

  val validateDatasetSql: String =
    """WITH e AS (
      |  SELECT doc_id, list_filter([
      |    CASE WHEN doc_id % 7 = 0 THEN 'dc.titles: required' END,
      |    CASE WHEN doc_id % 11 = 0 THEN 'dc.creators: required' END,
      |    CASE WHEN doc_id % 13 = 0 THEN 'dc.publicationYear: required' END,
      |    CASE WHEN doc_id % 19 = 0 THEN 'mdf.acl: required' END,
      |    CASE WHEN doc_id % 23 = 0 THEN 'mdf.source_id: must extend source_name' END],
      |    x -> x IS NOT NULL) AS errs
      |  FROM documents)
      |SELECT doc_id, len(errs) = 0 AS is_valid,
      |  coalesce(array_to_string(errs, '; '), '') AS errors
      |FROM e ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ update gate

  private val ownerErr = "Only the submitting user is allowed to update this record"
  private val alreadyErr =
    "This dataset has already been submitted, but this submission is not marked as an update."
  private val notYetErr =
    "This dataset has not already been submitted, but this submission is marked as an update."

  /** Update-intake gate (aws/submit.py:196-266): each incoming submission
    * is matched against the current version record of its source name —
    * test submissions look up `{name}-test` (submit.py:201-204), brand-new
    * submissions get a generated name (uuid4 in the reference; a
    * content-hash stand-in here so both engines agree) — then the three
    * rejection rules apply in reference order: a non-owner may not update
    * (submit.py:226-235), an existing dataset requires `update=True`
    * (submit.py:239-249), and `update=True` requires an existing dataset
    * (submit.py:250-266). Accepted rows carry the bumped version, the
    * `{source_id}-{version}` versioned id (submit.py:271-275), and the
    * previous-versions entry the reference appends (submit.py:213-215).
    *
    * One left equi-join of the submission stream against the (much
    * smaller) current-version view — both sides shuffle on source name
    * once; no window over the full stream, no driver lookups. */
  def updateGate(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val incoming = Tables.documents(s, dir).select(
      id.as("doc_id"),
      (id % 20).as("submitter_user"),
      (id % 5 === 0).as("is_test"),
      (id % 2 === 0).as("update_flag"),
      when(id % 17 =!= 0,
        concat(lit("ds"), (id % 40).cast("string"),
          when(id % 5 === 0, "-test").otherwise(""))).as("lookup_name"))
    val existing = VersionOps.currentVersions(s, dir)
      .select(col("source_name_raw").as("lookup_name"),
        concat(col("search_v").cast("string"), lit("."), col("sub_v").cast("string"))
          .as("cur_version"),
        col("user_id").as("owner_user"))
    val j = incoming.join(existing, Seq("lookup_name"), "left")
    val matched = col("cur_version").isNotNull
    val err =
      when(matched && col("submitter_user") =!= col("owner_user"), lit(ownerErr))
        .when(matched && !col("update_flag"), lit(alreadyErr))
        .when(!matched && col("update_flag"), lit(notYetErr))
    val sourceName = coalesce(col("lookup_name"),
      concat(lit("new-"), substring(md5(concat(lit("new#"), id.cast("string"))), 1, 8)))
    val nextVersion = VersionOps.nextVersionOf(col("cur_version"))
    j.select(
      col("doc_id"), col("lookup_name"), matched.as("matched"), err.as("update_error"),
      when(err.isNull, sourceName).as("source_name"),
      when(err.isNull, nextVersion).as("version"),
      when(err.isNull, concat(sourceName, lit("-"), nextVersion)).as("versioned_source_id"),
      when(err.isNull && matched, concat(col("lookup_name"), lit("-"), col("cur_version")))
        .as("prev_version_added"))
      .orderBy("doc_id")
  }

  val updateGateSql: String = VersionOps.currentVersionsSql.stripSuffix("\n") +
    s""",
       |cur AS (
       |  SELECT source_name_raw AS lookup_name,
       |    CAST(search_v AS VARCHAR) || '.' || CAST(sub_v AS VARCHAR) AS cur_version,
       |    search_v, sub_v, user_id AS owner_user
       |  FROM cur_versions),
       |inc AS (
       |  SELECT doc_id, doc_id % 20 AS submitter_user,
       |    doc_id % 5 = 0 AS is_test, doc_id % 2 = 0 AS update_flag,
       |    CASE WHEN doc_id % 17 <> 0 THEN 'ds' || CAST(doc_id % 40 AS VARCHAR) ||
       |      (CASE WHEN doc_id % 5 = 0 THEN '-test' ELSE '' END) END AS lookup_name
       |  FROM documents),
       |j AS (
       |  SELECT inc.*, cur.cur_version, cur.search_v, cur.sub_v, cur.owner_user,
       |    cur.cur_version IS NOT NULL AS matched,
       |    CASE
       |      WHEN cur.cur_version IS NOT NULL AND inc.submitter_user <> cur.owner_user
       |        THEN '$ownerErr'
       |      WHEN cur.cur_version IS NOT NULL AND NOT inc.update_flag
       |        THEN '$alreadyErr'
       |      WHEN cur.cur_version IS NULL AND inc.update_flag
       |        THEN '$notYetErr'
       |    END AS update_error,
       |    coalesce(inc.lookup_name,
       |      'new-' || substring(md5('new#' || CAST(inc.doc_id AS VARCHAR)), 1, 8)) AS sn,
       |    CASE WHEN cur.cur_version IS NOT NULL
       |         THEN CAST(cur.search_v AS VARCHAR) || '.' || CAST(cur.sub_v + 1 AS VARCHAR)
       |         ELSE '1.0' END AS nv
       |  FROM inc LEFT JOIN cur USING (lookup_name))
       |SELECT doc_id, lookup_name, matched, update_error,
       |  CASE WHEN update_error IS NULL THEN sn END AS source_name,
       |  CASE WHEN update_error IS NULL THEN nv END AS version,
       |  CASE WHEN update_error IS NULL THEN sn || '-' || nv END AS versioned_source_id,
       |  CASE WHEN update_error IS NULL AND matched THEN lookup_name || '-' || cur_version END
       |    AS prev_version_added
       |FROM j ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_submission_normalize" -> (submissionNormalize _),
    "q_validate_submission"  -> (validateSubmission _),
    "q_validate_dataset"     -> (validateDataset _),
    "q_update_gate"          -> (updateGate _))

  def oracles: Map[String, String] = Map(
    "q_submission_normalize" -> submissionNormalizeSql,
    "q_validate_submission"  -> validateSubmissionSql,
    "q_validate_dataset"     -> validateDatasetSql,
    "q_update_gate"          -> updateGateSql)
}
