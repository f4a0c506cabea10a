package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Source-ID and versioning semantics.
  *
  * Reference: `aws/source_id_manager.py:44` (`split_source_id`) parses
  * `{source_name}_v{search_version}.{submission_version}`;
  * `aws/dynamo_manager.py:60` (`get_current_version`) picks the latest
  * version per key with numeric-aware `major.minor` ordering;
  * `aws/dynamo_manager.py:88` (`increment_record_version`) bumps the minor
  * component; `aws/source_id_manager.py:229` resolves the next
  * (search, sub) pair — sub resets to 1 when search bumps, increments
  * otherwise.
  *
  * The reference walks DynamoDB rows in a Python loop per submission; here
  * each is one declarative plan (regex projection, window argmax, grouped
  * conditional agg) that distributes over any number of partitions.
  *
  * A deterministic "submissions" view is derived from `documents` so both
  * Spark and the DuckDB oracle construct identical inputs.
  */
object VersionOps {

  private val idRe = "_v([0-9]+)\\.([0-9]+)$"

  /** The `{name}_v{search}.{sub}` source id (source_id_manager.py:44) —
    * the format [[idRe]] and [[splitSourceIdCols]] parse. */
  def sourceIdOf(name: Column, search: Column, sub: Column): Column =
    concat(name, lit("_v"), search.cast("string"), lit("."), sub.cast("string"))

  /** Derived submissions: ~40 source_names, several (search, sub) versions
    * each, every 11th row malformed (no version suffix). */
  def submissions(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        concat(lit("ds"), (col("doc_id") % 40).cast("string")).as("source_name_raw"),
        ((col("doc_id") % 3) + 1).cast("int").as("search_v"),
        (col("doc_id") % 5).cast("int").as("sub_v"),
        (col("doc_id") % 20).cast("long").as("user_id"))
      .withColumn("source_id",
        when(col("doc_id") % 11 === 0, col("source_name_raw"))
          .otherwise(sourceIdOf(col("source_name_raw"), col("search_v"), col("sub_v"))))
  }

  /** Shared SQL prefix building the same view for DuckDB. */
  val submissionsSql: String =
    """WITH submissions AS (
      |  SELECT doc_id,
      |    'ds' || CAST(doc_id % 40 AS VARCHAR) AS source_name_raw,
      |    CAST(doc_id % 3 + 1 AS INTEGER) AS search_v,
      |    CAST(doc_id % 5 AS INTEGER) AS sub_v,
      |    CAST(doc_id % 20 AS BIGINT) AS user_id,
      |    CASE WHEN doc_id % 11 = 0 THEN 'ds' || CAST(doc_id % 40 AS VARCHAR)
      |         ELSE 'ds' || CAST(doc_id % 40 AS VARCHAR) || '_v' ||
      |              CAST(doc_id % 3 + 1 AS VARCHAR) || '.' || CAST(doc_id % 5 AS VARCHAR)
      |    END AS source_id
      |  FROM documents)
      |""".stripMargin

  /** split_source_id as columns: works on any string column. */
  def splitSourceIdCols(id: Column): Seq[Column] = {
    val matched = id.rlike(idRe)
    Seq(
      matched.as("success"),
      when(matched, regexp_replace(id, idRe, "")).otherwise(id).as("source_name"),
      when(matched, regexp_extract(id, idRe, 1).cast("int")).otherwise(0).as("search_version"),
      when(matched, regexp_extract(id, idRe, 2).cast("int")).otherwise(0).as("submission_version"))
  }

  // ---------------------------------------------------------- queries

  def splitSourceId(s: SparkSession, dir: String): DataFrame =
    submissions(s, dir)
      .select(col("doc_id") +: col("source_id") +: splitSourceIdCols(col("source_id")): _*)
      .orderBy("doc_id")

  val splitSourceIdSql: String = submissionsSql +
    """SELECT doc_id, source_id,
      |  regexp_matches(source_id, '_v[0-9]+\.[0-9]+$') AS success,
      |  CASE WHEN regexp_matches(source_id, '_v[0-9]+\.[0-9]+$')
      |       THEN regexp_replace(source_id, '_v[0-9]+\.[0-9]+$', '')
      |       ELSE source_id END AS source_name,
      |  CASE WHEN regexp_matches(source_id, '_v[0-9]+\.[0-9]+$')
      |       THEN CAST(regexp_extract(source_id, '_v([0-9]+)\.([0-9]+)$', 1) AS INTEGER)
      |       ELSE 0 END AS search_version,
      |  CASE WHEN regexp_matches(source_id, '_v[0-9]+\.[0-9]+$')
      |       THEN CAST(regexp_extract(source_id, '_v([0-9]+)\.([0-9]+)$', 2) AS INTEGER)
      |       ELSE 0 END AS submission_version
      |FROM submissions ORDER BY doc_id""".stripMargin

  /** get_current_version (dynamo_manager.py:60): the well-formed
    * submissions' numeric-aware latest (search, sub) row per name, ties
    * to the greatest doc_id. One shuffle on source_name; the window
    * argmax replaces the reference's full key-scan + Python sort per
    * lookup. Keeps every submissions column. */
  def currentVersions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source_name_raw"))
      .orderBy(col("search_v").desc, col("sub_v").desc, col("doc_id").desc)
    submissions(s, dir).filter(col("doc_id") % 11 =!= 0)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  def latestVersion(s: SparkSession, dir: String): DataFrame =
    currentVersions(s, dir)
      .select(col("source_name_raw").as("source_name"), col("source_id"),
        col("search_v").as("search_version"), col("sub_v").as("submission_version"))
      .orderBy("source_name")

  /** [[submissionsSql]] plus a `cur_versions` CTE: [[currentVersions]]
    * for DuckDB. */
  val currentVersionsSql: String = submissionsSql.stripSuffix("\n") +
    """,
      |cur_versions AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY source_name_raw
      |      ORDER BY search_v DESC, sub_v DESC, doc_id DESC) AS rn
      |    FROM submissions WHERE doc_id % 11 <> 0)
      |  WHERE rn = 1)
      |""".stripMargin

  val latestVersionSql: String = currentVersionsSql +
    """SELECT source_name_raw AS source_name, source_id,
      |  search_v AS search_version, sub_v AS submission_version
      |FROM cur_versions ORDER BY source_name""".stripMargin

  /** increment_record_version (dynamo_manager.py:88): "major.minor" ->
    * "major.(minor+1)"; a missing current version -> "1.0". */
  def nextVersionOf(cur: Column): Column =
    when(cur.isNull, lit("1.0"))
      .otherwise(concat(split(cur, "\\.").getItem(0), lit("."),
        (split(cur, "\\.").getItem(1).cast("int") + 1).cast("string")))

  def incrementVersion(s: SparkSession, dir: String): DataFrame =
    submissions(s, dir)
      .withColumn("record_version",
        when(col("doc_id") % 13 === 0, lit(null: String))
          .otherwise(concat(col("search_v").cast("string"), lit("."), col("sub_v").cast("string"))))
      .select(col("doc_id"), col("record_version"),
        nextVersionOf(col("record_version")).as("next_version"))
      .orderBy("doc_id")

  val incrementVersionSql: String = submissionsSql +
    """SELECT doc_id,
      |  CASE WHEN doc_id % 13 = 0 THEN NULL
      |       ELSE CAST(search_v AS VARCHAR) || '.' || CAST(sub_v AS VARCHAR) END AS record_version,
      |  CASE WHEN doc_id % 13 = 0 THEN '1.0'
      |       ELSE CAST(search_v AS VARCHAR) || '.' ||
      |            CAST(sub_v + 1 AS VARCHAR) END AS next_version
      |FROM submissions ORDER BY doc_id""".stripMargin

  /** Next-version resolution (source_id_manager.py:229-271): find the most
    * recent (search, sub) pair per source, then the next id under both
    * rules — same search (sub increments) vs bumped search (sub resets). */
  def versionResolution(s: SparkSession, dir: String): DataFrame = {
    val subs = submissions(s, dir).filter(col("doc_id") % 11 =!= 0)
      .withColumn("max_search",
        max(col("search_v")).over(Window.partitionBy(col("source_name_raw"))))
    subs.groupBy(col("source_name_raw").as("source_name"))
      .agg(
        max(col("search_v")).as("old_search_version"),
        max(when(col("search_v") === col("max_search"), col("sub_v"))).as("old_sub_version"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("next_same_search",
        sourceIdOf(col("source_name"), col("old_search_version"), col("old_sub_version") + 1))
      .withColumn("next_new_search",
        sourceIdOf(col("source_name"), col("old_search_version") + 1, lit(1)))
      .orderBy("source_name")
  }

  val versionResolutionSql: String = submissionsSql +
    """SELECT source_name_raw AS source_name,
      |  max(search_v) AS old_search_version,
      |  max(sub_v) FILTER (WHERE search_v = max_search) AS old_sub_version,
      |  count(DISTINCT user_id) AS n_users,
      |  source_name_raw || '_v' || CAST(max(search_v) AS VARCHAR) || '.' ||
      |    CAST(max(sub_v) FILTER (WHERE search_v = max_search) + 1 AS VARCHAR) AS next_same_search,
      |  source_name_raw || '_v' || CAST(max(search_v) + 1 AS VARCHAR) || '.1' AS next_new_search
      |FROM (SELECT *, max(search_v) OVER (PARTITION BY source_name_raw) AS max_search
      |      FROM submissions WHERE doc_id % 11 <> 0)
      |GROUP BY source_name_raw ORDER BY source_name""".stripMargin

  // ------------------------------------------- make_source_name

  /** Stopwords from source_id_manager.py:14-36. */
  val stopwords: Seq[String] = Seq(
    "a", "an", "and", "as", "data", "dataset", "for", "from", "in", "of",
    "or", "study", "test", "that", "the", "this", "to", "very", "with")

  private def cleanToken(t: Column): Column = regexp_replace(t, "[^a-z0-9]", "")

  /** Tokenize on whitespace/underscore, lowercase, strip non-alphanumerics,
    * drop empties + stopwords — `make_source_id`'s clean step. */
  def cleanTitleTokens(c: Column): Column =
    filter(
      transform(split(regexp_replace(lower(c), "_", " "), "\\s+"), cleanToken _),
      t => t =!= lit("") && !t.isInCollection(stopwords))

  /** Author tokens are cleaned but not stopword-filtered, then merged. */
  def authorWord(c: Column): Column =
    array_join(transform(split(regexp_replace(lower(c), "_", " "), "\\s+"), cleanToken _), "")

  /** Full make_source_id name pipeline (source_id_manager.py:135-210):
    * strip any existing version suffix from the title, tokenize + clean,
    * remove the author word, then either join all tokens (sanitize_only)
    * or assemble author_word1_word2_lastword; prefix test submissions.
    * Idempotent: feeding a produced source_id/source_name back in yields
    * the same name (pinned against the reference's own test vectors in
    * VersionOpsSpec). */
  def makeSourceIdName(title: Column, author: Column, isTest: Column,
      sanitizeOnly: Boolean = false): Column = {
    val stripped = when(title.rlike(idRe), regexp_replace(title, idRe, "")).otherwise(title)
    val toks0 = cleanTitleTokens(stripped)
    val name =
      if (sanitizeOnly) array_join(toks0, "_")
      else letOf(authorWord(author)) { aw =>
        letOf(filter(toks0, t => t =!= aw)) { toks =>
          array_join(
            filter(
              array(
                aw,
                element_at(toks, 1),
                when(size(toks) >= 2, element_at(toks, 2)).otherwise(lit("")),
                when(size(toks) >= 3, element_at(toks, -1)).otherwise(lit(""))),
              t => t =!= lit("")),
            "_")
        }
      }
    concat(when(isTest, lit("_test_")).otherwise(lit("")), name)
  }

  /** `f(x)` with `x` computed once per row: an expression inside a
    * higher-order function's lambda is re-evaluated per element, and
    * one used twice in an interpreted HOF is evaluated twice. */
  private def letOf(x: Column)(f: Column => Column): Column =
    element_at(transform(array(x), f), 1)

  /** make_source_id's name over each document's first six words, the
    * source as author, every 10th a test submission. */
  def makeSourceName(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("title", array_join(slice(split(col("text"), " "), 1, 6), " "))
      .select(col("doc_id"), col("title"),
        makeSourceIdName(col("title"), col("source"), col("doc_id") % 10 === 0)
          .as("source_name"))
      .orderBy("doc_id")
  }

  val makeSourceNameSql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    array_to_string((string_split(text, ' '))[1:6], ' ') AS title
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, title,
       |    array_to_string(list_transform(
       |      string_split_regex(replace(lower(source), '_', ' '), '\\s+'),
       |      x -> regexp_replace(x, '[^a-z0-9]', '', 'g')), '') AS author_word,
       |    list_filter(list_transform(
       |      string_split_regex(replace(lower(title), '_', ' '), '\\s+'),
       |      x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
       |      x -> x <> '' AND NOT list_contains($stopList, x)) AS toks0
       |  FROM t),
       |f AS (
       |  SELECT doc_id, title, author_word,
       |    list_filter(toks0, x -> x <> author_word) AS toks
       |  FROM c)
       |SELECT doc_id, title,
       |  (CASE WHEN doc_id % 10 = 0 THEN '_test_' ELSE '' END) ||
       |  array_to_string(list_filter([
       |      author_word,
       |      toks[1],
       |      CASE WHEN len(toks) >= 2 THEN toks[2] ELSE '' END,
       |      CASE WHEN len(toks) >= 3 THEN toks[len(toks)] ELSE '' END],
       |    x -> x <> ''), '_') AS source_name
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- normalize_globus_uri

  private[operators] val gdriveEp = "gdrive-ep"
  private[operators] val gdriveRoot = "/gdrive"

  /** The five Globus web-app link forms of utils.py:7-14, verbatim
    * (Java regex supports the same lookaheads; rlike = re.search). */
  private val globusLinkForms = Seq(
    "^https://www\\.globus\\.org/app/transfer",
    "^https://app\\.globus\\.org/file-manager",
    "^https://app\\.globus\\.org/transfer",
    "^https://.*globus.*(?=.*origin_id)(?=.*origin_path)",
    "^https://.*globus.*(?=.*destination_id)(?=.*destination_path)")

  /** Python `urllib.parse.unquote`: %XX decoded, literal `+` preserved —
    * url_decode is form decoding (`+` → space), so escape `+` first. */
  private def unquote(c: Column): Column = url_decode(regexp_replace(c, "\\+", "%2B"))

  /** The parts of a Globus URI that [[normalizeUriCols]] and
    * [[TransferOps.transferItems]] both read: the gdrive flag (a
    * gdrive/google/googledrive scheme), the path after that scheme, and
    * the endpoint and path of the percent-decoded query — `origin_id=`
    * falling back to `destination_id=` (the web-app's destination_* →
    * origin_* standardization), likewise `origin_path=` and
    * `destination_path=`. Each caller maps the gdrive path its own way. */
  private[operators] final case class GlobusUri(
      isGdrive: Column, gdrivePath: Column, ep: Column, path: Column)

  private[operators] def globusUri(uri: Column): GlobusUri = {
    // urlparse().query = after the first '?' (fragment-free synthetic data)
    val q = unquote(regexp_extract(uri, "\\?(.*)$", 1))
    val gdriveScheme = "^(gdrive|google|googledrive)://"
    GlobusUri(
      uri.rlike(gdriveScheme),
      regexp_replace(uri, gdriveScheme, ""),
      when(instr(q, "origin_id=") > 0, regexp_extract(q, "origin_id=([^&]*)", 1))
        .when(instr(q, "destination_id=") > 0, regexp_extract(q, "destination_id=([^&]*)", 1)),
      when(instr(q, "origin_path=") > 0, regexp_extract(q, "origin_path=([^&]*)", 1))
        .when(instr(q, "destination_path=") > 0, regexp_extract(q, "destination_path=([^&]*)", 1)))
  }

  /** Python `urllib.parse.quote` (safe='/'): space → %20 (not `+`),
    * slashes kept. url_encode gives form encoding; undo the two deltas. */
  private def quotePath(c: Column): Column =
    regexp_replace(regexp_replace(url_encode(c), "\\+", "%20"), "%2F", "/")

  /** normalize_globus_uri (aws/utils.py:17-87) as two columns
    * (normalized, norm_error): Globus web-app links — any of the five
    * public link forms — have their query string percent-decoded, the
    * endpoint taken from `origin_id=` falling back to `destination_id=`,
    * the path from `origin_path=` falling back to `destination_path=`,
    * and become `globus://{ep}{path}`; a link-form URL missing either
    * part is invalid (the reference raises ValueError — here the row
    * carries the error and a NULL result). gdrive/google/googledrive
    * schemes map under the gdrive endpoint root; anything else passes
    * through. Pure codegen'd string expressions — no UDF, no shuffle. */
  def normalizeUriCols(uri: Column): Seq[Column] = {
    val isLinkForm = globusLinkForms.map(uri.rlike).reduce(_ || _)
    val GlobusUri(isGdrive, gpath, ep, path) = globusUri(uri)
    val normalized =
      when(isLinkForm && ep.isNotNull && path.isNotNull, concat(lit("globus://"), ep, path))
        .when(isLinkForm, lit(null: String))
        .when(isGdrive, concat(lit(s"globus://$gdriveEp$gdriveRoot"),
          when(gpath.startsWith("/"), gpath).otherwise(concat(lit("/"), gpath))))
        .otherwise(uri)
    val err = when(isLinkForm && (ep.isNull || path.isNull),
      lit("Invalid Globus Transfer UI link"))
    Seq(normalized.as("normalized"), err.as("norm_error"))
  }

  /** make_globus_app_link (aws/utils.py:89-95): normalize, then format
    * netloc + quoted path back into a file-manager web-app link. */
  def appLinkCol(normalized: Column): Column = {
    val netloc = regexp_extract(normalized, "^[a-z]+://([^/?#]*)", 1)
    val path = regexp_extract(normalized, "^[a-z]+://[^/?#]*([^?#]*)", 1)
    when(normalized.isNotNull,
      concat(lit("https://app.globus.org/file-manager?origin_id="), netloc,
        lit("&origin_path="), quotePath(path)))
  }

  def normalizeUri(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val docs = Tables.documents(s, dir).withColumn("uri",
      when(col("doc_id") % 6 === 0,
        concat(lit("https://app.globus.org/file-manager?origin_id=ep-"), id,
          lit("&origin_path=%2Fdata%2Fd"), id))
        .when(col("doc_id") % 6 === 1, concat(lit("gdrive:///shared/f"), id, lit(".dat")))
        .when(col("doc_id") % 6 === 2, concat(lit("https://example.org/files/"), id))
        .when(col("doc_id") % 6 === 3,
          concat(lit("https://app.globus.org/transfer?destination_id=dep-"), id,
            lit("&destination_path=/dest/d"), id))
        .when(col("doc_id") % 6 === 4,
          concat(lit("https://www.globus.org/app/transfer?origin_id=wep-"), id,
            lit("&origin_path=%2Fw%20dir%2Ff"), id))
        .otherwise(lit("https://app.globus.org/file-manager?foo=bar")))
    docs.select(col("doc_id") +: col("uri") +: normalizeUriCols(col("uri")): _*)
      .withColumn("app_link", appLinkCol(col("normalized")))
      .orderBy("doc_id")
  }

  /** The oracle decodes only the escapes the synthetic corpus contains
    * (%2F, %20) — DuckDB 1.0 has no general url_decode. */
  val normalizeUriSql: String = {
    val linkForm = ("regexp_matches(uri, '^https://www\\.globus\\.org/app/transfer')" +
      " OR regexp_matches(uri, '^https://app\\.globus\\.org/file-manager')" +
      " OR regexp_matches(uri, '^https://app\\.globus\\.org/transfer')")
    s"""WITH u AS (
       |  SELECT doc_id,
       |    CASE
       |      WHEN doc_id % 6 = 0 THEN 'https://app.globus.org/file-manager?origin_id=ep-' ||
       |        CAST(doc_id AS VARCHAR) || '&origin_path=%2Fdata%2Fd' || CAST(doc_id AS VARCHAR)
       |      WHEN doc_id % 6 = 1 THEN 'gdrive:///shared/f' || CAST(doc_id AS VARCHAR) || '.dat'
       |      WHEN doc_id % 6 = 2 THEN 'https://example.org/files/' || CAST(doc_id AS VARCHAR)
       |      WHEN doc_id % 6 = 3 THEN 'https://app.globus.org/transfer?destination_id=dep-' ||
       |        CAST(doc_id AS VARCHAR) || '&destination_path=/dest/d' || CAST(doc_id AS VARCHAR)
       |      WHEN doc_id % 6 = 4 THEN 'https://www.globus.org/app/transfer?origin_id=wep-' ||
       |        CAST(doc_id AS VARCHAR) || '&origin_path=%2Fw%20dir%2Ff' || CAST(doc_id AS VARCHAR)
       |      ELSE 'https://app.globus.org/file-manager?foo=bar'
       |    END AS uri
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, uri,
       |    replace(replace(regexp_extract(uri, '\\?(.*)$$', 1), '%2F', '/'), '%20', ' ') AS q
       |  FROM u),
       |n AS (
       |  SELECT doc_id, uri,
       |    CASE WHEN position('origin_id=' IN q) > 0 THEN regexp_extract(q, 'origin_id=([^&]*)', 1)
       |         WHEN position('destination_id=' IN q) > 0 THEN regexp_extract(q, 'destination_id=([^&]*)', 1)
       |    END AS ep,
       |    CASE WHEN position('origin_path=' IN q) > 0 THEN regexp_extract(q, 'origin_path=([^&]*)', 1)
       |         WHEN position('destination_path=' IN q) > 0 THEN regexp_extract(q, 'destination_path=([^&]*)', 1)
       |    END AS pth,
       |    ($linkForm) AS is_link,
       |    regexp_matches(uri, '^(gdrive|google|googledrive)://') AS is_gdrive
       |  FROM d),
       |r AS (
       |  SELECT doc_id, uri,
       |    CASE WHEN is_link AND ep IS NOT NULL AND pth IS NOT NULL THEN 'globus://' || ep || pth
       |         WHEN is_link THEN NULL
       |         WHEN is_gdrive THEN 'globus://$gdriveEp$gdriveRoot' ||
       |           (CASE WHEN regexp_replace(uri, '^(gdrive|google|googledrive)://', '') LIKE '/%'
       |                 THEN regexp_replace(uri, '^(gdrive|google|googledrive)://', '')
       |                 ELSE '/' || regexp_replace(uri, '^(gdrive|google|googledrive)://', '') END)
       |         ELSE uri END AS normalized,
       |    CASE WHEN is_link AND (ep IS NULL OR pth IS NULL)
       |         THEN 'Invalid Globus Transfer UI link' END AS norm_error
       |  FROM n)
       |SELECT doc_id, uri, normalized, norm_error,
       |  CASE WHEN normalized IS NOT NULL THEN
       |    'https://app.globus.org/file-manager?origin_id=' ||
       |    regexp_extract(normalized, '^[a-z]+://([^/?#]*)', 1) ||
       |    '&origin_path=' ||
       |    replace(regexp_extract(normalized, '^[a-z]+://[^/?#]*([^?#]*)', 1), ' ', '%20')
       |  END AS app_link
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- legacy-ID migration

  /** Derived legacy status records exercising every migration case of
    * the reference's one-off table rewrite (scripts/update_dynamo.py):
    * dash-form versions (`name_v1-2`), whole versions (`name_v3`),
    * already-dotted versions, unversioned ids (flagged + skipped), and
    * records with/without an `original_submission.source_name`. */
  def legacyRecords(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(lit("ds"), (col("doc_id") % 40).cast("string"))
    val a = (col("doc_id") % 3 + 1).cast("string")
    val b = (col("doc_id") % 5).cast("string")
    Tables.documents(s, dir).select(
      col("doc_id"), raw.as("source_name_raw"),
      when(col("doc_id") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("orig"), (col("doc_id") % 40).cast("string")))
        .as("original_source"))
      .withColumn("source_id",
        when(col("doc_id") % 7 === 0, col("source_name_raw"))
          .when(col("doc_id") % 7 < 3,
            concat(col("source_name_raw"), lit("_v"), a, lit("-"), b))
          .when(col("doc_id") % 7 === 3,
            concat(col("source_name_raw"), lit("_v"), a))
          .otherwise(sourceIdOf(col("source_name_raw"), a, b)))
  }

  private val legacySql: String =
    """WITH legacy AS (
      |  SELECT doc_id,
      |    'ds' || CAST(doc_id % 40 AS VARCHAR) AS source_name_raw,
      |    CASE WHEN doc_id % 5 = 0 THEN NULL
      |         ELSE 'orig' || CAST(doc_id % 40 AS VARCHAR) END AS original_source,
      |    CASE WHEN doc_id % 7 = 0 THEN 'ds' || CAST(doc_id % 40 AS VARCHAR)
      |         WHEN doc_id % 7 < 3 THEN 'ds' || CAST(doc_id % 40 AS VARCHAR) ||
      |           '_v' || CAST(doc_id % 3 + 1 AS VARCHAR) || '-' || CAST(doc_id % 5 AS VARCHAR)
      |         WHEN doc_id % 7 = 3 THEN 'ds' || CAST(doc_id % 40 AS VARCHAR) ||
      |           '_v' || CAST(doc_id % 3 + 1 AS VARCHAR)
      |         ELSE 'ds' || CAST(doc_id % 40 AS VARCHAR) ||
      |           '_v' || CAST(doc_id % 3 + 1 AS VARCHAR) || '.' || CAST(doc_id % 5 AS VARCHAR)
      |    END AS source_id
      |  FROM documents)
      |""".stripMargin

  /** Legacy-table migration (scripts/update_dynamo.py:22-46): records
    * whose source_id matches `(.+)_(v[0-9].*)` migrate — the version
    * suffix normalizes (dashes → dots, bare major gains ".0", leading
    * "v" stripped) into a `version` column, and the record re-keys to
    * the original submission's source_name when present (falling back
    * to the parsed name). Non-matching ids are skipped, exactly like
    * the script (it prints and moves on). The reference migrates with
    * a throttled scan loop + per-item put; here the whole rewrite is
    * one map-side projection — a 100 TB table migrates at scan speed
    * with zero shuffles. */
  def migrateLegacyIds(s: SparkSession, dir: String): DataFrame = {
    val re = "^(.+)_(v[0-9].*)$"
    val nm = regexp_extract(col("source_id"), re, 1)
    val v0 = replace(regexp_extract(col("source_id"), re, 2), lit("-"), lit("."))
    val v1 = when(instr(v0, ".") === 0, concat(v0, lit(".0"))).otherwise(v0)
    legacyRecords(s, dir)
      .filter(regexp_extract(col("source_id"), re, 2) =!= "")
      .select(col("doc_id"), col("source_id").as("old_source_id"),
        coalesce(col("original_source"), nm).as("new_source_id"),
        substring(v1, 2, 1000000).as("version"))
      .orderBy("doc_id")
  }

  val migrateLegacyIdsSql: String = legacySql +
    """, m AS (
      |  SELECT doc_id, source_id, original_source,
      |    regexp_extract(source_id, '^(.+)_(v[0-9].*)$', 1) AS nm,
      |    replace(regexp_extract(source_id, '^(.+)_(v[0-9].*)$', 2), '-', '.') AS v0
      |  FROM legacy
      |  WHERE regexp_matches(source_id, '^(.+)_(v[0-9].*)$'))
      |SELECT doc_id, source_id AS old_source_id,
      |  COALESCE(original_source, nm) AS new_source_id,
      |  substring(CASE WHEN instr(v0, '.') = 0 THEN v0 || '.0' ELSE v0 END, 2)
      |    AS version
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_split_source_id"    -> (splitSourceId _),
    "q_latest_version"     -> (latestVersion _),
    "q_increment_version"  -> (incrementVersion _),
    "q_version_resolution" -> (versionResolution _),
    "q_make_source_name"   -> (makeSourceName _),
    "q_normalize_uri"      -> (normalizeUri _),
    "q_migrate_legacy_ids" -> (migrateLegacyIds _))

  def oracles: Map[String, String] = Map(
    "q_split_source_id"    -> splitSourceIdSql,
    "q_latest_version"     -> latestVersionSql,
    "q_increment_version"  -> incrementVersionSql,
    "q_version_resolution" -> versionResolutionSql,
    "q_make_source_name"   -> makeSourceNameSql,
    "q_normalize_uri"      -> normalizeUriSql,
    "q_migrate_legacy_ids" -> migrateLegacyIdsSql)
}
