package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Transfer-item construction — create_transfer_items
  * (aws/automate_manager.py:171-227): each submission carries a list of
  * data-source URLs; every URL becomes a Globus transfer item routed to
  * the organization's data destination, with
  *  - gdrive/google/googledrive schemes routed through the Google Drive
  *    gateway endpoint under its root path,
  *  - web-app links standardized destination_* → origin_* (users copy
  *    links from either side of the file browser) before the endpoint
  *    and path are read,
  *  - a submission-level invariant that every source lives on ONE
  *    endpoint ("All datasets must come from the same globus endpoint"),
  *  - per-URL validation ("Globus destination URI must include endpoint
  *    ID and path"),
  * and the destination path `{org_destination}{source_id}/{version}/`
  * (test submissions divert to the test destination, aws/
  * automate_manager.py:174-175).
  *
  * Shape: explode the per-submission URL list, parse each URL with
  * codegen'd string expressions, then resolve the submission-level
  * endpoint/error with window aggregates over the submission key — one
  * shuffle keyed by submission, no driver-side iteration, so a billion
  * submissions partition cleanly.
  */
object TransferOps {

  import VersionOps.{gdriveEp, gdriveRoot}

  private val missingErr = "Globus destination URI must include endpoint ID and path"
  private val mixedErr = "All datasets must come from the same globus endpoint"

  /** Synthetic two-URL submissions exercising every branch: same-endpoint
    * app links, gdrive pairs, destination-form standardization, mixed
    * endpoints (error), and a link missing its path (error). */
  private def urlFor(idx: Int): Column = {
    val id = col("doc_id")
    val ids = id.cast("string")
    val ix = lit(idx.toString)
    val m2 =
      if (idx == 0)
        concat(lit("https://app.globus.org/transfer?origin_id=ep-B"),
          (id % 5).cast("string"), lit("&origin_path=/src/a"), ids)
      else
        concat(lit("https://app.globus.org/transfer?destination_id=ep-B"),
          (id % 5).cast("string"), lit("&destination_path=/src/b"), ids)
    val m4 =
      if (idx == 0)
        concat(lit("https://app.globus.org/file-manager?origin_id=ep-C&origin_path=/ok"), ids)
      else lit("https://app.globus.org/file-manager?foo=bar")
    when(id % 5 === 0,
      concat(lit("https://app.globus.org/file-manager?origin_id=ep-A"),
        (id % 7).cast("string"), lit("&origin_path=%2Fdata%2Fd"), ids, lit("_"), ix))
      .when(id % 5 === 1, concat(lit("gdrive:///shared/f"), ids, lit("_"), ix, lit(".dat")))
      .when(id % 5 === 2, m2)
      .when(id % 5 === 3,
        concat(lit("https://app.globus.org/file-manager?origin_id=ep-X"), ix,
          lit("&origin_path=/p"), ids))
      .otherwise(m4)
  }

  def transferItems(s: SparkSession, dir: String): DataFrame = {
    val subs = Tables.documents(s, dir).select(
      col("doc_id").as("submission_id"),
      (col("doc_id") % 10 === 0).as("is_test"),
      concat(lit("ds"), (col("doc_id") % 40).cast("string")).as("source_id"),
      concat(lit("1."), (col("doc_id") % 3).cast("string")).as("version"),
      posexplode(array(urlFor(0), urlFor(1))).as(Seq("item_idx", "url")))

    val VersionOps.GlobusUri(isGdrive, gpath, ep, pth) = VersionOps.globusUri(col("url"))
    val parsed = subs
      .withColumn("src_ep", when(isGdrive, lit(gdriveEp)).otherwise(ep))
      // the gateway root plus the raw scheme-stripped path (the
      // normalizer adds a missing leading slash; this rule does not)
      .withColumn("src_path", when(isGdrive, concat(lit(gdriveRoot), gpath)).otherwise(pth))
      .withColumn("bad_url", (!isGdrive) && (ep.isNull || pth.isNull))

    val w = Window.partitionBy(col("submission_id"))
    val resolved = parsed
      .withColumn("any_missing", max(when(col("bad_url"), 1).otherwise(0)).over(w))
      .withColumn("eps", sort_array(collect_set(col("src_ep")).over(w)))
      .withColumn("xfer_error",
        when(col("any_missing") === 1, lit(missingErr))
          .when(size(col("eps")) > 1, lit(mixedErr)))
    val ok = col("xfer_error").isNull
    val destRoot = when(col("is_test"), "/test_files/").otherwise("/collections/")
    resolved.select(
      col("submission_id"), col("item_idx"), col("url"),
      when(ok, when(col("is_test"), "test-ep").otherwise("dest-ep"))
        .as("destination_endpoint_id"),
      when(ok, element_at(col("eps"), 1)).as("source_endpoint_id"),
      when(ok, col("src_path")).as("source_path"),
      when(ok, concat(destRoot, col("source_id"), lit("/"), col("version"), lit("/")))
        .as("destination_path"),
      col("xfer_error"))
      .orderBy("submission_id", "item_idx")
  }

  /** Oracle decodes the two escapes the synthetic URLs contain (%2F, %20)
    * — DuckDB 1.0 has no general url_decode. */
  val transferItemsSql: String =
    s"""WITH s AS (
       |  SELECT doc_id AS submission_id, doc_id % 10 = 0 AS is_test,
       |    'ds' || CAST(doc_id % 40 AS VARCHAR) AS source_id,
       |    '1.' || CAST(doc_id % 3 AS VARCHAR) AS version,
       |    doc_id FROM documents),
       |u AS (
       |  SELECT *, 0 AS item_idx,
       |    CASE
       |      WHEN doc_id % 5 = 0 THEN 'https://app.globus.org/file-manager?origin_id=ep-A' ||
       |        CAST(doc_id % 7 AS VARCHAR) || '&origin_path=%2Fdata%2Fd' || CAST(doc_id AS VARCHAR) || '_0'
       |      WHEN doc_id % 5 = 1 THEN 'gdrive:///shared/f' || CAST(doc_id AS VARCHAR) || '_0.dat'
       |      WHEN doc_id % 5 = 2 THEN 'https://app.globus.org/transfer?origin_id=ep-B' ||
       |        CAST(doc_id % 5 AS VARCHAR) || '&origin_path=/src/a' || CAST(doc_id AS VARCHAR)
       |      WHEN doc_id % 5 = 3 THEN 'https://app.globus.org/file-manager?origin_id=ep-X0&origin_path=/p' ||
       |        CAST(doc_id AS VARCHAR)
       |      ELSE 'https://app.globus.org/file-manager?origin_id=ep-C&origin_path=/ok' ||
       |        CAST(doc_id AS VARCHAR)
       |    END AS url FROM s
       |  UNION ALL
       |  SELECT *, 1 AS item_idx,
       |    CASE
       |      WHEN doc_id % 5 = 0 THEN 'https://app.globus.org/file-manager?origin_id=ep-A' ||
       |        CAST(doc_id % 7 AS VARCHAR) || '&origin_path=%2Fdata%2Fd' || CAST(doc_id AS VARCHAR) || '_1'
       |      WHEN doc_id % 5 = 1 THEN 'gdrive:///shared/f' || CAST(doc_id AS VARCHAR) || '_1.dat'
       |      WHEN doc_id % 5 = 2 THEN 'https://app.globus.org/transfer?destination_id=ep-B' ||
       |        CAST(doc_id % 5 AS VARCHAR) || '&destination_path=/src/b' || CAST(doc_id AS VARCHAR)
       |      WHEN doc_id % 5 = 3 THEN 'https://app.globus.org/file-manager?origin_id=ep-X1&origin_path=/p' ||
       |        CAST(doc_id AS VARCHAR)
       |      ELSE 'https://app.globus.org/file-manager?foo=bar'
       |    END AS url FROM s),
       |p AS (
       |  SELECT *,
       |    regexp_matches(url, '^(gdrive|google|googledrive)://') AS is_gdrive,
       |    replace(replace(regexp_extract(url, '\\?(.*)$$', 1), '%2F', '/'), '%20', ' ') AS q
       |  FROM u),
       |e AS (
       |  SELECT *,
       |    CASE WHEN position('origin_id=' IN q) > 0 THEN regexp_extract(q, 'origin_id=([^&]*)', 1)
       |         WHEN position('destination_id=' IN q) > 0 THEN regexp_extract(q, 'destination_id=([^&]*)', 1)
       |    END AS ep,
       |    CASE WHEN position('origin_path=' IN q) > 0 THEN regexp_extract(q, 'origin_path=([^&]*)', 1)
       |         WHEN position('destination_path=' IN q) > 0 THEN regexp_extract(q, 'destination_path=([^&]*)', 1)
       |    END AS pth
       |  FROM p),
       |i AS (
       |  SELECT *,
       |    CASE WHEN is_gdrive THEN '$gdriveEp' ELSE ep END AS src_ep,
       |    CASE WHEN is_gdrive THEN '$gdriveRoot' ||
       |           regexp_replace(url, '^(gdrive|google|googledrive)://', '')
       |         ELSE pth END AS src_path,
       |    (NOT is_gdrive) AND (ep IS NULL OR pth IS NULL) AS bad_url
       |  FROM e),
       |g AS (
       |  SELECT submission_id,
       |    max(CASE WHEN bad_url THEN 1 ELSE 0 END) AS any_missing,
       |    count(DISTINCT src_ep) AS n_eps,
       |    min(src_ep) AS the_ep
       |  FROM i GROUP BY submission_id),
       |r AS (
       |  SELECT i.*, g.the_ep,
       |    CASE WHEN g.any_missing = 1 THEN '$missingErr'
       |         WHEN g.n_eps > 1 THEN '$mixedErr' END AS xfer_error
       |  FROM i JOIN g USING (submission_id))
       |SELECT submission_id, item_idx, url,
       |  CASE WHEN xfer_error IS NULL THEN
       |    (CASE WHEN is_test THEN 'test-ep' ELSE 'dest-ep' END) END AS destination_endpoint_id,
       |  CASE WHEN xfer_error IS NULL THEN the_ep END AS source_endpoint_id,
       |  CASE WHEN xfer_error IS NULL THEN src_path END AS source_path,
       |  CASE WHEN xfer_error IS NULL THEN
       |    (CASE WHEN is_test THEN '/test_files/' ELSE '/collections/' END) ||
       |      source_id || '/' || version || '/' END AS destination_path,
       |  xfer_error
       |FROM r ORDER BY submission_id, item_idx""".stripMargin

  /** create_data_entry_for_search (automate_manager.py:104-108): the
    * search-facing data entry derived from a submission's first transfer
    * item — `globus://{dest_ep}/{dest_path}` endpoint path plus the
    * file-manager deep link. The reference formats with a literal `/`
    * separator even though destination paths are absolute (double slash
    * preserved here for fidelity). Only submissions whose transfer items
    * resolved cleanly get an entry. */
  def searchEntry(s: SparkSession, dir: String): DataFrame =
    transferItems(s, dir)
      .filter(col("item_idx") === 0 && col("xfer_error").isNull)
      .select(
        col("submission_id"),
        concat(lit("globus://"), col("destination_endpoint_id"), lit("/"),
          col("destination_path")).as("endpoint_path"),
        concat(lit("https://app.globus.org/file-manager?origin_id="),
          col("destination_endpoint_id"), lit("&origin_path="),
          col("destination_path")).as("link"))
      .orderBy("submission_id")

  val searchEntrySql: String =
    s"""SELECT submission_id,
       |  'globus://' || destination_endpoint_id || '/' || destination_path AS endpoint_path,
       |  'https://app.globus.org/file-manager?origin_id=' || destination_endpoint_id ||
       |    '&origin_path=' || destination_path AS link
       |FROM ($transferItemsSql) t
       |WHERE item_idx = 0 AND xfer_error IS NULL
       |ORDER BY submission_id""".stripMargin

  // ------------------------------------------------- automate record

  private val portalUrl = "https://portal.example/detail/"
  private val searchIndex = "search-index-1"
  // 2024-01-01T00:00:00Z — the submission clock is injected (a
  // deterministic epoch + per-submission offset) rather than read from
  // now(): reproducible across engines and reruns.
  private val ingestEpoch = 1704067200L

  /** Automate flow-record assembly (aws/automate_manager.py:120-155,
    * :157-163): the projection that completes the submit surface —
    *  - `mdf_portal_link` = portal URL + versioned_source_id,
    *  - `creators_list` = ", ".join over dc.creators creatorName
    *    (creatorName is "Family, Given" form, so the joined string
    *    nests commas exactly as the reference's does),
    *  - the search-facing data entry (endpoint_path + file-manager
    *    link) from the submission's FIRST resolved transfer item
    *    (create_data_entry_for_search, :104-108) — null when the
    *    transfer items failed validation,
    *  - `ingest_date` in Zulu form (isoformat + Z, :158-160),
    *  - flow flags carried through (search_index, group_by_dir,
    *    curation_input, mint_doi, update_metadata_only).
    * One map-side projection over the submission dim plus one narrow
    * equi-join to the search entry — nothing here scales worse than the
    * transfer-item resolution it builds on. */
  def automateRecord(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val creatorNames =
      typedLit(Seq("Footon, Bartholomew", "Curie, Marie", "Hopper, Grace"))
    val subs = Tables.documents(s, dir).select(
      id.as("submission_id"),
      concat(lit("ds"), (id % 40).cast("string"), lit("-1."),
        (id % 3).cast("string")).as("versioned_source_id"),
      slice(creatorNames, lit(1), (id % 3 + 1).cast("int")).as("creators"),
      concat(lit("user"), (id % 25).cast("string"), lit("@example.org"))
        .as("submitting_user_email"),
      (id % 6 === 0).as("curation_input"),
      (id % 4 === 0).as("mint_doi"),
      (id % 9 === 0).as("update_metadata_only"),
      timestamp_seconds(lit(ingestEpoch) + (id * 37) % 100000).as("ingest_ts"))
    subs
      .join(searchEntry(s, dir), Seq("submission_id"), "left")
      .select(
        col("submission_id"),
        concat(lit(portalUrl), col("versioned_source_id")).as("mdf_portal_link"),
        array_join(col("creators"), ", ").as("creators_list"),
        lit(searchIndex).as("search_index"),
        lit(true).as("group_by_dir"),
        col("submitting_user_email"),
        col("curation_input"),
        col("mint_doi"),
        col("update_metadata_only"),
        col("endpoint_path"),
        col("link"),
        concat(date_format(col("ingest_ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z"))
          .as("ingest_date"))
      .orderBy("submission_id")
  }

  val automateRecordSql: String =
    s"""WITH se AS ($searchEntrySql)
       |SELECT doc_id AS submission_id,
       |  '$portalUrl' || 'ds' || CAST(doc_id % 40 AS VARCHAR) || '-1.' ||
       |    CAST(doc_id % 3 AS VARCHAR) AS mdf_portal_link,
       |  array_to_string(
       |    (['Footon, Bartholomew', 'Curie, Marie', 'Hopper, Grace'])
       |      [1:CAST(doc_id % 3 + 1 AS INTEGER)], ', ') AS creators_list,
       |  '$searchIndex' AS search_index,
       |  TRUE AS group_by_dir,
       |  'user' || CAST(doc_id % 25 AS VARCHAR) || '@example.org' AS submitting_user_email,
       |  doc_id % 6 = 0 AS curation_input,
       |  doc_id % 4 = 0 AS mint_doi,
       |  doc_id % 9 = 0 AS update_metadata_only,
       |  se.endpoint_path, se.link,
       |  strftime(TIMESTAMP '2024-01-01 00:00:00' +
       |    ((doc_id * 37) % 100000) * INTERVAL 1 SECOND,
       |    '%Y-%m-%dT%H:%M:%S') || 'Z' AS ingest_date
       |FROM documents LEFT JOIN se ON doc_id = se.submission_id
       |ORDER BY submission_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_transfer_items" -> (transferItems _),
    "q_search_entry"   -> (searchEntry _),
    "q_automate_rec"   -> (automateRecord _))

  def oracles: Map[String, String] = Map(
    "q_transfer_items" -> transferItemsSql,
    "q_search_entry"   -> searchEntrySql,
    "q_automate_rec"   -> automateRecordSql)
}
