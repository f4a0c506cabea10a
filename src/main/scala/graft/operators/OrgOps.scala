package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Organization-rule resolution with full reference fidelity.
  *
  * Reference: `aws/source_id_manager.py:282-368` (`fetch_org_rules`) —
  * an org request is matched by *normalized* canonical name or alias
  * (lowercase, alphanumerics only, source_id_manager.py:295-297); parent
  * chains are walked breadth-first with a visited set; rule dicts merge
  * with append semantics for lists and first-org-wins for scalars;
  * `user_rules` merge last at lower priority (fill-in only), except a
  * user-set curation=True always sticks (source_id_manager.py:360-367).
  * Unknown orgs and ambiguous aliases raise
  * (source_id_manager.py:324-329, `aws/organization.py:36-41`) — here
  * those rows carry the reference's error strings in an `error` column.
  *
  * The org catalog is tiny by construction (thousands of orgs at most),
  * so resolution is broadcast joins against the request stream — the
  * only scan that scales is the requests themselves. Arbitrary-depth
  * hierarchies go through [[ClosureOps.ancestorClosure]] (path doubling
  * on [[Fixpoint.converge]], the one fixpoint loop); the synthetic
  * catalog here is the reference-shaped 3 levels (org → division →
  * root).
  */
object OrgOps {

  /** normalize_name (source_id_manager.py:295-297): lowercase, keep
    * alphanumerics only. */
  def normalizeName(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9]", "")

  /** Synthetic org catalog from nation/region + a root:
    * nation-level orgs (alias "Nation k", nations 2 and 3 also share the
    * ambiguous alias AMBIG), region-level parents, one GLOBAL root.
    * Columns: canonical_name, aliases, parent, curation, dests (list
    * rule), base_acl (scalar rule, sparse at nation level). */
  def orgCatalog(s: SparkSession, dir: String): DataFrame = {
    val key = col("n_nationkey").cast("string")
    val nations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(
        col("n_name").as("canonical_name"),
        when(col("n_nationkey").isin(2, 3),
          array(concat(lit("Nation "), key), lit("AMBIG")))
          .otherwise(array(concat(lit("Nation "), key))).as("aliases"),
        col("r_name").as("parent"),
        (col("n_nationkey") % 2 === 0).as("curation"),
        array(concat(lit("dest-n"), key)).as("dests"),
        when(col("n_nationkey") % 3 === 0, concat(lit("acl-n"), key)).as("base_acl"),
        lit(1).as("level"))
    val rkey = col("r_regionkey").cast("string")
    val regions = Tables.region(s, dir)
      .select(
        col("r_name").as("canonical_name"),
        array(concat(lit("Region "), rkey)).as("aliases"),
        lit("GLOBAL").as("parent"),
        (col("r_regionkey") % 3 === 0).as("curation"),
        array(concat(lit("dest-r"), rkey)).as("dests"),
        concat(lit("acl-r"), rkey).as("base_acl"),
        lit(2).as("level"))
    val root = regions.limit(1).select(
      lit("GLOBAL").as("canonical_name"),
      array().cast("array<string>").as("aliases"),
      lit(null: String).as("parent"),
      lit(false).as("curation"),
      array(lit("dest-global")).as("dests"),
      lit("acl-global").as("base_acl"),
      lit(3).as("level"))
    nations.unionByName(regions).unionByName(root)
  }

  /** Synthetic request stream: each customer asks for its nation's org —
    * mostly via a messy alias ("Nation-k!" normalizes to the registered
    * "Nation k"), some by canonical name in the wrong case, some for
    * unregistered orgs, some via the ambiguous alias — plus user rules
    * (curation preference, a fill-in tag, a dest list that must lose to
    * the org list). */
  def orgRequests(s: SparkSession, dir: String): DataFrame = {
    val ck = col("c_custkey")
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(
        ck.as("request_id"),
        when(ck % 7 === 0, concat(lit("No Such Org "), (ck % 5).cast("string")))
          .when(ck % 7 === 1, lit("ambig!"))
          .when(ck % 7 === 2, lower(col("n_name")))
          .when(ck % 7 === 3, concat(lit("Region "), (ck % 5).cast("string")))
          .when(ck % 7 === 4, lit("Global!"))
          .otherwise(concat(lit("Nation-"), col("c_nationkey").cast("string"), lit("!")))
          .as("raw_name"),
        (ck % 2 === 0).as("user_curation"),
        concat(lit("tag-"), (ck % 10).cast("string")).as("user_tag"))
  }

  /** Full fetch_org_rules over the request stream. Output per request:
    * the BFS canonical-name chain, OR-merged curation (with user
    * stickiness), append-merged dest list, first-org-wins base_acl,
    * user-filled tag — or the reference's error string. */
  def orgRulesFull(s: SparkSession, dir: String): DataFrame = {
    // materialized once: the catalog subtree (nation⋈region + union +
    // literals) otherwise re-plans and re-scans for each of its FOUR
    // consumers below (aliasMap + the n/r/g hops), each behind its own
    // broadcast stage — measured ~12 parquet scans and a 3.9 s spread
    // in the final plan for a ≤31-row frame (guide §2.4)
    val catalog = orgCatalog(s, dir).localCheckpoint()
    // normalized alias → canonical (canonical itself is always an alias)
    val aliasMap = catalog
      .select(col("canonical_name"),
        explode(concat(col("aliases"), array(col("canonical_name")))).as("alias"))
      .select(col("canonical_name"), normalizeName(col("alias")).as("norm"))
      .distinct()
    val matches = aliasMap.groupBy(col("norm"))
      .agg(count(lit(1)).as("n_matches"), min(col("canonical_name")).as("canonical_name"))

    // The chain walk starts from the matched org at ANY catalog level —
    // a request for a region or for the root resolves just like a
    // nation-level one, with a correspondingly shorter chain (the walk
    // ends when `parent` finds no row).
    def hop(p: String) = catalog
      .select(col("canonical_name").as(s"${p}_canonical"), col("parent").as(s"${p}_parent"),
        col("curation").as(s"${p}_curation"), col("dests").as(s"${p}_dests"),
        col("base_acl").as(s"${p}_acl"))
    val n = hop("n")
    val r = hop("r")
    val g = hop("g").drop("g_parent")

    orgRequests(s, dir)
      .withColumn("norm", normalizeName(col("raw_name")))
      .join(broadcast(matches), Seq("norm"), "left")
      .join(broadcast(n), col("canonical_name") === col("n_canonical") &&
        col("n_matches") === 1, "left")
      .join(broadcast(r), col("n_parent") === col("r_canonical"), "left")
      .join(broadcast(g), col("r_parent") === col("g_canonical"), "left")
      .select(
        col("request_id"), col("raw_name"),
        when(col("n_matches").isNull,
          concat(lit("Organization '"), col("raw_name"),
            lit("' not registered in MDF Connect (from '"), col("raw_name"), lit("')")))
          .when(col("n_matches") > 1,
            concat(lit("Multiple organizations found with name '"), col("raw_name"),
              lit("' (from '"), col("raw_name"), lit("')")))
          .as("error"),
        when(col("n_canonical").isNotNull,
          concat_ws(">", col("n_canonical"), col("r_canonical"), col("g_canonical")))
          .as("all_names"),
        // curation: OR up the chain (absent hops contribute false), then
        // user-set curation sticks
        when(col("n_canonical").isNotNull,
          col("n_curation") || coalesce(col("r_curation"), lit(false)) ||
            coalesce(col("g_curation"), lit(false)) || col("user_curation"))
          .as("curation"),
        // list rules append in BFS order; the user's list loses to org lists
        when(col("n_canonical").isNotNull,
          concat_ws(",", concat(col("n_dests"),
            coalesce(col("r_dests"), array().cast("array<string>")),
            coalesce(col("g_dests"), array().cast("array<string>")))))
          .as("dests"),
        // scalar rules: first org in the walk wins
        when(col("n_canonical").isNotNull,
          coalesce(col("n_acl"), col("r_acl"), col("g_acl"))).as("base_acl"),
        // keys no org sets fall through to the user's rules
        when(col("n_canonical").isNotNull, col("user_tag")).as("user_tag"))
      .orderBy("request_id")
  }

  val orgRulesFullSql: String =
    """WITH nat AS (
      |  SELECT n_name AS canonical_name,
      |    CASE WHEN n_nationkey IN (2, 3)
      |         THEN ['Nation ' || CAST(n_nationkey AS VARCHAR), 'AMBIG']
      |         ELSE ['Nation ' || CAST(n_nationkey AS VARCHAR)] END AS aliases,
      |    r_name AS parent, n_nationkey % 2 = 0 AS curation,
      |    ['dest-n' || CAST(n_nationkey AS VARCHAR)] AS dests,
      |    CASE WHEN n_nationkey % 3 = 0 THEN 'acl-n' || CAST(n_nationkey AS VARCHAR) END AS base_acl,
      |    1 AS level
      |  FROM nation JOIN region ON n_regionkey = r_regionkey),
      |reg AS (
      |  SELECT r_name AS canonical_name,
      |    ['Region ' || CAST(r_regionkey AS VARCHAR)] AS aliases,
      |    'GLOBAL' AS parent, r_regionkey % 3 = 0 AS curation,
      |    ['dest-r' || CAST(r_regionkey AS VARCHAR)] AS dests,
      |    'acl-r' || CAST(r_regionkey AS VARCHAR) AS base_acl,
      |    2 AS level
      |  FROM region),
      |root AS (
      |  SELECT 'GLOBAL' AS canonical_name, CAST([] AS VARCHAR[]) AS aliases,
      |    NULL AS parent, false AS curation, ['dest-global'] AS dests,
      |    'acl-global' AS base_acl, 3 AS level),
      |catalog AS (SELECT * FROM nat UNION ALL SELECT * FROM reg UNION ALL SELECT * FROM root),
      |alias_map AS (
      |  SELECT DISTINCT canonical_name,
      |    regexp_replace(lower(alias), '[^a-z0-9]', '', 'g') AS norm
      |  FROM (SELECT canonical_name, unnest(list_append(aliases, canonical_name)) AS alias
      |        FROM catalog)),
      |matches AS (
      |  SELECT norm, count(*) AS n_matches, min(canonical_name) AS canonical_name
      |  FROM alias_map GROUP BY norm),
      |requests AS (
      |  SELECT c_custkey AS request_id,
      |    CASE WHEN c_custkey % 7 = 0 THEN 'No Such Org ' || CAST(c_custkey % 5 AS VARCHAR)
      |         WHEN c_custkey % 7 = 1 THEN 'ambig!'
      |         WHEN c_custkey % 7 = 2 THEN lower(n_name)
      |         WHEN c_custkey % 7 = 3 THEN 'Region ' || CAST(c_custkey % 5 AS VARCHAR)
      |         WHEN c_custkey % 7 = 4 THEN 'Global!'
      |         ELSE 'Nation-' || CAST(c_nationkey AS VARCHAR) || '!' END AS raw_name,
      |    c_custkey % 2 = 0 AS user_curation,
      |    'tag-' || CAST(c_custkey % 10 AS VARCHAR) AS user_tag
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |resolved AS (
      |  SELECT q.*, m.n_matches, m.canonical_name
      |  FROM (SELECT *, regexp_replace(lower(raw_name), '[^a-z0-9]', '', 'g') AS norm
      |        FROM requests) q
      |  LEFT JOIN matches m USING (norm)),
      |chained AS (
      |  SELECT v.*,
      |    n.canonical_name AS n_canonical, n.curation AS n_curation,
      |    n.dests AS n_dests, n.base_acl AS n_acl, n.parent AS n_parent,
      |    r.canonical_name AS r_canonical, r.curation AS r_curation,
      |    r.dests AS r_dests, r.base_acl AS r_acl, r.parent AS r_parent,
      |    g.canonical_name AS g_canonical, g.curation AS g_curation,
      |    g.dests AS g_dests, g.base_acl AS g_acl
      |  FROM resolved v
      |  LEFT JOIN catalog n ON v.canonical_name = n.canonical_name AND v.n_matches = 1
      |  LEFT JOIN catalog r ON n.parent = r.canonical_name
      |  LEFT JOIN catalog g ON r.parent = g.canonical_name)
      |SELECT request_id, raw_name,
      |  CASE WHEN n_matches IS NULL
      |       THEN 'Organization ''' || raw_name || ''' not registered in MDF Connect (from ''' || raw_name || ''')'
      |       WHEN n_matches > 1
      |       THEN 'Multiple organizations found with name ''' || raw_name || ''' (from ''' || raw_name || ''')'
      |  END AS error,
      |  CASE WHEN n_canonical IS NOT NULL
      |       THEN concat_ws('>', n_canonical, r_canonical, g_canonical) END AS all_names,
      |  CASE WHEN n_canonical IS NOT NULL
      |       THEN n_curation OR coalesce(r_curation, false)
      |         OR coalesce(g_curation, false) OR user_curation END AS curation,
      |  CASE WHEN n_canonical IS NOT NULL
      |       THEN array_to_string(n_dests || coalesce(r_dests, [])
      |         || coalesce(g_dests, []), ',') END AS dests,
      |  CASE WHEN n_canonical IS NOT NULL
      |       THEN coalesce(n_acl, r_acl, g_acl) END AS base_acl,
      |  CASE WHEN n_canonical IS NOT NULL THEN user_tag END AS user_tag
      |FROM chained ORDER BY request_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_org_rules_full" -> (orgRulesFull _))

  def oracles: Map[String, String] = Map(
    "q_org_rules_full" -> orgRulesFullSql)
}
