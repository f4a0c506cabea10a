package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Status-pipeline analytics.
  *
  * Reference: `aws/dynamo_manager.py:30-43` defines the 12 STATUS_STEPS
  * and per-submission status code strings (one char per step, 'z' = not
  * started); `aws/submissions.py` maps flow states to letters
  * (SUCCEEDED→S, ACTIVE→P, FAILED→F, UNKNOWN→U) and serves user-scoped
  * listings; `aws/source_id_manager.py:fetch_org_rules` OR-merges curation
  * flags up an organization parent chain.
  *
  * The event stream stands in for per-step status transitions: each event
  * type maps to a step/letter, and the per-user code string is assembled
  * by an ordered aggregation instead of the reference's per-record Python
  * mutation. Assembly is one shuffle on the group key; at 100 TB the
  * map-side partial `collect_list` keeps only per-user slices in memory.
  */
object StatusOps {

  /** The full 12-step submission pipeline catalog,
    * dynamo_manager.py:30-43 (STATUS_STEPS). */
  val statusSteps: Seq[(String, String)] = Seq(
    "sub_start" -> "Submission initialization",
    "old_cancel" -> "Cancellation of previous submissions",
    "data_download" -> "Connect data download",
    "data_transfer" -> "Data transfer to primary destination",
    "extracting" -> "Metadata extraction",
    "curation" -> "Dataset curation",
    "ingest_search" -> "MDF Search ingestion",
    "ingest_backup" -> "Data transfer to secondary destinations",
    "ingest_publish" -> "MDF Publish publication",
    "ingest_citrine" -> "Citrine upload",
    "ingest_mrr" -> "Materials Resource Registration",
    "ingest_cleanup" -> "Post-processing cleanup")

  /** Flow-state letters, submissions.py:10-15. */
  def statusLetter(eventType: Column): Column =
    when(eventType === "purchase", "S")
      .when(eventType === "signup", "S")
      .when(eventType === "click", "P")
      .when(eventType === "error", "F")
      .otherwise("U")

  /** Event type → pipeline step name (subset of STATUS_STEPS). */
  def stepName(eventType: Column): Column =
    when(eventType === "signup", "sub_start")
      .when(eventType === "click", "data_download")
      .when(eventType === "view", "extracting")
      .when(eventType === "purchase", "ingest_search")
      .otherwise("ingest_cleanup")

  /** Per-user status code string: letters in (ts, event_id) order. */
  def statusCode(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("user_id") < 40)
      .withColumn("letter", statusLetter(col("event_type")))
    e.groupBy(col("user_id"))
      .agg(
        array_join(
          transform(
            sort_array(collect_list(struct(col("ts"), col("event_id"), col("letter")))),
            x => x.getField("letter")),
          "").as("code"),
        count(lit(1)).as("n_steps"))
      .orderBy("user_id")
  }

  val statusCodeSql: String =
    """SELECT user_id,
      |  string_agg(CASE WHEN event_type = 'purchase' THEN 'S'
      |                  WHEN event_type = 'signup' THEN 'S'
      |                  WHEN event_type = 'click' THEN 'P'
      |                  WHEN event_type = 'error' THEN 'F'
      |                  ELSE 'U' END, '' ORDER BY ts, event_id) AS code,
      |  count(*) AS n_steps
      |FROM events WHERE user_id < 40
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Per-step rollup across all submissions: how many reached each step,
    * how many users, failure counts. */
  def statusRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("step", stepName(col("event_type")))
      .groupBy(col("step"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(statusLetter(col("event_type")) === "F", 1L).otherwise(0L)).as("n_failures"))
      .orderBy("step")
  }

  val statusRollupSql: String =
    """SELECT CASE WHEN event_type = 'signup' THEN 'sub_start'
      |            WHEN event_type = 'click' THEN 'data_download'
      |            WHEN event_type = 'view' THEN 'extracting'
      |            WHEN event_type = 'purchase' THEN 'ingest_search'
      |            ELSE 'ingest_cleanup' END AS step,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_failures
      |FROM events GROUP BY 1 ORDER BY step""".stripMargin

  /** Full-catalog step rollup: every one of the 12 STATUS_STEPS appears
    * exactly once, with event counts from the (5-step) observed stream —
    * unexercised steps report 0. The 12-row catalog is an in-plan literal
    * relation broadcast against the aggregated stream, so the only
    * shuffle is the aggregation itself. */
  def statusSteps12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val catalog = statusSteps.zipWithIndex
      .map { case ((step, desc), i) => (i + 1, step, desc) }
      .toDF("step_index", "step", "description")
    val observed = Tables.events(s, dir)
      .withColumn("step", stepName(col("event_type")))
      .groupBy(col("step"))
      .agg(count(lit(1)).as("n_events"))
    catalog.join(observed, Seq("step"), "left")
      .select(col("step_index"), col("step"), col("description"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("step_index")
  }

  val statusSteps12Sql: String = {
    val values = statusSteps.zipWithIndex
      .map { case ((step, desc), i) => s"(${i + 1}, '$step', '$desc')" }
      .mkString(",\n      |    ")
    s"""WITH catalog(step_index, step, description) AS (VALUES
      |    $values),
      |observed AS (
      |  SELECT CASE WHEN event_type = 'signup' THEN 'sub_start'
      |              WHEN event_type = 'click' THEN 'data_download'
      |              WHEN event_type = 'view' THEN 'extracting'
      |              WHEN event_type = 'purchase' THEN 'ingest_search'
      |              ELSE 'ingest_cleanup' END AS step,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1)
      |SELECT CAST(step_index AS INTEGER) AS step_index, step, description,
      |  coalesce(n_events, 0) AS n_events
      |FROM catalog LEFT JOIN observed USING (step)
      |ORDER BY step_index""".stripMargin
  }

  /** create_status defaults (dynamo_manager.py:339-352): every new status
    * record starts with code = 'z' × 12, twelve "No message available"
    * messages, active, not cancelled, not hibernating — then must pass
    * new-status validation. One narrow projection over the submissions
    * view. */
  def statusInit(s: SparkSession, dir: String): DataFrame = {
    val n = statusSteps.length
    VersionOps.submissions(s, dir)
      .select(
        col("doc_id"), col("source_id"),
        lit("z" * n).as("code"),
        array_repeat(lit("No message available"), n).as("messages"),
        lit(true).as("active"),
        lit(false).as("cancelled"),
        lit(false).as("hibernating"))
      .withColumn("n_messages", size(col("messages")))
      .withColumn("is_valid_new",
        length(col("code")) === n && col("code") === lit("z" * n))
      .select("doc_id", "source_id", "code", "n_messages",
        "active", "cancelled", "hibernating", "is_valid_new")
      .orderBy("doc_id")
  }

  val statusInitSql: String = VersionOps.submissionsSql +
    s"""SELECT doc_id, source_id,
      |  repeat('z', ${statusSteps.length}) AS code,
      |  CAST(${statusSteps.length} AS INTEGER) AS n_messages,
      |  true AS active, false AS cancelled, false AS hibernating,
      |  true AS is_valid_new
      |FROM submissions ORDER BY doc_id""".stripMargin

  /** validate_status (dynamo_manager.py:288-326): a status code must be
    * exactly one letter per STATUS_STEPS entry (length 12), and a *new*
    * status must be all-'z' (nothing started). The synthetic mix covers
    * progressed codes (k steps succeeded), truncated codes, and new/old
    * flags; failures carry the reference's error string. */
  def validateStatus(s: SparkSession, dir: String): DataFrame = {
    val n = statusSteps.length
    val k = col("doc_id") % (n + 1)
    def rep(ch: String, cnt: Column): Column =
      call_function("repeat", lit(ch), cnt.cast("int"))
    val codes = VersionOps.submissions(s, dir)
      .withColumn("code",
        // every 10th record is truncated (one step short) — invalid length
        when(col("doc_id") % 10 === 0,
          concat(rep("S", least(k, lit(n - 1))),
            rep("z", lit(n - 1) - least(k, lit(n - 1)))))
          .otherwise(concat(rep("S", k), rep("z", lit(n) - k))))
      .withColumn("is_new", col("doc_id") % 4 === 0)
    codes
      .withColumn("success",
        length(col("code")) === n && (!col("is_new") || col("code") === lit("z" * n)))
      .withColumn("error",
        when(!col("success"),
          concat(lit("Invalid status code '"), col("code"), lit("' for "),
            when(col("is_new"), lit("new")).otherwise(lit("old")), lit(" status"))))
      .select("doc_id", "code", "is_new", "success", "error")
      .orderBy("doc_id")
  }

  val validateStatusSql: String = {
    val n = statusSteps.length
    VersionOps.submissionsSql +
      s""", codes AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 0
      |         THEN repeat('S', CAST(least(doc_id % ${n + 1}, ${n - 1}) AS INTEGER)) ||
      |              repeat('z', CAST(${n - 1} - least(doc_id % ${n + 1}, ${n - 1}) AS INTEGER))
      |         ELSE repeat('S', CAST(doc_id % ${n + 1} AS INTEGER)) ||
      |              repeat('z', CAST($n - doc_id % ${n + 1} AS INTEGER))
      |    END AS code,
      |    doc_id % 4 = 0 AS is_new
      |  FROM submissions)
      |SELECT doc_id, code, is_new,
      |  len(code) = $n AND (NOT is_new OR code = repeat('z', $n)) AS success,
      |  CASE WHEN NOT (len(code) = $n AND (NOT is_new OR code = repeat('z', $n)))
      |       THEN 'Invalid status code ''' || code || ''' for ' ||
      |            (CASE WHEN is_new THEN 'new' ELSE 'old' END) || ' status'
      |  END AS error
      |FROM codes ORDER BY doc_id""".stripMargin
  }

  /** Per-key status lookup (dynamo_manager.py:328-337 read_status_record
    * / 379-386): a (source_id, version) key must resolve to exactly one
    * record — the lookup surfaces the record when unique and flags
    * duplicate-key corruption otherwise. One aggregation on the key. */
  def statusLookup(s: SparkSession, dir: String): DataFrame = {
    VersionOps.submissions(s, dir)
      .groupBy(col("source_id"), col("search_v"), col("sub_v"))
      .agg(
        count(lit(1)).as("n_records"),
        min(col("doc_id")).as("doc_id"),
        min(col("user_id")).as("user_id"))
      .select(
        col("source_id"), col("search_v"), col("sub_v"), col("n_records"),
        (col("n_records") === 1).as("unique"),
        when(col("n_records") === 1, col("doc_id")).as("doc_id"),
        when(col("n_records") === 1, col("user_id")).as("user_id"))
      .orderBy("source_id", "search_v", "sub_v")
  }

  val statusLookupSql: String = VersionOps.submissionsSql +
    """SELECT source_id, search_v, sub_v,
      |  count(*) AS n_records,
      |  count(*) = 1 AS unique,
      |  CASE WHEN count(*) = 1 THEN min(doc_id) END AS doc_id,
      |  CASE WHEN count(*) = 1 THEN min(user_id) END AS user_id
      |FROM submissions
      |GROUP BY source_id, search_v, sub_v
      |ORDER BY source_id, search_v, sub_v""".stripMargin

  /** User-scoped submission listing (submissions.py lambda_handler):
    * key filter on user, extra scan filters, formatted message column. */
  def submissionsByUser(s: SparkSession, dir: String): DataFrame = {
    val subs = VersionOps.submissions(s, dir)
    ScanOps.scan(subs, filters = Seq(
      ScanFilter("user_id", "==", 7L),
      ScanFilter("sub_v", ">", 0)))
      .select(
        col("doc_id"), col("source_id"), col("user_id"),
        concat(lit("Status of submission "), col("source_id"),
          lit(" ("), col("source_name_raw"), lit(")")).as("status_message"))
      .orderBy("doc_id")
  }

  val submissionsByUserSql: String = VersionOps.submissionsSql +
    """SELECT doc_id, source_id, user_id,
      |  'Status of submission ' || source_id || ' (' || source_name_raw || ')' AS status_message
      |FROM submissions
      |WHERE user_id = 7 AND sub_v > 0
      |ORDER BY doc_id""".stripMargin

  /** format_status_record (submissions.py:17-52): the user-facing record
    * per submission — the TEST-prefixed multi-line status message, the
    * flow-state letter (status_codes, submissions.py:10-15), the active
    * flag, and the "Submission prior to GlobusAutomate" description
    * fallback for records with no action id (the reference's per-flow
    * description comes from the Automate API; a state-derived stand-in
    * keeps the formatting deterministic here). Pure projection — scales
    * as a map-side pass over the status table. */
  def statusFormat(s: SparkSession, dir: String): DataFrame = {
    val subs = VersionOps.submissions(s, dir)
      .withColumn("test", col("doc_id") % 5 === 0)
      .withColumn("submitter", concat(lit("user_"), col("user_id").cast("string")))
      .withColumn("submission_time",
        concat(lit("2023-01-"), lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")))
      .withColumn("flow_state",
        when(col("doc_id") % 6 === 0, lit(null: String)) // pre-Automate record
          .when(col("doc_id") % 3 === 0, lit("ACTIVE"))
          .when(col("doc_id") % 3 === 1, lit("SUCCEEDED"))
          .otherwise(lit("FAILED")))
    subs.select(
      col("doc_id"), col("source_id"),
      concat(
        lit("Status of "), when(col("test"), lit("TEST ")).otherwise(lit("")),
        lit("submission "), col("source_id"), lit(" ("), col("source_name_raw"), lit(")\n"),
        lit("Submitted by "), col("submitter"), lit(" at "), col("submission_time"),
        lit("\n\n")).as("status_message"),
      // status_codes map; absent flows stay UNKNOWN
      when(col("flow_state") === "SUCCEEDED", "S")
        .when(col("flow_state") === "ACTIVE", "P")
        .when(col("flow_state") === "FAILED", "F")
        .otherwise("U").as("status_code"),
      coalesce(col("flow_state") === "ACTIVE", lit(false)).as("active"),
      coalesce(concat(lit("Flow state: "), col("flow_state")),
        lit("Submission prior to GlobusAutomate")).as("description"),
      col("test"))
      .orderBy("doc_id")
  }

  val statusFormatSql: String = VersionOps.submissionsSql.stripSuffix("\n") +
    """,
      |f AS (
      |  SELECT *, doc_id % 5 = 0 AS test,
      |    'user_' || CAST(user_id AS VARCHAR) AS submitter,
      |    '2023-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS submission_time,
      |    CASE WHEN doc_id % 6 = 0 THEN NULL
      |         WHEN doc_id % 3 = 0 THEN 'ACTIVE'
      |         WHEN doc_id % 3 = 1 THEN 'SUCCEEDED'
      |         ELSE 'FAILED' END AS flow_state
      |  FROM submissions)
      |SELECT doc_id, source_id,
      |  'Status of ' || CASE WHEN test THEN 'TEST ' ELSE '' END ||
      |    'submission ' || source_id || ' (' || source_name_raw || ')' || chr(10) ||
      |    'Submitted by ' || submitter || ' at ' || submission_time ||
      |    chr(10) || chr(10) AS status_message,
      |  CASE WHEN flow_state = 'SUCCEEDED' THEN 'S'
      |       WHEN flow_state = 'ACTIVE' THEN 'P'
      |       WHEN flow_state = 'FAILED' THEN 'F'
      |       ELSE 'U' END AS status_code,
      |  coalesce(flow_state = 'ACTIVE', false) AS active,
      |  coalesce('Flow state: ' || flow_state,
      |    'Submission prior to GlobusAutomate') AS description,
      |  test
      |FROM f ORDER BY doc_id""".stripMargin

  /** Org-rule OR-merge over a hierarchy: nation rules override/merge with
    * parent region rules, curation flags OR together
    * (source_id_manager.py:fetch_org_rules). Dims are broadcast — the
    * "hierarchy walk" is two map-side joins. */
  def orgRulesMerge(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
      .withColumn("nation_curation", col("n_nationkey") % 2 === 0)
    val r = Tables.region(s, dir)
      .withColumn("region_curation", col("r_regionkey") % 3 === 0)
    val c = Tables.customer(s, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"), col("r_name"))
      .agg(
        max(col("nation_curation") || col("region_curation")).as("curation"),
        count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  val orgRulesMergeSql: String =
    """SELECT n_name, r_name,
      |  max(n_nationkey % 2 = 0 OR r_regionkey % 3 = 0) AS curation,
      |  count(*) AS n_customers
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY n_name, r_name ORDER BY n_name""".stripMargin

  /** Arbitrary-depth org-parent closure (fetch_org_rules walks parent
    * chains until exhausted). Synthetic hierarchy: node i's parent is
    * i/2, root 0 — the parent function is arithmetic, so every ancestor
    * of `node` at depth d is simply `node >> d`. That makes the whole
    * closure a single narrow projection: generate depths 1..7 per row
    * with `transform(sequence(...))` and explode. Zero joins, zero extra
    * scans, one pass over the input — this survives any scale the scan
    * itself survives. (General, non-arithmetic hierarchies go through
    * [[ClosureOps.ancestorClosure]]: true path-doubling, O(log depth)
    * self-joins, run to the fixpoint by [[Fixpoint.converge]] with one
    * localCheckpoint per two rounds.) */
  def orgClosure(s: SparkSession, dir: String): DataFrame = {
    val nodes = graft.Tables.documents(s, dir)
      .filter(col("doc_id") < 100 && col("doc_id") > 0)
      .select(col("doc_id").as("node"))
    // chain for node n has floor(log2 n)+1 levels; node < 100 bounds it
    // at 7. Keep depth d iff the previous ancestor (node >> (d-1)) > 0,
    // matching the recursive oracle's WHERE ancestor > 0 continuation.
    def shr(v: Column, bits: Column): Column = call_function("shiftright", v, bits)
    nodes
      .select(col("node"), explode(
        filter(
          transform(sequence(lit(1), lit(7)),
            d => struct(shr(col("node"), d).as("ancestor"), d.as("depth"))),
          a => shr(col("node"), a.getField("depth") - 1) > 0)).as("anc"))
      .select(col("node"), col("anc.ancestor").as("ancestor"), col("anc.depth").as("depth"))
      .orderBy("node", "depth")
  }

  val orgClosureSql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT doc_id AS node, CAST(floor(doc_id / 2) AS BIGINT) AS ancestor, 1 AS depth
      |  FROM documents WHERE doc_id < 100 AND doc_id > 0
      |  UNION ALL
      |  SELECT a.node, CAST(floor(a.ancestor / 2) AS BIGINT) AS ancestor, a.depth + 1
      |  FROM anc a WHERE a.ancestor > 0)
      |SELECT node, ancestor, CAST(depth AS INTEGER) AS depth
      |FROM anc ORDER BY node, depth""".stripMargin

  // ------------------------------------------------- flow error digest

  /** get_error_msgs (flow_action.py:12-22): scan a flow run's log for
    * ActionFailed entries and collect the bundled error lists from their
    * parsed causes; entries whose cause carries no `errors` key are
    * counted but contribute no message. Modeled on the events stream:
    * a run = user_id, a failure = an 'error' event, the parsed cause =
    * the props JSON (even-k causes bundle a search-ingest error message,
    * odd-k causes don't — both branches of the reference's filter are
    * exercised). One groupBy on the run key; messages are ordered by
    * event time inside the aggregation, not by a window. */
  def flowErrors(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("action_id"), col("ts"), col("event_id"),
        k.as("k"))
      .groupBy(col("action_id"))
      .agg(
        count(lit(1)).as("n_failed"),
        sum(when(col("k") % 2 === 0, 1L).otherwise(0L)).as("n_with_errors"),
        array_join(
          transform(
            sort_array(collect_list(when(col("k") % 2 === 0,
              struct(col("ts"), col("event_id"),
                concat(lit("search-ingest-"), col("k").cast("string")).as("msg"))))),
            x => x.getField("msg")),
          ",").as("error_msgs"))
      .orderBy("action_id")
  }

  val flowErrorsSql: String =
    """WITH f AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events WHERE event_type = 'error')
      |SELECT user_id AS action_id,
      |  CAST(count(*) AS BIGINT) AS n_failed,
      |  CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_errors,
      |  coalesce(string_agg(
      |    CASE WHEN k % 2 = 0 THEN 'search-ingest-' || CAST(k AS VARCHAR) END,
      |    ',' ORDER BY ts, event_id), '') AS error_msgs
      |FROM f GROUP BY 1 ORDER BY action_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_flow_errors"         -> (flowErrors _),
    "q_org_closure"         -> (orgClosure _),
    "q_status_code"         -> (statusCode _),
    "q_status_rollup"       -> (statusRollup _),
    "q_status_steps"        -> (statusSteps12 _),
    "q_status_init"         -> (statusInit _),
    "q_validate_status"     -> (validateStatus _),
    "q_status_lookup"       -> (statusLookup _),
    "q_status_format"       -> (statusFormat _),
    "q_submissions_by_user" -> (submissionsByUser _),
    "q_org_rules_merge"     -> (orgRulesMerge _))

  def oracles: Map[String, String] = Map(
    "q_flow_errors"         -> flowErrorsSql,
    "q_org_closure"         -> orgClosureSql,
    "q_status_code"         -> statusCodeSql,
    "q_status_rollup"       -> statusRollupSql,
    "q_status_steps"        -> statusSteps12Sql,
    "q_status_init"         -> statusInitSql,
    "q_validate_status"     -> validateStatusSql,
    "q_status_lookup"       -> statusLookupSql,
    "q_status_format"       -> statusFormatSql,
    "q_submissions_by_user" -> submissionsByUserSql,
    "q_org_rules_merge"     -> orgRulesMergeSql)
}
