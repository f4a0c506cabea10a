package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's DynamoDB scan/query surface re-expressed as a Catalyst
  * plan compiler.
  *
  * Reference: `aws/dynamo_manager.py:129` (`scan_table`) accepts a
  * projection (`fields`) and a conjunctive list of `(field, op, value)`
  * filters with operators `^ * == != > >= < <= [] in`, where `== None`
  * means attribute-not-exists and `!= None` attribute-exists.
  *
  * Here each filter compiles to a `Column` predicate and the whole scan is
  * a declarative `filter(...).select(...)` — Catalyst pushes the
  * predicates and the projection into the parquet scan (PushedFilters /
  * ReadSchema), so at 100 TB only the needed columns and row groups are
  * read, where the reference pages through a full table scan.
  */
sealed trait ScanFilter { def field: String }
object ScanFilter {
  final case class BeginsWith(field: String, value: String)       extends ScanFilter
  final case class Contains(field: String, value: String)         extends ScanFilter
  /** value None => attribute does not exist (IS NULL) */
  final case class Eq(field: String, value: Option[Any])          extends ScanFilter
  /** value None => attribute exists (IS NOT NULL) */
  final case class Ne(field: String, value: Option[Any])          extends ScanFilter
  final case class Gt(field: String, value: Any)                  extends ScanFilter
  final case class Ge(field: String, value: Any)                  extends ScanFilter
  final case class Lt(field: String, value: Any)                  extends ScanFilter
  final case class Le(field: String, value: Any)                  extends ScanFilter
  final case class Between(field: String, lo: Any, hi: Any)       extends ScanFilter
  final case class In(field: String, values: Seq[Any])            extends ScanFilter

  /** Parse the reference's string operator form, e.g. ("source_id", "^", "oqmd"). */
  def apply(field: String, op: String, value: Any): ScanFilter = op match {
    case "^"  => BeginsWith(field, value.asInstanceOf[String])
    case "*"  => Contains(field, value.asInstanceOf[String])
    case "==" => Eq(field, Option(value))
    case "!=" => Ne(field, Option(value))
    case ">"  => Gt(field, value)
    case ">=" => Ge(field, value)
    case "<"  => Lt(field, value)
    case "<=" => Le(field, value)
    case "in" => In(field, value.asInstanceOf[Seq[Any]])
    case "[]" => value.asInstanceOf[Seq[Any]] match {
      case Seq(lo, hi) => Between(field, lo, hi)
      case other       => throw new IllegalArgumentException(s"between needs [lo, hi], got $other")
    }
    case other => throw new IllegalArgumentException(s"Invalid filter operator '$other'")
  }
}

object ScanOps {
  import ScanFilter._

  def compile(f: ScanFilter): Column = f match {
    case BeginsWith(c, v) => col(c).startsWith(v)
    case Contains(c, v)   => col(c).contains(v)
    case Eq(c, None)      => col(c).isNull
    case Eq(c, Some(v))   => col(c) === lit(v)
    case Ne(c, None)      => col(c).isNotNull
    case Ne(c, Some(v))   => col(c) =!= lit(v)
    case Gt(c, v)         => col(c) > lit(v)
    case Ge(c, v)         => col(c) >= lit(v)
    case Lt(c, v)         => col(c) < lit(v)
    case Le(c, v)         => col(c) <= lit(v)
    case Between(c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi)
    case In(c, vs)        => col(c).isin(vs: _*)
  }

  /** `scan_table(fields, filters)`: conjunctive filters + projection. */
  def scan(df: DataFrame, fields: Seq[String] = Nil, filters: Seq[ScanFilter] = Nil): DataFrame = {
    val filtered = filters.map(compile).reduceOption(_ && _).map(df.filter).getOrElse(df)
    if (fields.isEmpty) filtered else filtered.select(fields.map(col): _*)
  }

  // ----------------------------------------------------------------------
  // §2 checklist queries: each exercises the scan algebra over a test table
  // and is oracle-checked against plain SQL. Filters + projections compile
  // to Catalyst predicates, so .explain shows them in PushedFilters /
  // ReadSchema — at 100 TB that's the difference between reading two
  // columns of matching row groups and paging the whole table like the
  // reference's DynamoDB scan loop.
  // ----------------------------------------------------------------------
  import org.apache.spark.sql.SparkSession
  import graft.Tables

  def scanProject(s: SparkSession, dir: String): DataFrame =
    scan(Tables.orders(s, dir), fields = Seq("o_orderkey", "o_orderdate", "o_totalprice"))
      .orderBy("o_orderkey")

  val scanProjectSql: String =
    "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders ORDER BY o_orderkey"

  def filterBeginsWith(s: SparkSession, dir: String): DataFrame =
    scan(Tables.customer(s, dir),
      fields = Seq("c_custkey", "c_name", "c_mktsegment"),
      filters = Seq(ScanFilter("c_name", "^", "Customer#0000013")))
      .orderBy("c_custkey")

  val filterBeginsWithSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_name LIKE 'Customer#0000013%' ORDER BY c_custkey""".stripMargin

  def filterContains(s: SparkSession, dir: String): DataFrame =
    scan(Tables.part(s, dir),
      fields = Seq("p_partkey", "p_name", "p_type"),
      filters = Seq(ScanFilter("p_type", "*", "MED")))
      .orderBy("p_partkey")

  val filterContainsSql: String =
    """SELECT p_partkey, p_name, p_type FROM part
      |WHERE p_type LIKE '%MED%' ORDER BY p_partkey""".stripMargin

  def filterCmp(s: SparkSession, dir: String): DataFrame =
    scan(Tables.lineitem(s, dir),
      fields = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"),
      filters = Seq(
        ScanFilter("l_quantity", ">", 45.0),
        ScanFilter("l_discount", "<=", 0.02),
        ScanFilter("l_returnflag", "==", "R"),
        ScanFilter("l_linestatus", "!=", "O"),
        ScanFilter("l_extendedprice", ">=", 1000.0),
        ScanFilter("l_tax", "<", 0.05)))
      .orderBy("l_orderkey", "l_linenumber")

  val filterCmpSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag FROM lineitem
      |WHERE l_quantity > 45.0 AND l_discount <= 0.02 AND l_returnflag = 'R'
      |  AND l_linestatus <> 'O' AND l_extendedprice >= 1000.0 AND l_tax < 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  def filterBetweenIn(s: SparkSession, dir: String): DataFrame =
    scan(Tables.orders(s, dir),
      fields = Seq("o_orderkey", "o_totalprice", "o_orderpriority"),
      filters = Seq(
        ScanFilter("o_totalprice", "[]", Seq(200000.0, 210000.0)),
        ScanFilter("o_orderpriority", "in", Seq("1-URGENT", "2-HIGH"))))
      .orderBy("o_orderkey")

  val filterBetweenInSql: String =
    """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |WHERE o_totalprice BETWEEN 200000.0 AND 210000.0
      |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      |ORDER BY o_orderkey""".stripMargin

  /** `== None` / `!= None` (attribute-exists semantics) over a derived
    * nullable column, since the test tables are dense. */
  def filterNullSemantics(s: SparkSession, dir: String): DataFrame = {
    val withNullable = Tables.orders(s, dir)
      .withColumn("open_status", when(col("o_orderstatus") === "O", lit(null: String))
        .otherwise(col("o_orderstatus")))
    scan(withNullable,
      fields = Seq("o_orderkey", "open_status"),
      filters = Seq(ScanFilter.Ne("open_status", None), ScanFilter("o_orderkey", "<", 2000L)))
      .orderBy("o_orderkey")
  }

  val filterNullSemanticsSql: String =
    """SELECT o_orderkey, nullif(o_orderstatus, 'O') AS open_status FROM orders
      |WHERE nullif(o_orderstatus, 'O') IS NOT NULL AND o_orderkey < 2000
      |ORDER BY o_orderkey""".stripMargin

  // ----------------------------------------------------------------------
  // Pagination: the reference's scan_table pages DynamoDB with a
  // LastEvaluatedKey continuation loop (aws/dynamo_manager.py:216-230).
  // The Spark analog is KEYSET pagination over a deterministic sort key —
  // WHERE key > resume ORDER BY key LIMIT n — not OFFSET pagination:
  // offset k re-reads k rows on every page, while the keyset predicate
  // pushes into the parquet scan (PushedFilters: GreaterThan) so each
  // page is O(page) whatever the table size. The resume token is simply
  // the last key of the page, carried by the client exactly like
  // LastEvaluatedKey.
  // ----------------------------------------------------------------------

  /** One page of a sorted scan: filters + projection + keyset resume
    * over the sort key `keys` (jointly unique for gapless tiling).
    * DynamoDB's LastEvaluatedKey is (partition key, sort key), so the
    * resume predicate is the row-value comparison (k1, …, kn) >
    * (a1, …, an), written k1 >= a1 AND (k1 > a1 OR (k2, …) > (a2, …)):
    * one key gives `k > a`, and the `k1 >= a1` half of a longer key
    * still pushes to the scan as a range predicate, so a resumed page
    * reads only row groups at or past the token's first component.
    *
    * LOOP CONTRACT: `resumeAfter = None` means "first page", while
    * [[resumeToken]] returns None for "scan exhausted" — so a
    * continuation loop must terminate on an EMPTY PAGE (or a None
    * token) and never feed that None back in, which would silently
    * restart from page 1. ScanPageSpec shows the correct loop. */
  def scanPage(df: DataFrame, keys: Seq[String], pageSize: Int,
      resumeAfter: Option[Seq[Any]] = None, fields: Seq[String] = Nil,
      filters: Seq[ScanFilter] = Nil): DataFrame = {
    def after(ks: Seq[String], vs: Seq[Any]): Column = (ks, vs) match {
      case (Seq(k), Seq(v)) => col(k) > lit(v)
      case (k +: kt, v +: vt) => col(k) >= lit(v) && (col(k) > lit(v) || after(kt, vt))
      case _ => throw new IllegalArgumentException(
        s"resume token $vs does not match the keys $ks")
    }
    val base = scan(df, fields, filters)
    val from = resumeAfter.map(t => base.filter(after(keys, t))).getOrElse(base)
    from.orderBy(keys.map(col(_).asc): _*).limit(pageSize)
  }

  /** The resume token of a page — its greatest key in scan order. None
    * means the scan is EXHAUSTED: terminate the loop; do not pass it
    * back to [[scanPage]], where None means "start over" (see loop
    * contract there). */
  def resumeToken(page: DataFrame, keys: Seq[String]): Option[Seq[Any]] = {
    val r = page.agg(max(struct(keys.map(col): _*))).head()
    if (r.isNullAt(0)) None else Some(r.getStruct(0).toSeq)
  }

  val pageSize = 200

  /** Driver query: the SECOND page of a filtered orders scan — page 1's
    * token is read back driver-side and fed into page 2, exercising the
    * actual continuation handoff (the one scalar driver round-trip a
    * pagination protocol inherently has, mirroring the reference loop). */
  def scanPaged(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val fields = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val filters = Seq(ScanFilter("o_orderpriority", "in", Seq("1-URGENT", "2-HIGH")))
    val key = Seq("o_orderkey")
    val p1 = scanPage(orders, key, pageSize, None, fields, filters)
    scanPage(orders, key, pageSize, resumeToken(p1, key), fields, filters)
      .orderBy("o_orderkey")
  }

  val scanPagedSql: String =
    s"""WITH p1 AS (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       |  ORDER BY o_orderkey LIMIT $pageSize)
       |SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       |  AND o_orderkey > (SELECT max(o_orderkey) FROM p1)
       |ORDER BY o_orderkey LIMIT $pageSize""".stripMargin

  /** Driver query: the second page of a (o_custkey, o_orderkey)-keyed
    * composite scan — o_custkey repeats, so the token's tie-break half
    * is exercised at the gate, not just in spec. */
  def scanPagedComposite(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val fields = Seq("o_custkey", "o_orderkey", "o_totalprice")
    val keys = Seq("o_custkey", "o_orderkey")
    val p1 = scanPage(orders, keys, pageSize, None, fields)
    scanPage(orders, keys, pageSize, resumeToken(p1, keys), fields)
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Row-value comparison oracle: DuckDB's (a, b) > (x, y) is exactly
    * the composite resume predicate. */
  val scanPagedCompositeSql: String =
    s"""WITH p1 AS (
       |  SELECT o_custkey, o_orderkey FROM orders
       |  ORDER BY o_custkey, o_orderkey LIMIT $pageSize),
       |tok AS (
       |  SELECT o_custkey AS a, o_orderkey AS b FROM p1
       |  ORDER BY o_custkey DESC, o_orderkey DESC LIMIT 1)
       |SELECT o_custkey, o_orderkey, o_totalprice FROM orders, tok
       |WHERE (o_custkey, o_orderkey) > (a, b)
       |ORDER BY o_custkey, o_orderkey LIMIT $pageSize""".stripMargin

  def scanFilterProject(s: SparkSession, dir: String): DataFrame =
    scan(Tables.events(s, dir),
      fields = Seq("event_id", "user_id", "event_type", "value"),
      filters = Seq(
        ScanFilter("event_type", "in", Seq("purchase", "signup")),
        ScanFilter("value", ">=", 10.0),
        ScanFilter("user_id", "[]", Seq(10L, 60L))))
      .orderBy("event_id")

  val scanFilterProjectSql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_type IN ('purchase', 'signup') AND value >= 10.0
      |  AND user_id BETWEEN 10 AND 60
      |ORDER BY event_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_project"          -> (scanProject _),
    "q_filter_begins_with"    -> (filterBeginsWith _),
    "q_filter_contains"       -> (filterContains _),
    "q_filter_cmp"            -> (filterCmp _),
    "q_filter_between_in"     -> (filterBetweenIn _),
    "q_filter_null_semantics" -> (filterNullSemantics _),
    "q_scan_filter_project"   -> (scanFilterProject _),
    "q_scan_page"             -> (scanPaged _),
    "q_scan_page_composite"   -> (scanPagedComposite _))

  def oracles: Map[String, String] = Map(
    "q_scan_page"             -> scanPagedSql,
    "q_scan_page_composite"   -> scanPagedCompositeSql,
    "q_scan_project"          -> scanProjectSql,
    "q_filter_begins_with"    -> filterBeginsWithSql,
    "q_filter_contains"       -> filterContainsSql,
    "q_filter_cmp"            -> filterCmpSql,
    "q_filter_between_in"     -> filterBetweenInSql,
    "q_filter_null_semantics" -> filterNullSemanticsSql,
    "q_scan_filter_project"   -> scanFilterProjectSql)
}
