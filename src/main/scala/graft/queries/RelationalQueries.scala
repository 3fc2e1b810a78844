package graft
package queries

import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Frame, JoinType, Raw}
import graft.engine.{Exprs => E}
import graft.ops.TextOps
import graft.SparkEntry.scratchDir
import Fixtures._

/** The relational surface: scans, selections, projections, the join
  * types, aggregates, set operations, windows, the file sources and SQL
  * over the catalog. */
private[graft] object RelationalQueries {

  /** Analytic window frames: rank + lag + running sum, shared SQL. */
  private lazy val WindowFramesSql: String =
    """SELECT o_custkey, o_orderkey,
      |  rank() OVER w AS rk,
      |  dense_rank() OVER w AS drk,
      |  lag(o_orderkey) OVER w AS prev_order,
      |  sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE AS running_spend
      |FROM orders
      |WHERE o_custkey <= 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** ANSI SQL shared verbatim between Spark and the DuckDB oracle. */
  private lazy val WindowSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) ranked
      |WHERE rn <= 2""".stripMargin

  val queries: Seq[Query] = Seq(

    // ---- §2.1 Scan ----------------------------------------------------
    Query("q_scan", (s, dir) => {
      val c = new Catalog(s).addParquetTable("region", s"$dir/region.parquet")
      c.table("region").df
    },
      "SELECT r_regionkey, r_name FROM region"),

    // ---- §2.1 Scan→Selection→Projection (the canonical pipeline) ------
    Query("q_filter_project", (s, dir) => {
      Frame(t(s, dir, "lineitem"))
        .filter(E.col("l_quantity") >= E.lit(45.0) &&
          (E.col("l_returnflag") === E.lit("R")))
        .project(E.col("l_orderkey"), E.col("l_linenumber"),
          E.col("l_quantity"), E.col("l_extendedprice"))
        .df
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'""".stripMargin),

    // ---- §2.1 Projection with computed expression ---------------------
    Query("q_projection", (s, dir) => {
      Frame(t(s, dir, "lineitem"))
        .project(E.col("l_orderkey"), E.col("l_linenumber"),
          (E.col("l_extendedprice") * (E.lit(1.0) - E.col("l_discount")))
            .as("revenue"))
        .df
    },
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS revenue FROM lineitem""".stripMargin),

    // ---- §2.2 all 13 binary ops (comparison, boolean, arithmetic) -----
    Query("q_binary_ops", (s, dir) => {
      Frame(t(s, dir, "lineitem"))
        .filter(E.col("l_orderkey") <= E.lit(1000L))
        .project(
          E.col("l_orderkey"), E.col("l_linenumber"),
          (E.col("l_returnflag") === E.lit("R")).as("c_eq"),
          (E.col("l_linestatus") =!= E.lit("F")).as("c_neq"),
          (E.col("l_quantity") > E.lit(30.0)).as("c_gt"),
          (E.col("l_quantity") >= E.lit(30.0)).as("c_gte"),
          (E.col("l_quantity") < E.lit(10.0)).as("c_lt"),
          (E.col("l_quantity") <= E.lit(10.0)).as("c_lte"),
          ((E.col("l_quantity") > E.lit(30.0) &&
            (E.col("l_discount") < E.lit(0.05))) ||
            (E.col("l_tax") > E.lit(0.05))).as("c_bool"),
          (E.col("l_quantity") + E.col("l_tax")).as("a_add"),
          (E.col("l_extendedprice") - E.lit(100.0)).as("a_sub"),
          (E.col("l_extendedprice") * E.col("l_discount")).as("a_mul"),
          (E.col("l_extendedprice") / E.col("l_quantity")).as("a_div"),
          (E.col("l_partkey") % E.lit(7L)).as("a_mod"))
        .df
    },
      """SELECT l_orderkey, l_linenumber,
        |  l_returnflag = 'R' AS c_eq,
        |  l_linestatus != 'F' AS c_neq,
        |  l_quantity > 30 AS c_gt,
        |  l_quantity >= 30 AS c_gte,
        |  l_quantity < 10 AS c_lt,
        |  l_quantity <= 10 AS c_lte,
        |  (l_quantity > 30 AND l_discount < 0.05) OR l_tax > 0.05 AS c_bool,
        |  l_quantity + l_tax AS a_add,
        |  l_extendedprice - 100.0 AS a_sub,
        |  l_extendedprice * l_discount AS a_mul,
        |  l_extendedprice / l_quantity AS a_div,
        |  l_partkey % 7 AS a_mod
        |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin),

    // ---- §2.2 scalar fns CONCAT/SUBSTRING/ABS/SQRT/POWER --------------
    Query("q_scalar_fns", (s, dir) => {
      Frame(t(s, dir, "part"))
        .project(E.col("p_partkey"),
          E.concat(E.col("p_brand"), E.lit("_"), E.col("p_type")).as("brand_type"),
          E.substring(E.col("p_name"), E.lit(3), E.lit(10)).as("name_sub"),
          E.abs(E.col("p_retailprice") - E.lit(1500.0)).as("price_dev"),
          E.sqrt(E.col("p_size")).as("size_sqrt"),
          E.power(E.col("p_size"), E.lit(2)).as("size_sq"))
        .df
    },
      """SELECT p_partkey,
        |  concat(p_brand, '_', p_type) AS brand_type,
        |  substring(p_name, 3, 10) AS name_sub,
        |  abs(p_retailprice - 1500.0) AS price_dev,
        |  sqrt(p_size) AS size_sqrt,
        |  power(p_size, 2) AS size_sq
        |FROM part""".stripMargin),

    // ---- §2.1+2.3 grouped aggregation, all 5 agg fns (TPC-H Q1 shape) -
    Query("q_agg_grouped", (s, dir) => {
      Frame(t(s, dir, "lineitem")).aggregate(
        Seq(E.col("l_returnflag"), E.col("l_linestatus")),
        Seq(
          Raw(sum(col("l_quantity")).as("sum_qty"), "sum_qty"),
          Raw(dsum(col("l_extendedprice")).as("sum_base"), "sum_base"),
          Raw(dsum8r(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"), "sum_disc_price"),
          Raw((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"), "avg_qty"),
          Raw(min(col("l_extendedprice")).as("min_price"), "min_price"),
          Raw(max(col("l_extendedprice")).as("max_price"), "max_price"),
          Raw(count(lit(1)).as("count_order"), "count_order"))).df
    },
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_disc_price,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // ---- §2.3 global aggregate ----------------------------------------
    Query("q_agg_global", (s, dir) => {
      Frame(t(s, dir, "orders")).aggregate(Seq.empty,
        Seq(
          Raw(dsum(col("o_totalprice")).as("sum_price"), "sum_price"),
          Raw(min(col("o_totalprice")).as("min_price"), "min_price"),
          Raw(max(col("o_totalprice")).as("max_price"), "max_price"),
          Raw((dsum(col("o_totalprice")) / count(col("o_totalprice")))
            .as("avg_price"), "avg_price"),
          Raw(count(lit(1)).as("n_orders"), "n_orders"))).df
    },
      """SELECT
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS avg_price,
        |  count(*) AS n_orders
        |FROM orders""".stripMargin),

    // ---- §2.3 group-by-computed-expression (ref aggr/mod.rs:264-296) --
    Query("q_agg_expr", (s, dir) => {
      Frame(t(s, dir, "lineitem")).aggregate(
        Seq((E.col("l_quantity") <= E.lit(25.0)).as("small_qty")),
        Seq(Raw(count(lit(1)).as("n"), "n"),
          Raw(sum(col("l_quantity")).as("sum_qty"), "sum_qty"))).df
    },
      """SELECT l_quantity <= 25 AS small_qty, count(*) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ---- §2.1 joins: inner through two dimensions (broadcast at scale) -
    Query("q_join_inner", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "nation")), Seq(("c_nationkey", "n_nationkey")))
        .join(Frame(t(s, dir, "region")), Seq(("n_regionkey", "r_regionkey")))
        .aggregate(Seq(E.col("r_name"), E.col("n_name")),
          Seq(Raw(count(lit(1)).as("n_cust"), "n_cust"),
            Raw(dsum(col("c_acctbal")).as("sum_bal"), "sum_bal"))).df
    },
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // ---- §2.1 left outer join -----------------------------------------
    Query("q_join_left", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")),
          JoinType.Left)
        .aggregate(Seq(E.col("c_custkey")),
          Seq(Raw(count(col("o_orderkey")).as("n_orders"), "n_orders"))).df
    },
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin),

    // ---- §2.1 right outer join ----------------------------------------
    Query("q_join_right", (s, dir) => {
      Frame(t(s, dir, "orders"))
        .join(Frame(t(s, dir, "customer")), Seq(("o_custkey", "c_custkey")),
          JoinType.Right)
        .aggregate(Seq(E.col("c_mktsegment")),
          Seq(Raw(count(col("o_orderkey")).as("n_orders"), "n_orders"),
            Raw(count(lit(1)).as("n_rows"), "n_rows"))).df
    },
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders, count(*) AS n_rows
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // ---- §2.1 multi-key equi-join (ref nested_loop_join.rs:201-248) ---
    Query("q_join_multikey", (s, dir) => {
      val a = Frame(t(s, dir, "lineitem"))
      val b = Frame(t(s, dir, "lineitem"))
      a.join(b, Seq(("l_orderkey", "l_orderkey"), ("l_linenumber", "l_linenumber")))
        .df.agg(count(lit(1)).as("n"),
          sum(a.df("l_quantity") * b.df("l_quantity")).as("sum_qq"))
    },
      """SELECT count(*) AS n, sum(a.l_quantity * b.l_quantity) AS sum_qq
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber""".stripMargin),

    // ---- extension: left semi join (EXISTS) — customers with orders ---
    Query("q_join_semi", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")),
          JoinType.Semi)
        .aggregate(Seq(E.col("c_mktsegment")),
          Seq(Raw(count(lit(1)).as("n_cust"), "n_cust"))).df
    },
      """SELECT c_mktsegment, count(*) AS n_cust FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // ---- extension: left anti join (NOT EXISTS) — order-less customers
    Query("q_join_anti", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")),
          JoinType.Anti)
        .aggregate(Seq(E.col("c_mktsegment")),
          Seq(Raw(count(lit(1)).as("n_cust"), "n_cust"))).df
    },
      """SELECT c_mktsegment, count(*) AS n_cust FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // ---- extension: full outer join — both sides filtered so both
    // null-extension directions are actually exercised ------------------
    Query("q_join_full", (s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") <= 900)
      val o = t(s, dir, "orders").where(col("o_custkey") >= 800)
      Frame(c).join(Frame(o), Seq(("c_custkey", "o_custkey")), JoinType.FullOuter)
        .aggregate(Seq.empty,
          Seq(Raw(count(lit(1)).as("n_rows"), "n_rows"),
            Raw(count(col("c_custkey")).as("n_left"), "n_left"),
            Raw(count(col("o_orderkey")).as("n_right"), "n_right"),
            Raw(count(when(col("c_custkey").isNull, lit(1))).as("n_left_null"),
              "n_left_null"))).df
    },
      """SELECT count(*) AS n_rows, count(c_custkey) AS n_left,
        |  count(o_orderkey) AS n_right,
        |  count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_left_null
        |FROM (SELECT * FROM customer WHERE c_custkey <= 900) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey >= 800) o
        |  ON c_custkey = o_custkey""".stripMargin),

    // ---- §2.4 catalog + CSV source (ref catalog.rs + csv_table.rs) ----
    Query("q_csv_catalog", (s, _) => {
      val c = new Catalog(s)
        .addCsvTable("people", "/root/repo/src/test/resources/data/people.csv")
      c.table("people")
        .filter(E.col("age") >= E.lit(24))
        .project(E.col("name"), E.col("score"))
        .df
    },
      """SELECT name, score
        |FROM read_csv_auto('/root/repo/src/test/resources/data/people.csv')
        |WHERE age >= 24""".stripMargin),

    // line-oriented text source: one row per line, zero parsing — the
    // rawest corpus ingest format (WET extracts, one-doc-per-line
    // dumps); downstream expressions do the splitting, as they should
    // at 100 TB (Catalog.addTextTable)
    Query("q_text_source", (s, _) => {
      val c = new Catalog(s)
        .addTextTable("corpus_raw", "/root/repo/src/test/resources/data/corpus.txt")
      c.table("corpus_raw").df
        .select(col("value"), length(col("value")).cast("long").as("n_chars"),
          TextOps.nTokens(col("value")).cast("long").as("n_tokens"))
    },
      """WITH l AS (
        |  SELECT unnest(string_split(content, chr(10))) AS value
        |  FROM read_text('/root/repo/src/test/resources/data/corpus.txt'))
        |SELECT value, CAST(length(value) AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN trim(value) = '' THEN 0
        |       ELSE len(string_split_regex(trim(value), '\s+')) END
        |    AS BIGINT) AS n_tokens
        |FROM l WHERE value <> ''""".stripMargin),

    // dirty-ingestion contract: enforced schema + DROPMALFORMED skips
    // the three broken lines in the fixture, keeps the five clean rows
    Query("q_json_malformed", (s, _) =>
      new Catalog(s).addJsonTableStrict("docs_dirty",
          "/root/repo/src/test/resources/data/docs_malformed.jsonl",
          "id BIGINT, text STRING, lang STRING")
        .table("docs_dirty").df
        .select(col("id"), col("text"), col("lang")),
      // DuckDB's ignore_errors nulls unparseable lines instead of
      // dropping them — filter to mirror Spark's DROPMALFORMED
      """SELECT id, text, lang FROM read_json(
        |  '/root/repo/src/test/resources/data/docs_malformed.jsonl',
        |  format = 'newline_delimited',
        |  columns = {'id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR'},
        |  ignore_errors = true)
        |WHERE id IS NOT NULL""".stripMargin),

    // JSON source parity: write nation as JSON lines, read it back
    // through the catalog's JSON source (schema inferred), and the
    // round-trip must equal the parquet original
    Query("q_json_roundtrip", (s, dir) => {
      val path = scratchDir("graft-json-rt").toString
      t(s, dir, "nation").write.mode("overwrite").json(path)
      new Catalog(s).addJsonTable("nation_json_rt", path)
        .table("nation_json_rt").df
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },
      // the round-trips must reproduce the parquet original exactly
      "SELECT n_nationkey, n_name, n_regionkey FROM nation"),

    // ORC source parity, same round-trip shape
    Query("q_orc_roundtrip", (s, dir) => {
      val path = scratchDir("graft-orc-rt").toString
      t(s, dir, "nation").write.mode("overwrite").orc(path)
      new Catalog(s).addOrcTable("nation_orc_rt", path)
        .table("nation_orc_rt").df
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation"),

    // ---- SQL frontend over registered catalog views -------------------
    Query("q_sql_frontend", (s, dir) => {
      Catalog.forTestdata(s, dir)
      s.sql("""SELECT o_orderpriority, count(*) AS n FROM orders
               WHERE o_totalprice > 100000 GROUP BY o_orderpriority""")
    },
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_totalprice > 100000 GROUP BY o_orderpriority""".stripMargin),

    // ---- extension: sort + limit (top-k) ------------------------------
    Query("q_sort_limit", (s, dir) => {
      Frame(t(s, dir, "orders"))
        .project(E.col("o_orderkey"), E.col("o_custkey"), E.col("o_totalprice"))
        .sort((E.col("o_totalprice"), false), (E.col("o_orderkey"), true))
        .limit(10).df
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ---- extension: distinct ------------------------------------------
    Query("q_distinct", (s, dir) => {
      Frame(t(s, dir, "lineitem"))
        .project(E.col("l_returnflag"), E.col("l_linestatus"))
        .distinct().df
    },
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    // ---- extension: union (set semantics) -----------------------------
    Query("q_union", (s, dir) => {
      Frame(t(s, dir, "customer")).project(E.col("c_nationkey").as("nationkey"))
        .union(Frame(t(s, dir, "supplier")).project(E.col("s_nationkey").as("nationkey")))
        .distinct().df
    },
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    // ---- extension: window functions (shared ANSI SQL both engines) ---
    Query("q_window", (s, dir) => {
      Catalog.forTestdata(s, dir)
      s.sql(WindowSql)
    },
      WindowSql),

    // ---- extension: HAVING (post-aggregation filter) ------------------
    Query("q_having", (s, dir) => {
      Frame(t(s, dir, "lineitem"))
        .aggregate(Seq(E.col("l_partkey")),
          Seq(Raw(count(lit(1)).as("n"), "n"),
            Raw(max(col("l_quantity")).as("max_qty"), "max_qty")))
        .filter(E.col("n") >= E.lit(35L)).df
    },
      """SELECT l_partkey, count(*) AS n, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 35""".stripMargin),

    // ---- extension: set ops INTERSECT / EXCEPT ------------------------
    Query("q_intersect", (s, dir) => {
      Frame(t(s, dir, "customer")).project(E.col("c_nationkey").as("nationkey"))
        .intersect(Frame(t(s, dir, "supplier")).project(E.col("s_nationkey").as("nationkey"))).df
    },
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    Query("q_except", (s, dir) => {
      Frame(t(s, dir, "customer")).project(E.col("c_nationkey").as("nationkey"))
        .except(Frame(t(s, dir, "supplier")).project(E.col("s_nationkey").as("nationkey"))).df
    },
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    // ---- extension: bag-semantics set ops (EXCEPT/INTERSECT ALL) ------
    // multiset difference/intersection of per-nation rows: occurrence
    // counts matter (min(m,n) / max(m-n,0)), which Spark plans as one
    // count-compare aggregate, never a join explosion
    Query("q_except_all", (s, dir) => {
      Frame(t(s, dir, "customer")).project(E.col("c_nationkey").as("nationkey"))
        .exceptAll(Frame(t(s, dir, "supplier"))
          .project(E.col("s_nationkey").as("nationkey"))).df
    },
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT ALL
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    Query("q_intersect_all", (s, dir) => {
      Frame(t(s, dir, "customer")).project(E.col("c_nationkey").as("nationkey"))
        .intersectAll(Frame(t(s, dir, "supplier"))
          .project(E.col("s_nationkey").as("nationkey"))).df
    },
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT ALL
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    // ---- extension: CASE WHEN / NULLIF / COALESCE ---------------------
    Query("q_case_null", (s, dir) =>
      t(s, dir, "lineitem").where(col("l_orderkey") <= 500)
        .selectExpr("l_orderkey", "l_linenumber",
          "CASE WHEN l_quantity > 40 THEN 'high' WHEN l_quantity > 20 THEN 'mid' ELSE 'low' END AS qty_band",
          "coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none",
          "(l_discount = 0) AS no_disc"),
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity > 40 THEN 'high'
        |       WHEN l_quantity > 20 THEN 'mid' ELSE 'low' END AS qty_band,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none,
        |  (l_discount = 0) AS no_disc
        |FROM lineitem WHERE l_orderkey <= 500""".stripMargin),

    // ---- extension: date/time part extraction -------------------------
    Query("q_date_parts", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d")),
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  day(o_orderdate) AS d FROM orders""".stripMargin),

    // ---- extension: exact DISTINCT aggregates -------------------------
    Query("q_count_distinct", (s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows")),
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem""".stripMargin),

    // ---- extension: ROLLUP subtotals ----------------------------------
    Query("q_rollup", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "nation")), Seq(("c_nationkey", "n_nationkey")))
        .join(Frame(t(s, dir, "region")), Seq(("n_regionkey", "r_regionkey")))
        .rollup(Seq(E.col("r_name"), E.col("n_name")),
          Seq(Raw(count(lit(1)).as("n_cust"), "n_cust"))).df
    },
      """SELECT r_name, n_name, count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin),

    // ---- extension: analytic window frames (rank, lag, running sum) ---
    Query("q_window_frames", (s, dir) => {
      Catalog.forTestdata(s, dir)
      s.sql(WindowFramesSql)
    },
      WindowFramesSql),

    // ---- extension: string function family ----------------------------
    Query("q_string_fns", (s, dir) =>
      t(s, dir, "part").where(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          upper(col("p_brand")).as("up"),
          lower(col("p_type")).as("lo"),
          length(col("p_name")).as("len"),
          trim(col("p_name")).as("tr"),
          lpad(col("p_brand"), 12, "_").as("pad"),
          regexp_replace(col("p_type"), "[aeiou]", "").as("novowel"),
          split(col("p_type"), " ").getItem(0).as("first_word")),
      """SELECT p_partkey,
        |  upper(p_brand) AS up,
        |  lower(p_type) AS lo,
        |  length(p_name) AS len,
        |  trim(p_name) AS tr,
        |  lpad(p_brand, 12, '_') AS pad,
        |  regexp_replace(p_type, '[aeiou]', '', 'g') AS novowel,
        |  string_split(p_type, ' ')[1] AS first_word
        |FROM part WHERE p_partkey <= 500""".stripMargin),

    // ---- extension: array / higher-order functions --------------------
    Query("q_array_fns", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("ws", array_sort(array_distinct(split(col("text"), " "))))
        .select(col("doc_id"),
          size(col("ws")).as("n_distinct"),
          array_contains(col("ws"), "spark").as("has_spark"),
          // raw array columns stay internal: the driver's comparator can only
          // hash scalar cells, so the slice is surfaced via array_join only
          // (array values are asserted in TextOpsSpec).
          array_join(slice(col("ws"), 1, 3), "|").as("first3_str")),
      """SELECT doc_id,
        |  len(list_sort(list_distinct(string_split(text, ' ')))) AS n_distinct,
        |  list_contains(list_sort(list_distinct(string_split(text, ' '))), 'spark') AS has_spark,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], '|') AS first3_str
        |FROM documents""".stripMargin),

    // ---- extension: exact percentiles (distributed sort-based) --------
    Query("q_percentile", (s, dir) =>
      t(s, dir, "orders").agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("med"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        round(expr("percentile(o_totalprice, 0.25)"), 2).as("q1")),
      """SELECT round(quantile_cont(o_totalprice, 0.5), 2) AS med,
        |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        |  round(quantile_cont(o_totalprice, 0.25), 2) AS q1
        |FROM orders""".stripMargin),

    // ---- extension: JSON column extraction ----------------------------
    Query("q_json_extract", (s, dir) =>
      t(s, dir, "events").where(col("event_id") <= 2000)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          (get_json_object(col("props"), "$.k").cast("int") % 10).as("k_mod")),
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod
        |FROM events WHERE event_id <= 2000""".stripMargin),

    // ---- extension: CUBE (all grouping-set combinations) --------------
    // routed through the engine surface (Frame.cube, rollup's sibling)
    Query("q_cube", (s, dir) =>
      Frame(t(s, dir, "lineitem"))
        .cube(Seq(E.col("l_returnflag"), E.col("l_linestatus")),
          Seq(Raw(count(lit(1)).as("n"), "n"),
            Raw(sum(col("l_quantity")).as("sum_qty"), "sum_qty"))).df,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),

    // ---- extension: GROUPING SETS (explicit grouping combinations) ----
    // the general form under rollup/cube: exactly the listed sets, on the
    // engine surface (Frame.groupingSets)
    Query("q_grouping_sets", (s, dir) =>
      Frame(t(s, dir, "lineitem"))
        .groupingSets(
          Seq(Seq(E.col("l_returnflag"), E.col("l_linestatus")),
            Seq(E.col("l_returnflag")), Seq.empty),
          Seq(E.col("l_returnflag"), E.col("l_linestatus")),
          Seq(Raw(count(lit(1)).as("n"), "n"),
            Raw(dsum(col("l_quantity")).as("sum_qty"), "sum_qty"))).df,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())""".stripMargin),

    // ---- extension: pivot (wide aggregation, engine surface) ----------
    // the Raw (unaliased) agg keeps Spark's bare pivot column names F/O
    Query("q_pivot", (s, dir) =>
      Frame(t(s, dir, "lineitem"))
        .pivot(Seq(E.col("l_returnflag")), "l_linestatus", Seq("F", "O"),
          Seq(Raw(sum(col("l_quantity")), "sum_qty"))).df,
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F,
        |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // ---- extension: explode with position (engine surface) ------------
    Query("q_explode", (s, dir) =>
      Frame(t(s, dir, "documents"))
        .filter(Raw(col("doc_id") < 50, "doc_id < 50"))
        .explode(Raw(split(col("text"), " "), "words"), "pos0", "word",
          Seq(E.col("doc_id")))
        .project(E.col("doc_id"),
          Raw(col("pos0").cast("long").as("pos"), "pos"), E.col("word")).df,
      """SELECT doc_id, u['pos'] AS pos, u['word'] AS word FROM (
        |  SELECT doc_id,
        |    unnest([{'pos': i-1, 'word': s[i]} for i in range(1, len(s)+1)]) AS u
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s
        |        FROM documents WHERE doc_id < 50) t)""".stripMargin),

    // ---- extension: min_by / max_by (deterministic composite key) -----
    Query("q_minmax_by", (s, dir) => {
      val key = round(col("o_totalprice") * 100).cast("long") * 1000000L +
        col("o_orderkey")
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(max_by(col("o_orderkey"), key).as("top_order"),
          min_by(col("o_orderkey"), key).as("bottom_order"))
    },
      """SELECT o_orderpriority,
        |  arg_max(o_orderkey,
        |    CAST(round(o_totalprice*100) AS BIGINT)*1000000 + o_orderkey) AS top_order,
        |  arg_min(o_orderkey,
        |    CAST(round(o_totalprice*100) AS BIGINT)*1000000 + o_orderkey) AS bottom_order
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // ---- extension: outer explode (NULL collections keep their row) ---
    Query("q_explode_outer", (s, dir) => {
      val base = Frame(t(s, dir, "documents")
        .where(col("doc_id") < 100)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, lit(null))
            .otherwise(split(col("text"), " ")).as("toks")))
      base.explodeOuter(E.col("toks"), "pos", "tok", Seq(E.col("doc_id"))).df
    },
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN NULL
        |                      ELSE string_split(text, ' ') END AS toks
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
        |FROM t, unnest(generate_series(1, len(toks))) AS s(i)
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS INTEGER), NULL FROM t
        |WHERE toks IS NULL""".stripMargin),

    // ---- extension: null-safe equality join (<=> / IS NOT DISTINCT) ---
    // nullable keys synthesized from orders: a hashed join on <=> where
    // NULL keys match each other exactly once per pair — the join-key
    // form SQL engines need when key columns are nullable
    Query("q_nullsafe_eq", (s, dir) => {
      def keyed(limit: Int, ka: String) = Frame(t(s, dir, "orders")
        .where(col("o_orderkey") <= limit)
        .select(col("o_orderkey").as(s"${ka}_id"),
          when(col("o_orderkey") % 7 === 0, lit(null))
            .otherwise(col("o_custkey")).as(ka)))
      keyed(200, "ka").joinOn(keyed(300, "kb"),
          E.col("ka") <=> E.col("kb"))
        .aggregate(Seq.empty,
          Seq(Raw(count(lit(1)).as("n_pairs"), "n_pairs"),
            Raw(sum(when(col("ka").isNull, 1L).otherwise(0L))
              .as("n_null_pairs"), "n_null_pairs")))
        .df
    },
      """WITH a AS (
        |  SELECT o_orderkey AS ka_id,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS ka
        |  FROM orders WHERE o_orderkey <= 200),
        |b AS (
        |  SELECT o_orderkey AS kb_id,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS kb
        |  FROM orders WHERE o_orderkey <= 300)
        |SELECT count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN ka IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_pairs
        |FROM a JOIN b ON ka IS NOT DISTINCT FROM kb""".stripMargin),

    // ---- extension: ordered string aggregation (LISTAGG parity) -------
    // collect_list is ORDER-NONDETERMINISTIC under partitioning; the
    // deterministic form sorts inside the aggregate (array_sort) before
    // joining — the engine-portable equivalent of LISTAGG ... WITHIN
    // GROUP (ORDER BY) / string_agg(ORDER BY)
    Query("q_listagg", (s, dir) =>
      t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), "|")
            .as("nations"),
          count(lit(1)).as("n_nations")),
      """SELECT r_name, string_agg(n_name, '|' ORDER BY n_name) AS nations,
        |  count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),

    // ---- semi-structured: JSON property extraction + rollup -----------
    // the raw-log ingestion shape: pull a typed field out of a JSON
    // payload column (codegen'd get_json_object — no UDF, no parse to an
    // intermediate struct) and aggregate it; map-side extraction
    // pipelines inside the scan stage, one event_type-keyed shuffle
    Query("q_json_props", (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin),

    // ---- analytic distribution functions on the Frame surface ---------
    // ntile/percent_rank/cume_dist over a TIE-FREE order (totalprice,
    // orderkey): a tied order would make ntile engine-arbitrary
    Query("q_window_analytics", (s, dir) =>
      Frame(t(s, dir, "orders").where(col("o_orderkey") < 2000)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")))
        .window(Seq(E.col("o_orderpriority")),
          Seq((E.col("o_totalprice"), true), (E.col("o_orderkey"), true)),
          Seq(("ntile", E.lit(4), "tile4"),
            ("percent_rank", E.lit(1), "pct_rank"),
            ("cume_dist", E.lit(1), "cume")))
        .project(E.col("o_orderkey"), E.col("o_orderpriority"),
          Raw(col("tile4").cast("long").as("tile4"), "tile4"),
          E.col("pct_rank"), E.col("cume")).df,
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(4) OVER w AS BIGINT) AS tile4,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin),

    // ---- LLM: group-wise top-k (keep best N per source) ---------------
    // "keep the k longest docs per domain" — the per-stratum curation
    // cut, expressed entirely on the engine surface (Frame.window +
    // filter). Deterministic order: (n_tokens desc, doc_id asc).
    Query("q_topk_per_group", (s, dir) => {
      val q = TextOps.qualitySignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("source"),
          col("n_tokens").cast("long").as("n_tokens"))
      Frame(q).window(Seq(E.col("source")),
          Seq((E.col("n_tokens"), false), (E.col("doc_id"), true)),
          Seq(("row_number", E.lit(1), "rn")))
        .filter(Raw(col("rn") <= 3, "rn <= 3"))
        .project(E.col("source"), E.col("doc_id"), E.col("n_tokens"),
          Raw(col("rn").cast("long").as("rn"), "rn")).df
    },
      """WITH q AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM documents)
        |SELECT source, doc_id, n_tokens, rn FROM (
        |  SELECT source, doc_id, n_tokens,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM q) WHERE rn <= 3""".stripMargin)
  )
}
