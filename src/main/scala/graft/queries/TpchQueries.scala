package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{Catalog, Frame, JoinType, Raw}
import graft.engine.{Exprs => E}
import Fixtures._

/** The 22 TPC-H shapes built on the Frame surface, and the same 22
  * oracle texts run verbatim through `spark.sql` as `q_sql_tpch_qN`. */
private[graft] object TpchQueries {

  /** Exact decimal sum for computed products (price*(1-disc) has <= 4
    * decimal digits; 8 gives slack). */
  private def dsum8(c: Column): Column =
    sum(c.cast(DecimalType(28, 8))).cast("double")

  /** Q10/Q18 in the shared ANSI subset (same one-text-three-routes
    * contract as TpchQ3Sql). */
  private lazy val TpchQ10Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  private lazy val TpchQ18Sql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      |SELECT c_name, o_orderkey, sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN big ON o_orderkey = l_orderkey
      |ORDER BY sum_qty DESC, o_orderkey LIMIT 20""".stripMargin

  /** TPC-H Q3 shape in the ANSI subset BOTH engines parse: the Frame
    * query q_tpch_q3 compiles to this semantics, q_sql_tpch_q3 runs
    * this very string through spark.sql, and the driver runs it in
    * DuckDB as the oracle for both — one query text, three routes, one
    * answer. */
  private lazy val TpchQ3Sql: String =
    """SELECT l_orderkey,
      |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < '1998-06-01'
      |  AND l_shipdate > '1998-06-01'
      |GROUP BY l_orderkey
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q1 pricing summary, dialect-clean shared text (same
    * one-text-two-engines contract as [[TpchQ3Sql]]). */
  private lazy val TpchQ1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
      |    AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6 forecast-revenue-change, dialect-clean shared text. */
  private lazy val TpchQ6Sql: String =
    """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
      |    AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q12 shipping-priority counts, dialect-clean shared text
    * (INTERVAL arithmetic and ordinal GROUP BY parse identically in
    * Spark and DuckDB). */
  private lazy val TpchQ12Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |    OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
      |    AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 15 DAY
      |GROUP BY 1""".stripMargin

  private val frames: Seq[Query] = Seq(

    // ---- composite showpiece: TPC-H Q3 shape (3-way join + agg + topk) -
    Query("q_tpch_q3", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .filter(E.col("c_mktsegment") === E.lit("BUILDING"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")))
        .filter(Raw(col("o_orderdate") < lit("1998-06-01"), "cond"))
        .join(Frame(t(s, dir, "lineitem")), Seq(("o_orderkey", "l_orderkey")))
        .filter(Raw(col("l_shipdate") > lit("1998-06-01"), "cond"))
        .aggregate(Seq(E.col("l_orderkey")),
          Seq(Raw(dsum8r(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"), "revenue")))
        .sort((E.col("revenue"), false), (E.col("l_orderkey"), true))
        .limit(10).df
    },
      TpchQ3Sql),

    // ---- composite: TPC-H Q10 shape (returned-item revenue by customer) -
    Query("q_tpch_q10", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")))
        .join(Frame(t(s, dir, "lineitem")), Seq(("o_orderkey", "l_orderkey")))
        .filter(Raw(col("l_returnflag") === "R", "l_returnflag = 'R'"))
        .join(Frame(t(s, dir, "nation")), Seq(("c_nationkey", "n_nationkey")))
        .aggregate(Seq(E.col("c_custkey"), E.col("c_name"), E.col("n_name")),
          Seq(Raw(dsum8r(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"), "revenue")))
        .sort((E.col("revenue"), false), (E.col("c_custkey"), true))
        .limit(20).df
    },
      TpchQ10Sql),

    // ---- composite: TPC-H Q18 shape (large-volume orders) --------------
    // groupBy + HAVING subquery joined back — the "big order" cut
    Query("q_tpch_q18", (s, dir) => {
      val big = Frame(t(s, dir, "lineitem"))
        .aggregate(Seq(E.col("l_orderkey")),
          Seq(Raw(dsum(col("l_quantity")).as("sum_qty"), "sum_qty")))
        .filter(Raw(col("sum_qty") > 250, "sum_qty > 250"))
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")))
        .join(big, Seq(("o_orderkey", "l_orderkey")))
        .project(E.col("c_name"), E.col("o_orderkey"), E.col("sum_qty"))
        .sort((E.col("sum_qty"), false), (E.col("o_orderkey"), true))
        .limit(20).df
    },
      TpchQ18Sql),

    // ---- composite: TPC-H Q7 shape (volume shipping between nation
    // pairs) — the dual-dimension join: nation enters TWICE under
    // different roles, pre-projected to distinct names, plus a
    // disjunctive pair filter and a group-by-expression on the year
    Query("q_tpch_q7", (s, dir) => {
      val custNation = Frame(t(s, dir, "nation").select(
        col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
      val suppNation = Frame(t(s, dir, "nation").select(
        col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      Frame(t(s, dir, "lineitem"))
        .join(Frame(t(s, dir, "orders")), Seq(("l_orderkey", "o_orderkey")))
        .join(Frame(t(s, dir, "customer")), Seq(("o_custkey", "c_custkey")))
        .join(Frame(t(s, dir, "supplier")), Seq(("l_suppkey", "s_suppkey")))
        .join(custNation, Seq(("c_nationkey", "cnk")))
        .join(suppNation, Seq(("s_nationkey", "snk")))
        .filter(Raw(
          (col("cust_nation") === "NATION_1" && col("supp_nation") === "NATION_2") ||
          (col("cust_nation") === "NATION_2" && col("supp_nation") === "NATION_1"),
          "nation pair"))
        .aggregate(Seq(E.col("supp_nation"), E.col("cust_nation"),
            Raw(year(col("l_shipdate")).cast("long").as("l_year"), "l_year")),
          Seq(Raw(dsum8r(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"), "revenue")))
        .df
    },
      """SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3""".stripMargin),

    // ---- composite: TPC-H Q8 shape (market share): one nation's share
    // of a region's revenue for one part type, by year — conditional
    // aggregation divided by the total
    Query("q_tpch_q8", (s, dir) => {
      val suppNation = Frame(t(s, dir, "nation").select(
        col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Frame(t(s, dir, "lineitem"))
        .join(Frame(t(s, dir, "part")), Seq(("l_partkey", "p_partkey")))
        .filter(Raw(col("p_type") === "STANDARD", "type"))
        .join(Frame(t(s, dir, "orders")), Seq(("l_orderkey", "o_orderkey")))
        .join(Frame(t(s, dir, "customer")), Seq(("o_custkey", "c_custkey")))
        .join(Frame(t(s, dir, "nation")), Seq(("c_nationkey", "n_nationkey")))
        .join(Frame(t(s, dir, "region")), Seq(("n_regionkey", "r_regionkey")))
        .filter(Raw(col("r_name") === "ASIA", "asia"))
        .join(Frame(t(s, dir, "supplier")), Seq(("l_suppkey", "s_suppkey")))
        .join(suppNation, Seq(("s_nationkey", "snk")))
        .aggregate(Seq(Raw(year(col("o_orderdate")).cast("long")
            .as("o_year"), "o_year")),
          Seq(Raw(round(dsum8(when(col("supp_nation") === "NATION_3", vol)
              .otherwise(lit(0.0))) / dsum8(vol), 6).as("mkt_share"),
            "mkt_share")))
        .df
    },
      """SELECT year(o_orderdate) AS o_year,
        |  round(CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
        |      AS DECIMAL(28,8))) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(28,8))) AS DOUBLE), 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |GROUP BY 1""".stripMargin),

    // ---- composite: TPC-H Q19 shape (disjunction of conjunctive bands)
    // — an OR of brand/size/quantity envelopes over the part join; the
    // partial predicates still push into both scans
    Query("q_tpch_q19", (s, dir) =>
      Frame(t(s, dir, "lineitem"))
        .join(Frame(t(s, dir, "part")), Seq(("l_partkey", "p_partkey")))
        .filter(Raw(
          (col("p_brand") === "Brand#1" &&
            col("p_size").between(1, 15) &&
            col("l_quantity") >= 1 && col("l_quantity") <= 30) ||
          (col("p_brand") === "Brand#2" &&
            col("p_size").between(10, 30) &&
            col("l_quantity") >= 10 && col("l_quantity") <= 40),
          "q19 bands"))
        .aggregate(Seq.empty,
          Seq(Raw(dsum8r(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"), "revenue"),
            Raw(count(lit(1)).as("n_items"), "n_items")))
        .df,
      """SELECT
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 1 AND l_quantity <= 30)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity >= 10 AND l_quantity <= 40)""".stripMargin),

    // ---- composite: TPC-H Q22 shape (scalar subquery + anti join) ----
    // above-average-balance customers who never placed an URGENT order,
    // by nation: the global average enters as a broadcast 1-row cross
    // join, the "never placed" as an anti join (every sf0.01 customer
    // has SOME order, so the classic never-ordered cut would be empty)
    Query("q_tpch_q22", (s, dir) => {
      val avgBal = Frame(t(s, dir, "customer"))
        .filter(Raw(col("c_acctbal") > 0.0, "positive"))
        .aggregate(Seq.empty, Seq(Raw(
          (dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"),
          "avg_bal")))
      Frame(t(s, dir, "customer"))
        .joinOn(avgBal, Raw(lit(true), "cross"))
        .filter(Raw(col("c_acctbal") > col("avg_bal"), "rich"))
        .join(Frame(t(s, dir, "orders"))
            .filter(Raw(col("o_orderpriority") === "1-URGENT", "urgent")),
          Seq(("c_custkey", "o_custkey")), JoinType.Anti)
        .join(Frame(t(s, dir, "nation")), Seq(("c_nationkey", "n_nationkey")))
        .aggregate(Seq(E.col("n_name")),
          Seq(Raw(count(lit(1)).as("n_cust"), "n_cust"),
            Raw(dsum(col("c_acctbal")).as("total_bal"), "total_bal")))
        .df
    },
      """WITH a AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |           / count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0),
        |r AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer, a
        |  WHERE c_acctbal > a.avg_bal
        |    AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                          WHERE o_orderpriority = '1-URGENT'))
        |SELECT n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM r JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),

    // ---- composite: TPC-H Q4 shape (correlated EXISTS -> semi join) ----
    // orders with at least one late-shipping lineitem (shipped > 10 days
    // after the order date) counted by priority: the EXISTS decorrelates
    // to a LEFT SEMI theta-join — Catalyst hashes on the orderkey equality
    // and keeps the date range as a residual, and the right side never
    // materializes into the output
    Query("q_tpch_q4", (s, dir) =>
      Frame(t(s, dir, "orders"))
        .joinOn(Frame(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_shipdate"))),
          Raw(col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 10 DAYS"),
            "late_exists"), JoinType.Semi)
        .aggregate(Seq(E.col("o_orderpriority")),
          Seq(Raw(count(lit(1)).as("order_count"), "order_count"))).df,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 10 DAY)
        |GROUP BY o_orderpriority""".stripMargin),

    // ---- composite: TPC-H Q17 shape (scalar subquery -> two-pass agg) --
    // "small-quantity" line items: quantity below 20% of the part's own
    // average. The correlated scalar subquery decorrelates into a per-part
    // aggregate joined back (broadcast at this SF, shuffled hash at 100 TB
    // — both sides key on partkey). The predicate q < 0.2 * sum/cnt runs
    // as q * cnt * 5 < sum in exact decimals, so both engines compare
    // identically with no float-division drift.
    Query("q_tpch_q17", (s, dir) => {
      val partAvg = Frame(t(s, dir, "lineitem"))
        .aggregate(Seq(E.col("l_partkey")),
          Seq(Raw(count(lit(1)).as("cnt"), "cnt"),
            Raw(sum(col("l_quantity").cast(DecimalType(18, 2)))
              .as("sum_qty"), "sum_qty")))
        .project(Raw(col("l_partkey").as("pa_partkey"), "pa_partkey"),
          E.col("cnt"), E.col("sum_qty"))
      Frame(t(s, dir, "lineitem"))
        .join(Frame(t(s, dir, "part")), Seq(("l_partkey", "p_partkey")))
        .join(partAvg, Seq(("l_partkey", "pa_partkey")))
        .filter(Raw(col("l_quantity").cast(DecimalType(18, 2)) * col("cnt") * 5 <
          col("sum_qty"), "below_fifth_of_avg"))
        .aggregate(Seq(E.col("p_brand")),
          Seq(Raw(count(lit(1)).as("n_small"), "n_small"),
            Raw(dsum(col("l_extendedprice")).as("sum_extended"), "sum_extended"))).df
    },
      """WITH pa AS (
        |  SELECT l_partkey AS pa_partkey, count(*) AS cnt,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand, count(*) AS n_small,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_extended
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN pa ON pa_partkey = l_partkey
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * cnt * 5 < sum_qty
        |GROUP BY p_brand""".stripMargin),

    // ---- composite: TPC-H Q5 shape (6-table join, local-supplier rule) -
    Query("q_tpch_q5", (s, dir) => {
      Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders")), Seq(("c_custkey", "o_custkey")))
        .join(Frame(t(s, dir, "lineitem")), Seq(("o_orderkey", "l_orderkey")))
        .join(Frame(t(s, dir, "supplier")), Seq(("l_suppkey", "s_suppkey")))
        .filter(Raw(col("c_nationkey") === col("s_nationkey"), "local"))
        .join(Frame(t(s, dir, "nation")), Seq(("s_nationkey", "n_nationkey")))
        .join(Frame(t(s, dir, "region")), Seq(("n_regionkey", "r_regionkey")))
        .filter(Raw(col("r_name") === lit("ASIA"), "asia"))
        .aggregate(Seq(E.col("n_name")),
          Seq(Raw(dsum8r(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"), "revenue"),
            Raw(count(lit(1)).as("n_items"), "n_items")))
        .df
    },
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),

    // ---- composite: TPC-H Q6 shape (pure filter + conditional sum),
    // expressed on the engine surface like Q3/Q5 ----------------------
    Query("q_tpch_q6", (s, dir) =>
      Frame(t(s, dir, "lineitem"))
        .filter(Raw(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24, "q6_range"))
        .aggregate(Seq.empty,
          Seq(Raw(dsum8r(col("l_extendedprice") * col("l_discount"))
            .as("revenue"), "revenue"),
            Raw(count(lit(1)).as("n"), "n"))).df,
      TpchQ6Sql),

    // ---- composite: TPC-H Q14 shape (join + conditional revenue share) -
    Query("q_tpch_q14", (s, dir) => {
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Frame(t(s, dir, "lineitem"))
        .filter(Raw(col("l_shipdate") >= lit("1996-03-01") &&
          col("l_shipdate") < lit("1996-04-01"), "q14_month"))
        .join(Frame(t(s, dir, "part")), Seq(("l_partkey", "p_partkey")))
        .aggregate(Seq.empty,
          Seq(Raw(round(lit(100.0) *
            dsum8r(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0))) /
            dsum8r(disc), 4).as("promo_pct"), "promo_pct"),
            Raw(count(lit(1)).as("n"), "n"))).df
    },
      """SELECT round(100.0 *
        |    CAST(round(sum(CAST(CASE WHEN p_type = 'PROMO'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
        |      AS DECIMAL(28,8))), 2) AS DOUBLE) /
        |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(28,8))), 2) AS DOUBLE), 4) AS promo_pct,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'""".stripMargin),

    // ---- composite: TPC-H Q1 shape (pricing summary report) -----------
    // the canonical wide aggregate: 4 decimal-accumulated sums, 3
    // averages (exact-sum / count — one IEEE division, bit-exact on
    // both engines), one count, grouped on two low-cardinality keys.
    // Map-side partial agg reduces 600 k rows to 6 groups before the
    // (tiny) shuffle — the shape survives 100 TB unchanged.
    Query("q_tpch_q1", (s, dir) => {
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Frame(t(s, dir, "lineitem"))
        .filter(Raw(col("l_shipdate") <= lit("1998-09-01"), "cutoff"))
        .aggregate(Seq(E.col("l_returnflag"), E.col("l_linestatus")),
          Seq(Raw(dsum(col("l_quantity")).as("sum_qty"), "sum_qty"),
            Raw(dsum(col("l_extendedprice")).as("sum_base_price"), "sum_base_price"),
            Raw(dsum8r(disc).as("sum_disc_price"), "sum_disc_price"),
            Raw(dsum8r(disc * (lit(1.0) + col("l_tax"))).as("sum_charge"), "sum_charge"),
            Raw((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"), "avg_qty"),
            Raw((dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"), "avg_price"),
            Raw((dsum(col("l_discount")) / count(lit(1))).as("avg_disc"), "avg_disc"),
            Raw(count(lit(1)).as("count_order"), "count_order")))
        .df
    },
      TpchQ1Sql),

    // ---- composite: TPC-H Q2 shape (min-cost supplier per part) --------
    // the fixtures have no partsupp, so the part<->supplier relation is
    // derived from lineitem (distinct pairs — the natural stand-in); the
    // correlated MIN subquery decorrelates into a per-part aggregate
    // joined back, exactly like Q17's per-part average
    Query("q_tpch_q2", (s, dir) => {
      val link = Frame(t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct())
      val suppEur = Frame(t(s, dir, "supplier"))
        .join(Frame(t(s, dir, "nation")), Seq(("s_nationkey", "n_nationkey")))
        .join(Frame(t(s, dir, "region")), Seq(("n_regionkey", "r_regionkey")))
        .filter(Raw(col("r_name") === "EUROPE", "europe"))
      val cand = Frame(t(s, dir, "part"))
        .filter(Raw(col("p_size").between(10, 20) &&
          col("p_type") === "STANDARD", "part cut"))
        .join(link, Seq(("p_partkey", "l_partkey")))
        .join(suppEur, Seq(("l_suppkey", "s_suppkey")))
      val minBal = cand
        .aggregate(Seq(Raw(col("p_partkey").as("mb_partkey"), "mb_partkey")),
          Seq(Raw(min(col("s_acctbal")).as("min_bal"), "min_bal")))
      cand.join(minBal, Seq(("p_partkey", "mb_partkey")))
        .filter(Raw(col("s_acctbal") === col("min_bal"), "is_min"))
        .project(E.col("s_acctbal"), E.col("s_name"), E.col("n_name"),
          E.col("p_partkey"), E.col("p_brand"), E.col("l_suppkey"))
        .sort((E.col("s_acctbal"), false), (E.col("p_partkey"), true),
          (E.col("l_suppkey"), true))
        .limit(20).df
    },
      """WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |cand AS (
        |  SELECT p_partkey, p_brand, s_acctbal, s_name, n_name, l_suppkey
        |  FROM part
        |  JOIN link ON p_partkey = l_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
        |    AND r_name = 'EUROPE'),
        |mb AS (SELECT p_partkey AS mb_partkey, min(s_acctbal) AS min_bal
        |       FROM cand GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, l_suppkey
        |FROM cand JOIN mb ON p_partkey = mb_partkey
        |WHERE s_acctbal = min_bal
        |ORDER BY s_acctbal DESC, p_partkey, l_suppkey LIMIT 20""".stripMargin),

    // ---- composite: TPC-H Q9 shape (product-type profit by nation/year)
    // — no partsupp supplycost in the fixtures, so cost is modeled as
    // 10% of retail price x quantity; amount stays per-row double (both
    // engines run the identical IEEE expression) and the SUM goes
    // through the exact decimal accumulator
    Query("q_tpch_q9", (s, dir) => {
      val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        lit(0.1) * col("p_retailprice") * col("l_quantity")
      Frame(t(s, dir, "lineitem"))
        .join(Frame(t(s, dir, "part")), Seq(("l_partkey", "p_partkey")))
        .filter(Raw(col("p_name").contains("red"), "name cut"))
        .join(Frame(t(s, dir, "supplier")), Seq(("l_suppkey", "s_suppkey")))
        .join(Frame(t(s, dir, "orders")), Seq(("l_orderkey", "o_orderkey")))
        .join(Frame(t(s, dir, "nation")), Seq(("s_nationkey", "n_nationkey")))
        .aggregate(Seq(E.col("n_name"),
            Raw(year(col("o_orderdate")).cast("long").as("o_year"), "o_year")),
          Seq(Raw(dsum8r(amount).as("sum_profit"), "sum_profit")))
        .df
    },
      """SELECT n_name, year(o_orderdate) AS o_year,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |      - 0.1 * p_retailprice * l_quantity
        |    AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin),

    // ---- composite: TPC-H Q11 shape (important stock: HAVING vs a
    // scalar fraction of the global total) — per-part value within one
    // nation, kept when above 0.2% of that nation's total; the scalar
    // enters as a broadcast 1-row cross join
    Query("q_tpch_q11", (s, dir) => {
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val base = Frame(t(s, dir, "lineitem"))
        .join(Frame(t(s, dir, "supplier")), Seq(("l_suppkey", "s_suppkey")))
        .join(Frame(t(s, dir, "nation")), Seq(("s_nationkey", "n_nationkey")))
        .filter(Raw(col("n_name") === "NATION_1", "nation cut"))
      val perPart = base.aggregate(Seq(E.col("l_partkey")),
        Seq(Raw(dsum8r(disc).as("part_value"), "part_value")))
      val total = base.aggregate(Seq.empty,
        Seq(Raw((dsum8r(disc) * lit(0.002)).as("threshold"), "threshold")))
      perPart.joinOn(total, Raw(lit(true), "cross"))
        .filter(Raw(col("part_value") > col("threshold"), "important"))
        .project(E.col("l_partkey"), E.col("part_value"))
        .sort((E.col("part_value"), false), (E.col("l_partkey"), true))
        .limit(50).df
    },
      """WITH base AS (
        |  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS disc
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_1'),
        |pp AS (
        |  SELECT l_partkey, CAST(round(sum(CAST(disc AS DECIMAL(28,8))), 2)
        |    AS DOUBLE) AS part_value
        |  FROM base GROUP BY 1),
        |tot AS (
        |  SELECT CAST(round(sum(CAST(disc AS DECIMAL(28,8))), 2) AS DOUBLE)
        |    * 0.002 AS threshold
        |  FROM base)
        |SELECT l_partkey, part_value FROM pp CROSS JOIN tot
        |WHERE part_value > threshold
        |ORDER BY part_value DESC, l_partkey LIMIT 50""".stripMargin),

    // ---- composite: TPC-H Q12 shape (late-shipment priority split) -----
    // CASE-aggregation over a join with a date-arithmetic residual: the
    // fixtures lack l_shipmode/commitdate, so the mode group is the
    // returnflag and "late" is shipped >15 days after the order date
    Query("q_tpch_q12", (s, dir) =>
      Frame(t(s, dir, "orders"))
        .join(Frame(t(s, dir, "lineitem")), Seq(("o_orderkey", "l_orderkey")))
        .filter(Raw(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 15 DAYS"), "late"))
        .aggregate(Seq(E.col("l_returnflag")),
          Seq(Raw(sum(when(col("o_orderpriority") === "1-URGENT" ||
                col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
              .as("high_line_count"), "high_line_count"),
            Raw(sum(when(col("o_orderpriority") =!= "1-URGENT" &&
                col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
              .as("low_line_count"), "low_line_count")))
        .df,
      TpchQ12Sql),

    // ---- composite: TPC-H Q13 shape (customer order-count distribution)
    // — the double-aggregate: LEFT join keeps order-less customers (the
    // filtered right side makes some), count per customer, then the
    // distribution of those counts. Pure counts — exactness is free.
    Query("q_tpch_q13", (s, dir) => {
      val perCust = Frame(t(s, dir, "customer"))
        .join(Frame(t(s, dir, "orders"))
            .filter(Raw(col("o_orderpriority") =!= "1-URGENT", "not urgent")),
          Seq(("c_custkey", "o_custkey")), JoinType.Left)
        .aggregate(Seq(E.col("c_custkey")),
          Seq(Raw(count(col("o_orderkey")).as("c_count"), "c_count")))
      perCust.aggregate(Seq(E.col("c_count")),
          Seq(Raw(count(lit(1)).as("custdist"), "custdist")))
        .sort((E.col("custdist"), false), (E.col("c_count"), false))
        .df
    },
      """WITH pc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
        |    ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // ---- composite: TPC-H Q15 shape (top supplier by quarterly revenue)
    // — a MAX scalar subquery over an aggregate, joined back by exact
    // equality (both sides are the same rounded-decimal double, so the
    // comparison is bit-exact on both engines)
    Query("q_tpch_q15", (s, dir) => {
      val rev = Frame(t(s, dir, "lineitem"))
        .filter(Raw(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"), "quarter"))
        .aggregate(Seq(E.col("l_suppkey")),
          Seq(Raw(dsum8r(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("total_revenue"), "total_revenue")))
      val mx = rev.aggregate(Seq.empty,
        Seq(Raw(max(col("total_revenue")).as("max_rev"), "max_rev")))
      Frame(t(s, dir, "supplier"))
        .join(rev, Seq(("s_suppkey", "l_suppkey")))
        .joinOn(mx, Raw(lit(true), "cross"))
        .filter(Raw(col("total_revenue") === col("max_rev"), "is max"))
        .project(E.col("s_suppkey"), E.col("s_name"), E.col("total_revenue"))
        .sort((E.col("s_suppkey"), true))
        .df
    },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(total_revenue) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier
        |JOIN rev ON s_suppkey = l_suppkey
        |CROSS JOIN mx
        |WHERE total_revenue = max_rev
        |ORDER BY s_suppkey""".stripMargin),

    // ---- composite: TPC-H Q16 shape (supplier count by part attrs,
    // minus excluded suppliers) — the NOT IN decorrelates to an anti
    // join; the part<->supplier relation again derives from lineitem,
    // and "complaint" suppliers are the negative-balance ones
    Query("q_tpch_q16", (s, dir) => {
      val link = Frame(t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct())
      val bad = Frame(t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0.0)
        .select(col("s_suppkey").as("bad_suppkey")))
      Frame(t(s, dir, "part"))
        .filter(Raw(col("p_brand") =!= "Brand#1" &&
          col("p_size").between(1, 25), "part cut"))
        .join(link, Seq(("p_partkey", "l_partkey")))
        .join(bad, Seq(("l_suppkey", "bad_suppkey")), JoinType.Anti)
        .aggregate(Seq(E.col("p_brand"), E.col("p_type"), E.col("p_size")),
          Seq(Raw(countDistinct(col("l_suppkey")).as("supplier_cnt"),
            "supplier_cnt")))
        .df
    },
      """WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM part JOIN link ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size BETWEEN 1 AND 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin),

    // ---- composite: TPC-H Q20 shape (nested-IN chain -> semi joins) ----
    // suppliers in one nation who shipped a meaningful volume of the
    // selected parts in one year: part-IN and supplier-IN both run as
    // LEFT SEMI hash joins, the heavy-shipper cut as a HAVING
    Query("q_tpch_q20", (s, dir) => {
      val redParts = Frame(t(s, dir, "part")
        .filter(col("p_name").startsWith("red"))
        .select(col("p_partkey")))
      val heavy = Frame(t(s, dir, "lineitem"))
        .filter(Raw(year(col("l_shipdate")) === 1996, "year cut"))
        .join(redParts, Seq(("l_partkey", "p_partkey")), JoinType.Semi)
        .aggregate(Seq(E.col("l_suppkey")),
          Seq(Raw(dsum(col("l_quantity")).as("ship_qty"), "ship_qty")))
        .filter(Raw(col("ship_qty") > 50.0, "heavy"))
      Frame(t(s, dir, "supplier"))
        .join(heavy, Seq(("s_suppkey", "l_suppkey")), JoinType.Semi)
        .join(Frame(t(s, dir, "nation")), Seq(("s_nationkey", "n_nationkey")))
        .filter(Raw(col("n_name") === "NATION_2", "nation cut"))
        .project(E.col("s_suppkey"), E.col("s_name"))
        .sort((E.col("s_suppkey"), true))
        .df
    },
      """WITH heavy AS (
        |  SELECT l_suppkey
        |  FROM lineitem
        |  WHERE year(l_shipdate) = 1996
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'red%')
        |  GROUP BY l_suppkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 50.0)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_2'
        |  AND s_suppkey IN (SELECT l_suppkey FROM heavy)
        |ORDER BY s_suppkey""".stripMargin),

    // ---- composite: TPC-H Q21 shape (EXISTS + NOT EXISTS on the same
    // table under different predicates) — suppliers who were the sole
    // late shipper on a finished multi-supplier order: the EXISTS is a
    // LEFT SEMI theta-join, the NOT EXISTS a LEFT ANTI, both hashed on
    // the orderkey equality with the supplier inequality as residual.
    // "Late" is shipped >20 days after the order date (the fixtures
    // carry no commit/receipt dates).
    Query("q_tpch_q21", (s, dir) => {
      val late = col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 20 DAYS")
      // round 15: the late-on-F lineitem ⋈ orders subtree is consumed
      // TWICE (the probe side and the NOT-EXISTS side) — previously as
      // two separate scans+joins. One explicit l_orderkey exchange lets
      // both consumers reuse a single build (the r11 shared-exchange
      // rule): lineitem is scanned twice total (late-F + the EXISTS
      // side) instead of three times, orders once instead of twice,
      // and the anti join's two sides sort over the SAME exchange.
      // Projected to the two columns every consumer needs before the
      // exchange (guide §2.3 — project before the exchange).
      val lateF = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(col("o_orderstatus") === "F" && late)
        .select(col("l_orderkey"), col("l_suppkey"))
        .repartition(col("l_orderkey"))
      val l1 = Frame(lateF)
      val others = Frame(t(s, dir, "lineitem").select(
        col("l_orderkey").as("o2_orderkey"), col("l_suppkey").as("o2_suppkey")))
      val lateOthers = Frame(lateF
        .select(col("l_orderkey").as("o3_orderkey"),
          col("l_suppkey").as("o3_suppkey")))
      l1.joinOn(others, Raw(col("l_orderkey") === col("o2_orderkey") &&
          col("l_suppkey") =!= col("o2_suppkey"), "other supplier"),
          JoinType.Semi)
        .joinOn(lateOthers, Raw(col("l_orderkey") === col("o3_orderkey") &&
          col("l_suppkey") =!= col("o3_suppkey"), "no other late"),
          JoinType.Anti)
        .join(Frame(t(s, dir, "supplier")), Seq(("l_suppkey", "s_suppkey")))
        .join(Frame(t(s, dir, "nation")), Seq(("s_nationkey", "n_nationkey")))
        .filter(Raw(col("n_name") === "NATION_1", "nation cut"))
        .aggregate(Seq(E.col("s_name")),
          Seq(Raw(count(lit(1)).as("numwait"), "numwait")))
        .sort((E.col("numwait"), false), (E.col("s_name"), true))
        .limit(20).df
    },
      """WITH l1 AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 20 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM l1
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_1'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l1 l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
  )

  /** SQL frontend portability: the ORACLE TEXT runs verbatim. Every
    * TPC-H oracle string is written in the ANSI subset BOTH engines
    * parse, so each runs as (a) a spark.sql query here, (b) the DuckDB
    * oracle, and (c) semantically the Frame-built q_tpch_qN — one query
    * text, two engines, three routes, one answer. SqlPortabilitySpec
    * pins text-vs-Frame result equality for every query. */
  val queries: Seq[Query] = frames ++ frames.map { q =>
    Query(q.name.replace("q_tpch_", "q_sql_tpch_"), (s, dir) => {
      Catalog.forTestdata(s, dir)
      s.sql(q.oracle)
    }, q.oracle)
  }
}
