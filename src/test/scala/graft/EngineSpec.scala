package graft

import org.apache.spark.sql.functions.{col => sc, sum => ssum}
import org.apache.spark.sql.types._
import graft.engine.{Catalog, Frame, JoinType, Raw}
import graft.engine.{Exprs => E}

/** Parity-surface tests mirroring the reference engine's per-operator unit
  * tests (reference files cited per test). */
class EngineSpec extends SparkSpec {

  private def people = new Catalog(spark)
    .addCsvTable("people", s"$dataDir/people.csv").table("people")
  private def payroll = new Catalog(spark)
    .addCsvTable("payroll", s"$dataDir/payroll.csv").table("payroll")

  // reference: csv_table.rs:84-106 (schema inference: names/types)
  test("csv schema inference") {
    val sch = people.df.schema
    assert(sch.fieldNames.toSeq == Seq("id", "name", "age", "score"))
    assert(sch("id").dataType == IntegerType)
    assert(sch("name").dataType == StringType)
    assert(sch("age").dataType == IntegerType)
    assert(sch("score").dataType == DoubleType)
  }

  // reference: data_frame.rs:120-152 + selection.rs:119-168 (canonical
  // scan -> filter -> project)
  test("scan -> filter -> project") {
    val rows = people.filter(E.col("age") >= E.lit(24))
      .project(E.col("name"), E.col("score"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(("bob", 79.25), ("carol", 93.0),
      ("erin", 88.0), ("frank", 70.5)))
  }

  // reference: projection.rs:79-120 (column + arithmetic expr)
  test("projection with arithmetic expression") {
    val rows = people
      .project(E.col("id"), (E.col("score") * E.lit(2.0)).as("dbl"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    assert(rows.head == (1, 175.0))
    assert(rows.length == 6)
  }

  // reference: binary.rs:87-185 (all 13 ops)
  test("all 13 binary operators evaluate") {
    val f = people.project(
      (E.col("age") === E.lit(24)).as("eq"),
      (E.col("age") =!= E.lit(24)).as("neq"),
      (E.col("age") > E.lit(24)).as("gt"),
      (E.col("age") >= E.lit(24)).as("gte"),
      (E.col("age") < E.lit(24)).as("lt"),
      (E.col("age") <= E.lit(24)).as("lte"),
      ((E.col("age") >= E.lit(21)) && (E.col("age") <= E.lit(27))).as("and"),
      ((E.col("age") < E.lit(20)) || (E.col("age") > E.lit(28))).as("or"),
      (E.col("age") + E.lit(1)).as("add"),
      (E.col("age") - E.lit(1)).as("sub"),
      (E.col("age") * E.lit(2)).as("mul"),
      (E.col("score") / E.lit(2.0)).as("div"),
      (E.col("age") % E.lit(5)).as("mod"))
    val r = f.df.where(sc("eq")).collect()
    assert(r.length == 2) // bob, frank (age 24)
    val bob = f.df.collect().head
    assert(f.df.columns.toSeq == Seq("eq", "neq", "gt", "gte", "lt", "lte",
      "and", "or", "add", "sub", "mul", "div", "mod"))
    assert(!bob.anyNull)
  }

  // reference: logical_expr.rs:137-143 (declared scalar fns), implemented
  // via Spark built-ins
  test("scalar functions CONCAT SUBSTRING ABS SQRT POWER") {
    val r = people.filter(E.col("id") === E.lit(1))
      .project(
        E.concat(E.col("name"), E.lit("!")).as("c"),
        E.substring(E.col("name"), E.lit(1), E.lit(3)).as("s"),
        E.abs(E.col("score") - E.lit(100.0)).as("a"),
        E.sqrt(E.lit(16.0)).as("q"),
        E.power(E.lit(2.0), E.lit(10.0)).as("p"))
      .collect().head
    assert(r.getString(0) == "alice!")
    assert(r.getString(1) == "ali")
    assert(math.abs(r.getDouble(2) - 12.5) < 1e-12)
    assert(r.getDouble(3) == 4.0)
    assert(r.getDouble(4) == 1024.0)
  }

  // reference: aggr/mod.rs:102-245 (grouped, all 5 agg fns)
  test("grouped aggregation with all five agg functions") {
    val rows = payroll.aggregate(
      Seq(E.col("dept")),
      Seq(E.sum(E.col("salary")), E.min(E.col("salary")),
        E.max(E.col("salary")), E.avg(E.col("salary")),
        E.count(E.col("salary"))))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("eng", 13400.0, 3900.0, 5300.0, 13400.0 / 3, 3L),
      ("ops", 2800.0, 2800.0, 2800.0, 2800.0, 1L),
      ("sales", 6700.0, 3100.0, 3600.0, 3350.0, 2L)))
    // reference-style auto-names (logical_expr.rs:176-191)
    assert(payroll.aggregate(Seq(E.col("dept")), Seq(E.sum(E.col("salary"))))
      .df.columns.toSeq == Seq("dept", "SUM(salary)"))
  }

  // reference: aggr/mod.rs:125-144 (global aggregate)
  test("global aggregation") {
    val r = payroll.aggregate(Seq.empty,
      Seq(E.sum(E.col("salary")), E.count(E.col("id")))).collect().head
    assert(r.getDouble(0) == 22900.0)
    assert(r.getLong(1) == 6L)
  }

  // reference: aggr/mod.rs:264-296 — the reference's own aggregation test
  // (group by age<=24, MAX/MIN/COUNT/AVG/SUM of score) is PRINT-ONLY
  // there; here the same query shape is asserted on values.
  test("group by computed expression with all five aggregates") {
    val rows = people.aggregate(
      Seq((E.col("age") <= E.lit(24)).as("young")),
      Seq(E.max(E.col("score")), E.min(E.col("score")),
        E.count(E.col("score")), E.avg(E.col("score")),
        E.sum(E.col("score"))))
      .collect().map(r => (r.getBoolean(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    // young group: alice 87.5, bob 79.25, dave 61.75, frank 70.5
    val ySum = 87.5 + 79.25 + 61.75 + 70.5
    // old group: carol 93.0, erin 88.0
    assert(rows(0) == (false, 93.0, 88.0, 2L, 90.5, 181.0))
    assert(rows(1) == (true, 87.5, 61.75, 4L, ySum / 4, ySum))
  }

  // reference: nested_loop_join.rs:201-248 — multi-key join, but with
  // CORRECT SQL semantics (the reference zips matched rows positionally)
  test("multi-key inner join") {
    val joined = people.join(payroll,
      Seq(("id", "id"), ("name", "name")))
    assert(joined.count() == 6)
    val twoKey = people.join(payroll, Seq(("id", "id"), ("name", "name")))
      .filter(E.col("dept") === E.lit("eng"))
    assert(twoKey.count() == 3)
  }

  test("self-join of the SAME cached catalog frame on different keys") {
    // Catalog.table returns the same DataFrame instance each call; the
    // alias-based join condition must survive the shared lineage
    val c = new Catalog(spark).addCsvTable("pp", s"$dataDir/people.csv")
    val joined = c.table("pp").join(c.table("pp"), Seq(("id", "age")))
    // ids 21,24,27,30 don't exist; ages 1..6 don't exist -> match where
    // left.id == right.age: no overlap (ids 1-6, ages 18-30) -> 0 rows
    assert(joined.count() == 0)
    val same = c.table("pp").join(c.table("pp"), Seq(("id", "id")))
    assert(same.count() == 6)
  }

  test("left and right outer joins keep unmatched rows") {
    val extra = Frame(payroll.df.where(sc("dept") === "eng"))
    val l = people.join(extra, Seq(("id", "id")), JoinType.Left)
    assert(l.count() == 6) // all people kept
    assert(l.df.where(sc("dept").isNull).count() == 3)
    val r = extra.join(people, Seq(("id", "id")), JoinType.Right)
    assert(r.count() == 6)
    assert(r.df.where(sc("dept").isNull).count() == 3)
  }

  test("join requires at least one key pair") {
    intercept[IllegalArgumentException] {
      people.join(payroll, Seq.empty)
    }
  }

  // extension surface: semi / anti / full-outer
  test("semi, anti and full-outer joins") {
    val eng = Frame(payroll.df.where(sc("dept") === "eng"))
    val semi = people.join(eng, Seq(("id", "id")), JoinType.Semi)
    assert(semi.count() == 3)
    // semi/anti return ONLY left columns (SQL existence-join semantics)
    assert(semi.df.columns.toSeq == people.df.columns.toSeq)
    val anti = people.join(eng, Seq(("id", "id")), JoinType.Anti)
    assert(anti.count() == 3)
    assert(semi.df.select("id").collect().map(_.getInt(0)).toSet
      .intersect(anti.df.select("id").collect().map(_.getInt(0)).toSet).isEmpty)
    // full outer keeps unmatched rows from BOTH sides
    val left = Frame(people.df.where(sc("id") <= 4))   // ids 1..4
    val right = Frame(payroll.df.where(sc("id") >= 3)) // ids 3..6
    val full = left.join(right, Seq(("id", "id")), JoinType.FullOuter)
    assert(full.count() == 6) // 2 matched + 2 left-only + 2 right-only
    assert(full.df.where(sc("dept").isNull).count() == 2)
    assert(full.df.where(sc("age").isNull).count() == 2)
  }

  test("write facade round-trips parquet") {
    val dir = tempDir("graft_write").toString
    val out = s"$dir/people_out"
    people.filter(E.col("age") >= E.lit(24)).write(out)
    val back = spark.read.parquet(out)
    assert(back.count() == 4)
    assert(back.columns.toSeq == people.df.columns.toSeq)
    // partitioned layout: hive-style dirs, partition column round-trips
    val pOut = s"$dir/payroll_by_dept"
    payroll.write(pOut, partitionBy = Seq("dept"))
    assert(new java.io.File(pOut).listFiles().exists(_.getName.startsWith("dept=")))
    val pruned = spark.read.parquet(pOut).where(sc("dept") === "eng")
    assert(pruned.count() == 3)
  }

  test("corpus-analysis facades wire through to the ops layer") {
    import spark.implicits._
    val docs = Frame(Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "beta gamma gamma delta")).toDF("doc_id", "text"))
    assert(docs.tfidfTopTerms(k = 2).count() == 4) // 2 docs x top-2
    assert(docs.collocations(minCount = 1, k = 3).count() == 3)
    val dup = Frame(Seq(
      (1L, "a b c d e f g h"), (2L, "z a b c d e f g h")).toDF("doc_id", "text"))
    assert(dup.repeatedSpans(minLen = 8).count() == 1)
    val vals = Frame((1 to 10).map(_.toDouble).toDF("v"))
    val d = vals.drift(vals, "v", 5, 0.0, 10.0)
    assert(d.count() == 5 &&
      d.df.selectExpr("max(abs(psi_contrib))").as[Double].head() == 0.0)
  }

  test("event/graph-analytics facades wire through to the ops layer") {
    import spark.implicits._
    val ev = Frame(Seq((1L, 10L, 1.0), (1L, 11L, 2.0), (2L, 10L, 3.0))
      .toDF("user_id", "b", "value"))
    assert(ev.cohortRetention("user_id", E.col("b")).count() == 2)
    assert(ev.rollingZscore("user_id", Seq(E.col("b")), "value",
      lookback = 2, minPeriods = 2).count() == 0) // nobody has 2 history rows
    val dupStats = Frame(Seq(
      (1L, "a b c d e f g h"), (2L, "z a b c d e f g h"))
      .toDF("doc_id", "text")).duplicatedTokenStats(minLen = 8)
    assert(dupStats.count() == 2)
    val edges = Frame(Seq(("a", "b"), ("b", "c"), ("a", "c"))
      .toDF("src", "dst"))
    assert(edges.pageRank("src", "dst", 2).count() == 3)
    assert(edges.degrees("src", "dst").count() == 3)
    assert(edges.triangles("src", "dst").count() == 1)
  }

  test("unary operators: not, negate, null checks") {
    val r = people.filter(!(E.col("age") >= E.lit(24)))
    assert(r.count() == 2) // alice(21), dave(18)
    val n = people.project((-E.col("score")).as("neg"),
      E.col("name").isNull.as("nn"), E.col("name").isNotNull.as("nnn"))
      .collect().head
    assert(n.getDouble(0) < 0 && !n.getBoolean(1) && n.getBoolean(2))
  }

  // extension surface: sort/limit/distinct/union
  test("sort limit distinct union") {
    val top2 = people.sort((E.col("score"), false)).limit(2)
      .collect().map(_.getAs[String]("name"))
    assert(top2.toSeq == Seq("carol", "erin"))
    assert(people.project(E.col("age")).distinct().count() == 5)
    val u = people.project(E.col("id"))
      .union(people.project(E.col("id"))).distinct()
    assert(u.count() == 6)
  }

  test("rollup and cube emit their grouping-set combinations") {
    import spark.implicits._
    val d = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 3L)).toDF("k1", "k2", "v")
    val groups = Seq(E.col("k1"), E.col("k2"))
    val aggs = Seq(E.sum(E.col("v")).as("s"))
    // rollup: (k1,k2), (k1), (): 3 + 2 + 1 rows
    assert(Frame(d).rollup(groups, aggs).count() == 6)
    // cube adds the (k2) set: 3 + 2 + 2 + 1 rows
    val c = Frame(d).cube(groups, aggs).df
    assert(c.count() == 8)
    val total = c.where(sc("k1").isNull && sc("k2").isNull)
      .select("s").as[Long].head()
    assert(total == 6L)
  }

  test("pivot widens one column per explicit value") {
    import spark.implicits._
    val d = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 3L)).toDF("k", "p", "v")
    val r = Frame(d).pivot(Seq(E.col("k")), "p", Seq("x", "y"),
      Seq(Raw(ssum(sc("v")), "s"))).df
    assert(r.columns.toSeq == Seq("k", "x", "y"))
    val m = r.as[(String, Option[Long], Option[Long])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(m("a") == ((Some(1L), Some(2L))))
    assert(m("b") == ((Some(3L), None)))
  }

  test("explode emits one positioned row per array element") {
    import spark.implicits._
    val d = Seq((7L, "a b c")).toDF("id", "s")
    val r = Frame(d).explode(
        Raw(org.apache.spark.sql.functions.split(sc("s"), " "), "arr"),
        "pos", "w", Seq(E.col("id")))
      .df.as[(Long, Int, String)].collect().toSeq
    assert(r == Seq((7L, 0, "a"), (7L, 1, "b"), (7L, 2, "c")))
  }

  test("window appends rank/lag/running-sum analytics over one spec") {
    import spark.implicits._
    val d = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L), ("b", 1L, 5L))
      .toDF("k", "t", "v")
    val r = Frame(d).window(Seq(E.col("k")), Seq((E.col("t"), true)),
        Seq(("row_number", E.lit(1), "rn"), ("lag", E.col("v"), "prev"),
          ("sum", E.col("v"), "running")))
      .df.orderBy(sc("k"), sc("t"))
      .as[(String, Long, Long, Int, Option[Long], Long)].collect().toSeq
    assert(r == Seq(
      ("a", 1L, 10L, 1, None, 10L),
      ("a", 2L, 20L, 2, Some(10L), 30L),
      ("a", 3L, 30L, 3, Some(20L), 60L),
      ("b", 1L, 5L, 1, None, 5L)))
    intercept[IllegalArgumentException] {
      Frame(d).window(Seq(E.col("k")), Seq((E.col("t"), true)),
        Seq(("median", E.col("v"), "m")))
    }
  }

  // reference: logical_plan.rs:113-204 (plan inspection)
  test("explain surfaces the optimized plan") {
    val e = people.filter(E.col("age") >= E.lit(24))
      .project(E.col("name")).explain()
    assert(e.contains("Parsed Logical Plan") || e.contains("== Physical Plan =="))
  }

  test("json and orc sources register and read back") {
    val tmp = tempDir("graft-src")
    val json = tmp.resolve("t.jsonl")
    java.nio.file.Files.writeString(json,
      """{"id":1,"name":"a"}
        |{"id":2,"name":"b"}
        |""".stripMargin)
    val orcDir = tmp.resolve("orc").toString
    payroll.df.write.mode("overwrite").orc(orcDir)
    val c = new Catalog(spark)
      .addJsonTable("jt", json.toString)
      .addOrcTable("ot", orcDir)
    assert(c.table("jt").count() == 2)
    assert(c.table("jt").df.schema.fieldNames.sorted.toSeq == Seq("id", "name"))
    assert(c.table("ot").count() == 6)
    assert(c.table("ot").df.schema.fieldNames.contains("salary"))
  }

  test("catalog registers and looks up by name; missing table throws") {
    val c = new Catalog(spark).addCsvTable("p2", s"$dataDir/people.csv")
    assert(c.tableNames.contains("p2"))
    assert(c.getTableDf("p2").count() == 6)
    intercept[NoSuchElementException] { c.table("nope") }
    // temp view published -> SQL frontend works
    assert(spark.sql("SELECT count(*) AS n FROM p2").collect().head.getLong(0) == 6)
  }

  // SURVEY §4.3 items 4-5: the reference leaks MIN/MAX/SUM init sentinels
  // (i64::MAX etc.) on empty input and drops null group keys; this engine
  // deliberately keeps SQL semantics instead.
  test("empty-input aggregates yield SQL NULLs, not sentinels; null keys group") {
    val empty = Frame(payroll.df.where(sc("salary") < 0))
    val r = empty.aggregate(Seq.empty,
      Seq(E.sum(E.col("salary")), E.min(E.col("salary")),
        E.max(E.col("salary")), E.avg(E.col("salary")),
        E.count(E.col("salary")))).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    assert(r.getLong(4) == 0L)
    // null group keys form a group (the reference drops them)
    import spark.implicits._
    val withNull = Seq((Some("a"), 1), (None, 2), (None, 3))
      .toDF("k", "v")
    val g = Frame(withNull).aggregate(Seq(E.col("k")), Seq(E.sum(E.col("v"))))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(g == Set((Some("a"), 1L), (None, 5L)))
  }

  test("decimal-sum helper semantics match plain sum on 2-decimal data") {
    val df = payroll.df
    val a = df.agg(ssum(sc("salary").cast(DecimalType(18, 2))).cast("double")).collect().head.getDouble(0)
    assert(a == 22900.0)
  }

  test("null-safe equality truth table: never NULL, NULLs match each other") {
    import spark.implicits._
    val df = Seq((Option(1), Option(1)), (Option(1), Option(2)),
      (Option.empty[Int], Option(1)), (Option.empty[Int], Option.empty[Int]))
      .toDF("a", "b")
    val r = Frame(df)
      .project((E.col("a") <=> E.col("b")).as("eq")).df
      .as[Boolean].collect().toSeq
    assert(r == Seq(true, false, false, true))
    // contrast: plain === is NULL-propagating on the same rows
    val plain = Frame(df).project(Raw(sc("a") === sc("b"), "eq")).df
      .collect().map(x => if (x.isNullAt(0)) None else Some(x.getBoolean(0)))
    assert(plain.toSeq == Seq(Some(true), Some(false), None, None))
  }

  test("exceptAll / intersectAll keep multiset occurrence counts") {
    import spark.implicits._
    val l = Frame(Seq(1, 1, 1, 2, 3).toDF("x")) // 1x3, 2x1, 3x1
    val r = Frame(Seq(1, 2, 2).toDF("x"))       // 1x1, 2x2
    val ex = l.exceptAll(r).df.as[Int].collect().sorted.toSeq
    assert(ex == Seq(1, 1, 3))                  // max(m-n,0): 1x2, 3x1
    val in = l.intersectAll(r).df.as[Int].collect().sorted.toSeq
    assert(in == Seq(1, 2))                     // min(m,n): 1x1, 2x1
    // distinct forms collapse counts — the two semantics must differ
    assert(l.except(r).df.as[Int].collect().sorted.toSeq == Seq(3))
    assert(l.intersect(r).df.as[Int].collect().sorted.toSeq == Seq(1, 2))
  }
}
