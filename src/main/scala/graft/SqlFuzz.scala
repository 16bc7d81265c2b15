package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seed-pinned random pure-SELECT generator for differential-testing
  * [[SqlGate]]'s POSITIVE surface (what must pass). The gate's negative
  * surface (what must be rejected) is pinned by SqlGateSpec; its positive
  * surface was previously pinned by one driver query (q66) plus a handful
  * of unit cases — this generator produces hundreds of random
  * projection/filter/join/aggregate/set-op/CTE/subquery plans over the
  * fixture tables, each carried in two additional independent forms:
  *
  *  - `twin`: the same query built structurally through the DataFrame
  *    API — a parser-free path through Catalyst. Gate-accepted SQL must
  *    produce bit-identical rows (SqlGateFuzzSpec).
  *  - the SQL itself doubles as a DuckDB oracle: every generated string
  *    is deliberately dual-dialect ANSI (no Spark-isms like `DIV` or
  *    backticks; `CAST(COUNT/SUM AS BIGINT)` so DuckDB's HUGEINT
  *    matches Spark's long; no float aggregation — MIN/MAX on doubles
  *    only, which is exact). `graft.FuzzVerify` dumps each result to
  *    parquet + the SQL to oracle_sql.json in the driver's format, so
  *    `scripts/check.py` hash-compares the whole corpus cross-engine.
  *
  * Determinism: every case derives from ONE `scala.util.Random(seed)`
  * consumed sequentially, so `cases(n)` is a prefix of `cases(m)` for
  * n < m and a reported failure reproduces by name alone. Result
  * determinism: no LIMIT without total order (none at all), no float
  * SUM/AVG, fixture tables carry no NULLs in the referenced columns.
  */
object SqlFuzz {

  final case class FuzzCase(name: String, sql: String,
                            twin: (SparkSession, String) => DataFrame)

  // ---------------------------------------------------------------- //
  // fixture catalog: columns by kind + plausible literal ranges       //
  // (ranges only steer selectivity; empty results are still compared) //
  // ---------------------------------------------------------------- //
  private final case class Tbl(name: String,
                               ints: Seq[String], strs: Seq[String],
                               dbls: Seq[String], tss: Seq[String],
                               load: (SparkSession, String) => DataFrame)

  private val tbls = Seq(
    Tbl("region", Seq("r_regionkey"), Seq("r_name"), Nil, Nil, Tables.region),
    Tbl("nation", Seq("n_nationkey", "n_regionkey"), Seq("n_name"), Nil, Nil,
      Tables.nation),
    Tbl("customer", Seq("c_custkey", "c_nationkey"),
      Seq("c_name", "c_mktsegment"), Seq("c_acctbal"), Nil, Tables.customer),
    Tbl("supplier", Seq("s_suppkey", "s_nationkey"), Seq("s_name"),
      Seq("s_acctbal"), Nil, Tables.supplier),
    Tbl("part", Seq("p_partkey", "p_size"), Seq("p_name", "p_brand", "p_type"),
      Seq("p_retailprice"), Nil, Tables.part),
    Tbl("orders", Seq("o_orderkey", "o_custkey"),
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"),
      Seq("o_orderdate"), Tables.orders),
    Tbl("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
      Seq("l_shipdate"), Tables.lineitem))

  private val intRange: Map[String, (Int, Int)] = Map(
    "r_regionkey" -> (0, 5), "n_nationkey" -> (0, 25), "n_regionkey" -> (0, 5),
    "c_custkey" -> (1, 1500), "c_nationkey" -> (0, 25),
    "s_suppkey" -> (1, 100), "s_nationkey" -> (0, 25),
    "p_partkey" -> (1, 2000), "p_size" -> (1, 51),
    "o_orderkey" -> (1, 15000), "o_custkey" -> (1, 1500),
    "l_orderkey" -> (1, 15000), "l_partkey" -> (1, 2000),
    "l_suppkey" -> (1, 100), "l_linenumber" -> (1, 8))

  // integer literals for double columns: dual-dialect and exact
  private val dblRange: Map[String, (Int, Int)] = Map(
    "c_acctbal" -> (-900, 9000), "s_acctbal" -> (-900, 9000),
    "p_retailprice" -> (900, 2100), "o_totalprice" -> (1000, 400000),
    "l_quantity" -> (1, 50), "l_extendedprice" -> (900, 100000),
    "l_discount" -> (0, 1), "l_tax" -> (0, 1))

  // (left, right, leftKey, rightKey) equi-join pairs of the star schema
  private val joins = Seq(
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("nation", "region", "n_regionkey", "r_regionkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"))

  private def tbl(name: String): Tbl = tbls.find(_.name == name).get

  // unique key per table — window ORDER BY needs a TOTAL order for the
  // result to be deterministic cross-engine
  private val pks: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))

  // ---------------------------------------------------------------- //
  // predicate generation: (sql, Column) from the same draws            //
  // ---------------------------------------------------------------- //
  private final case class Pred(sql: String, c: Column)

  private def intPred(r: Random, cn: String): Pred = {
    val (lo, hi) = intRange(cn)
    r.nextInt(4) match {
      case 0 =>
        val v = lo + r.nextInt(hi - lo)
        val op = Seq("<", "<=", ">", ">=", "=", "<>")(r.nextInt(6))
        Pred(s"$cn $op $v", op match {
          case "<" => col(cn) < v;   case "<=" => col(cn) <= v
          case ">" => col(cn) > v;   case ">=" => col(cn) >= v
          case "=" => col(cn) === v; case _ => col(cn) =!= v
        })
      case 1 =>
        val vs = Seq.fill(2 + r.nextInt(3))(lo + r.nextInt(hi - lo)).distinct
        Pred(s"$cn IN (${vs.mkString(", ")})", col(cn).isin(vs: _*))
      case 2 =>
        val a = lo + r.nextInt(hi - lo); val b = a + 1 + r.nextInt(hi - lo)
        Pred(s"$cn BETWEEN $a AND $b", col(cn).between(a, b))
      case _ =>
        val m = 2 + r.nextInt(9); val v = r.nextInt(m)
        // % has identical nonnegative-operand semantics in both dialects
        Pred(s"$cn % $m = $v", col(cn) % m === v)
    }
  }

  private def strPred(r: Random, cn: String): Pred = {
    val ch = ('A' + r.nextInt(26)).toChar
    r.nextInt(3) match {
      case 0 => Pred(s"$cn LIKE '$ch%'", col(cn).like(s"$ch%"))
      case 1 => Pred(s"$cn NOT LIKE '$ch%'", !col(cn).like(s"$ch%"))
      case _ =>
        val op = if (r.nextBoolean()) "<" else ">="
        Pred(s"$cn $op '$ch'",
          if (op == "<") col(cn) < s"$ch" else col(cn) >= s"$ch")
    }
  }

  private def dblPred(r: Random, cn: String): Pred = {
    val (lo, hi) = dblRange(cn)
    val v = lo + r.nextInt(math.max(1, hi - lo))
    val op = Seq("<", "<=", ">", ">=")(r.nextInt(4))
    Pred(s"$cn $op $v", op match {
      case "<" => col(cn) < v; case "<=" => col(cn) <= v
      case ">" => col(cn) > v; case _ => col(cn) >= v
    })
  }

  private def tsPred(r: Random, cn: String): Pred = {
    val d = f"${1992 + r.nextInt(7)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
    val lit = s"$d 00:00:00"
    val op = if (r.nextBoolean()) "<" else ">="
    // to_timestamp parses in the session time zone (UTC in every graft
    // entry point) — the same rule Spark applies to a TIMESTAMP literal
    Pred(s"$cn $op TIMESTAMP '$lit'",
      if (op == "<") col(cn) < to_timestamp(org.apache.spark.sql.functions.lit(lit))
      else col(cn) >= to_timestamp(org.apache.spark.sql.functions.lit(lit)))
  }

  private def pred1(r: Random, t: Tbl): Pred = {
    val pool =
      t.ints.map(c => () => intPred(r, c)) ++
        t.strs.map(c => () => strPred(r, c)) ++
        t.dbls.map(c => () => dblPred(r, c)) ++
        t.tss.map(c => () => tsPred(r, c))
    pool(r.nextInt(pool.size))()
  }

  /** 1–2 terms joined by AND/OR, parenthesized for precedence safety. */
  private def predicate(r: Random, t: Tbl): Pred = {
    val a = pred1(r, t)
    if (r.nextInt(3) == 0) {
      val b = pred1(r, t)
      if (r.nextBoolean()) Pred(s"(${a.sql}) AND (${b.sql})", a.c && b.c)
      else Pred(s"(${a.sql}) OR (${b.sql})", a.c || b.c)
    } else a
  }

  // ---------------------------------------------------------------- //
  // aggregate generation                                               //
  // ---------------------------------------------------------------- //
  private final case class Aggs(sqls: Seq[String], cols: Seq[Column])

  /** COUNT(*) always; plus 0–2 of SUM(int)/MIN/MAX over sampled columns.
    * Sums CAST to BIGINT on both paths (DuckDB sums to HUGEINT). */
  private def aggs(r: Random, pool: Tbl*): Aggs = {
    var sqls = Seq("CAST(COUNT(*) AS BIGINT) AS cnt")
    var cols = Seq(count(lit(1)).as("cnt"))
    val allInts = pool.flatMap(_.ints)
    val allAny = pool.flatMap(t => t.ints ++ t.strs ++ t.dbls ++ t.tss)
    if (r.nextBoolean()) {
      val c = allInts(r.nextInt(allInts.size))
      sqls :+= s"CAST(SUM($c) AS BIGINT) AS sum_$c"
      cols :+= sum(col(c)).cast("long").as(s"sum_$c")
    }
    if (r.nextBoolean()) {
      val c = allAny(r.nextInt(allAny.size))
      if (r.nextBoolean()) {
        sqls :+= s"MIN($c) AS mn_$c"; cols :+= min(col(c)).as(s"mn_$c")
      } else {
        sqls :+= s"MAX($c) AS mx_$c"; cols :+= max(col(c)).as(s"mx_$c")
      }
    }
    Aggs(sqls, cols)
  }

  private def groupCols(r: Random, t: Tbl): Seq[String] = {
    val pool = t.ints ++ t.strs
    r.shuffle(pool).take(1 + r.nextInt(2))
  }

  // ---------------------------------------------------------------- //
  // shapes                                                             //
  // ---------------------------------------------------------------- //
  private def shapeFilterProject(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val t = tbls(r.nextInt(tbls.size))
    val proj = r.shuffle(t.ints ++ t.strs ++ t.dbls ++ t.tss).take(1 + r.nextInt(3))
    val p = predicate(r, t)
    (s"SELECT ${proj.mkString(", ")} FROM ${t.name} WHERE ${p.sql}",
      (s, d) => t.load(s, d).filter(p.c).select(proj.map(col): _*))
  }

  private def shapeAgg(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val t = tbls(r.nextInt(tbls.size))
    val g = groupCols(r, t)
    val a = aggs(r, t)
    val where = if (r.nextBoolean()) Some(predicate(r, t)) else None
    val having = if (r.nextInt(3) == 0) Some(1 + r.nextInt(4)) else None
    val sql = s"SELECT ${(g ++ a.sqls).mkString(", ")} FROM ${t.name}" +
      where.map(w => s" WHERE ${w.sql}").getOrElse("") +
      s" GROUP BY ${g.mkString(", ")}" +
      having.map(h => s" HAVING COUNT(*) > $h").getOrElse("")
    (sql, (s, d) => {
      var df = t.load(s, d)
      where.foreach(w => df = df.filter(w.c))
      var out = df.groupBy(g.map(col): _*).agg(a.cols.head, a.cols.tail: _*)
      having.foreach(h => out = out.filter(col("cnt") > h))
      out
    })
  }

  private def shapeJoinAgg(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val (ln, rn, lk, rk) = joins(r.nextInt(joins.size))
    val (lt, rt) = (tbl(ln), tbl(rn))
    val g = groupCols(r, if (r.nextBoolean()) lt else rt)
    val a = aggs(r, lt, rt)
    val where = if (r.nextBoolean())
      Some(predicate(r, if (r.nextBoolean()) lt else rt)) else None
    val sql = s"SELECT ${(g ++ a.sqls).mkString(", ")} FROM $ln JOIN $rn ON $lk = $rk" +
      where.map(w => s" WHERE ${w.sql}").getOrElse("") +
      s" GROUP BY ${g.mkString(", ")}"
    (sql, (s, d) => {
      var df = lt.load(s, d).join(rt.load(s, d), col(lk) === col(rk))
      where.foreach(w => df = df.filter(w.c))
      df.groupBy(g.map(col): _*).agg(a.cols.head, a.cols.tail: _*)
    })
  }

  /** Three-table chain through nation: customer|supplier → nation → region. */
  private def shapeStarAgg(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val (fn, fk) = if (r.nextBoolean()) ("customer", "c_nationkey")
                   else ("supplier", "s_nationkey")
    val ft = tbl(fn)
    val a = aggs(r, ft, tbl("nation"), tbl("region"))
    val where = if (r.nextBoolean()) Some(predicate(r, ft)) else None
    val sql = s"SELECT r_name, ${a.sqls.mkString(", ")} FROM $fn " +
      s"JOIN nation ON $fk = n_nationkey JOIN region ON n_regionkey = r_regionkey" +
      where.map(w => s" WHERE ${w.sql}").getOrElse("") + " GROUP BY r_name"
    (sql, (s, d) => {
      var df = ft.load(s, d)
        .join(Tables.nation(s, d), col(fk) === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      where.foreach(w => df = df.filter(w.c))
      df.groupBy(col("r_name")).agg(a.cols.head, a.cols.tail: _*)
    })
  }

  private def shapeDistinct(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val t = tbls(r.nextInt(tbls.size))
    val proj = r.shuffle(t.ints ++ t.strs).take(1 + r.nextInt(2))
    val where = if (r.nextBoolean()) Some(predicate(r, t)) else None
    val sql = s"SELECT DISTINCT ${proj.mkString(", ")} FROM ${t.name}" +
      where.map(w => s" WHERE ${w.sql}").getOrElse("")
    (sql, (s, d) => {
      var df = t.load(s, d)
      where.foreach(w => df = df.filter(w.c))
      df.select(proj.map(col): _*).distinct()
    })
  }

  private def shapeInSubquery(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val (ln, rn, lk, rk) = joins(r.nextInt(joins.size))
    val (lt, rt) = (tbl(ln), tbl(rn))
    val proj = r.shuffle(lt.ints ++ lt.strs).take(1 + r.nextInt(2))
    val p = predicate(r, rt)
    val sql = s"SELECT ${proj.mkString(", ")} FROM $ln WHERE $lk IN " +
      s"(SELECT $rk FROM $rn WHERE ${p.sql})"
    (sql, (s, d) => lt.load(s, d)
      .join(rt.load(s, d).filter(p.c).select(col(rk)),
        col(lk) === col(rk), "left_semi")
      .select(proj.map(col): _*))
  }

  private def shapeUnionAll(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val t = tbls(r.nextInt(tbls.size))
    val proj = r.shuffle(t.ints ++ t.strs).take(1 + r.nextInt(2))
    val (p1, p2) = (predicate(r, t), predicate(r, t))
    val sql = s"SELECT ${proj.mkString(", ")} FROM ${t.name} WHERE ${p1.sql} " +
      s"UNION ALL SELECT ${proj.mkString(", ")} FROM ${t.name} WHERE ${p2.sql}"
    (sql, (s, d) => {
      val base = t.load(s, d)
      base.filter(p1.c).select(proj.map(col): _*)
        .unionAll(base.filter(p2.c).select(proj.map(col): _*))
    })
  }

  /** CTE wrapping an aggregate, filtered downstream on the agg output. */
  private def shapeCte(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val t = tbls(r.nextInt(tbls.size))
    val g = groupCols(r, t)
    val a = aggs(r, t)
    val k = 1 + r.nextInt(4)
    val sql = s"WITH w AS (SELECT ${(g ++ a.sqls).mkString(", ")} " +
      s"FROM ${t.name} GROUP BY ${g.mkString(", ")}) " +
      s"SELECT * FROM w WHERE cnt > $k"
    (sql, (s, d) => t.load(s, d)
      .groupBy(g.map(col): _*).agg(a.cols.head, a.cols.tail: _*)
      .filter(col("cnt") > k))
  }

  private def shapeGlobalCount(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val t = tbls(r.nextInt(tbls.size))
    val p = predicate(r, t)
    (s"SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM ${t.name} WHERE ${p.sql}",
      (s, d) => t.load(s, d).filter(p.c).agg(count(lit(1)).as("cnt")))
  }

  // ---- r15 grammar extension: the SqlGate surface the r14 verdict ----
  // ---- named — window functions, grouping sets (ROLLUP/CUBE), the ----
  // ---- lexically-scoped nested-CTE path, and an allow-listed TVF  ----

  /** ROW_NUMBER/RANK/running-SUM over a deterministic window: partition
    * by a non-key column, order by the table's unique key (total order,
    * so RANGE ≡ ROWS and ranks are cross-engine stable). Everything
    * CAST BIGINT — Spark types rank functions INT, DuckDB BIGINT. */
  private def shapeWindow(r: Random): (String, (SparkSession, String) => DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val t = tbls(r.nextInt(tbls.size))
    val pk = pks(t.name)
    val pool = (t.ints ++ t.strs).filterNot(pk.contains)
    val pcol = pool(r.nextInt(pool.size))
    val where = if (r.nextBoolean()) Some(predicate(r, t)) else None
    val (fnSql, fnCol): (String, Column) = r.nextInt(3) match {
      case 0 => ("ROW_NUMBER()", row_number())
      case 1 => ("RANK()", rank())
      case _ =>
        val ic = t.ints(r.nextInt(t.ints.size))
        (s"SUM($ic)", sum(col(ic)))
    }
    val over = s"OVER (PARTITION BY $pcol ORDER BY ${pk.mkString(", ")})"
    val proj = pk :+ pcol
    val sql = s"SELECT ${proj.mkString(", ")}, " +
      s"CAST($fnSql $over AS BIGINT) AS wv FROM ${t.name}" +
      where.map(w => s" WHERE ${w.sql}").getOrElse("")
    (sql, (s, d) => {
      var df = t.load(s, d)
      where.foreach(w => df = df.filter(w.c))
      val w = Window.partitionBy(col(pcol)).orderBy(pk.map(col): _*)
      df.select(proj.map(col) :+
        fnCol.over(w).cast("long").as("wv"): _*)
    })
  }

  /** GROUP BY ROLLUP/CUBE — parses into Aggregate-with-grouping-sets,
    * the gate path plain GROUP BY never reaches. Group columns are
    * NULL-free in the fixtures, so grouping nulls are unambiguous —
    * and each is COALESCEd to a typed sentinel on BOTH sides (the repo
    * convention for driver-gated outputs: no NULLs in result frames,
    * the same reason frontDoorOracle coalesces its match ids). */
  private def shapeRollup(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val t = tbls(r.nextInt(tbls.size))
    val g = groupCols(r, t)
    val a = aggs(r, t)
    val cube = r.nextBoolean()
    val kw = if (cube) "CUBE" else "ROLLUP"
    def sentSql(c: String) = if (t.ints.contains(c)) "-1" else "'<all>'"
    val gSel = g.map(c => s"COALESCE($c, ${sentSql(c)}) AS $c")
    val sql = s"SELECT ${(gSel ++ a.sqls).mkString(", ")} FROM ${t.name} " +
      s"GROUP BY $kw (${g.mkString(", ")})"
    (sql, (s, d) => {
      val df = t.load(s, d)
      val gb = if (cube) df.cube(g.map(col): _*) else df.rollup(g.map(col): _*)
      val ag = gb.agg(a.cols.head, a.cols.tail: _*)
      ag.select(ag.columns.toIndexedSeq.map { c =>
        if (g.contains(c))
          coalesce(col(c),
            if (t.ints.contains(c)) lit(-1) else lit("<all>")).as(c)
        else col(c)
      }: _*)
    })
  }

  /** Chained CTEs: w2 reads w1 — the visible-set threading of the
    * gate's lexical-scope check. */
  private def shapeCteChain(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val t = tbls(r.nextInt(tbls.size))
    val p = predicate(r, t)
    val g = groupCols(r, t)
    val a = aggs(r, t)
    val k = 1 + r.nextInt(4)
    val sql = s"WITH w1 AS (SELECT * FROM ${t.name} WHERE ${p.sql}), " +
      s"w2 AS (SELECT ${(g ++ a.sqls).mkString(", ")} FROM w1 " +
      s"GROUP BY ${g.mkString(", ")}) SELECT * FROM w2 WHERE cnt > $k"
    (sql, (s, d) => t.load(s, d).filter(p.c)
      .groupBy(g.map(col): _*).agg(a.cols.head, a.cols.tail: _*)
      .filter(col("cnt") > k))
  }

  /** A WITH nested INSIDE a CTE body — the inner name is visible only
    * lexically inside the outer body, exactly the scoping path the
    * gate's firstBadRelation walks. */
  private def shapeCteNested(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val t = tbls(r.nextInt(tbls.size))
    val proj = r.shuffle(t.ints ++ t.strs).take(1 + r.nextInt(2))
    val (p1, p2) = (predicate(r, t), predicate(r, t))
    val sql = s"WITH outer_w AS (WITH inner_w AS " +
      s"(SELECT * FROM ${t.name} WHERE ${p1.sql}) " +
      s"SELECT ${proj.mkString(", ")} FROM inner_w WHERE ${p2.sql}) " +
      s"SELECT * FROM outer_w"
    (sql, (s, d) => t.load(s, d).filter(p1.c).filter(p2.c)
      .select(proj.map(col): _*))
  }

  /** The allow-listed range() TVF with a column-alias list — the
    * UnresolvedTableValuedFunction + UnresolvedTVFAliases node pair,
    * by generated name instead of the one pinned unit case. Both
    * dialects take range(start, stop) as [start, stop). */
  private def shapeTvf(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val lo = r.nextInt(50)
    val hi = lo + 1 + r.nextInt(300)
    val m = 2 + r.nextInt(7)
    val v = r.nextInt(m)
    val sql = s"SELECT CAST(COUNT(*) AS BIGINT) AS cnt, " +
      s"CAST(SUM(x) AS BIGINT) AS sm " +
      s"FROM range($lo, $hi) t(x) WHERE x % $m = $v"
    (sql, (s, _) => s.range(lo, hi).toDF("x")
      .filter(col("x") % m === v)
      .agg(count(lit(1)).as("cnt"), sum(col("x")).cast("long").as("sm")))
  }

  // ---- r16 grammar extension: the two Analyzer paths the r15 corpus
  // ---- never drove — a window computed OVER A JOIN RESULT, and a
  // ---- HAVING whose aggregate is NOT in the SELECT list (the
  // ---- UnresolvedHaving resolution path; shapeAgg's HAVING reuses a
  // ---- projected alias, which resolves differently)

  /** Window over a join result: every `joins` pair is fact → dim (the
    * dim key is its primary key), so the fact table's unique key stays
    * unique in the join result — ordering by it keeps the window's
    * total order and cross-engine-stable ranks. Partition column drawn
    * from the DIM side so the window genuinely spans the join. */
  private def shapeJoinWindow(r: Random): (String, (SparkSession, String) => DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val (ln, rn, lk, rk) = joins(r.nextInt(joins.size))
    val (lt, rt) = (tbl(ln), tbl(rn))
    val pk = pks(ln)
    val pool = (rt.ints ++ rt.strs).filterNot(_ == rk)
    val pcol = pool(r.nextInt(pool.size))
    val where = if (r.nextBoolean())
      Some(predicate(r, if (r.nextBoolean()) lt else rt)) else None
    val (fnSql, fnCol): (String, Column) = r.nextInt(3) match {
      case 0 => ("ROW_NUMBER()", row_number())
      case 1 => ("RANK()", rank())
      case _ =>
        val ic = lt.ints(r.nextInt(lt.ints.size))
        (s"SUM($ic)", sum(col(ic)))
    }
    val over = s"OVER (PARTITION BY $pcol ORDER BY ${pk.mkString(", ")})"
    val proj = pk :+ pcol
    val sql = s"SELECT ${proj.mkString(", ")}, " +
      s"CAST($fnSql $over AS BIGINT) AS wv FROM $ln JOIN $rn ON $lk = $rk" +
      where.map(w => s" WHERE ${w.sql}").getOrElse("")
    (sql, (s, d) => {
      var df = lt.load(s, d).join(rt.load(s, d), col(lk) === col(rk))
      where.foreach(w => df = df.filter(w.c))
      val w = Window.partitionBy(col(pcol)).orderBy(pk.map(col): _*)
      df.select(proj.map(col) :+ fnCol.over(w).cast("long").as("wv"): _*)
    })
  }

  /** HAVING over a join aggregate where the HAVING aggregate is NOT
    * projected — Spark parses this as UnresolvedHaving and resolves the
    * extra aggregate into the Aggregate below it, a path a projected
    * alias (shapeAgg's `HAVING COUNT(*)`) never reaches. The twin
    * computes the hidden aggregate explicitly and drops it. */
  private def shapeJoinHaving(r: Random): (String, (SparkSession, String) => DataFrame) = {
    val (ln, rn, lk, rk) = joins(r.nextInt(joins.size))
    val (lt, rt) = (tbl(ln), tbl(rn))
    val g = groupCols(r, if (r.nextBoolean()) lt else rt)
    val a = aggs(r, lt, rt)
    val hv = lt.ints(r.nextInt(lt.ints.size))
    val v = r.nextInt(100000)
    val where = if (r.nextBoolean())
      Some(predicate(r, if (r.nextBoolean()) lt else rt)) else None
    val sql = s"SELECT ${(g ++ a.sqls).mkString(", ")} " +
      s"FROM $ln JOIN $rn ON $lk = $rk" +
      where.map(w => s" WHERE ${w.sql}").getOrElse("") +
      s" GROUP BY ${g.mkString(", ")}" +
      s" HAVING CAST(SUM($hv) AS BIGINT) > $v"
    (sql, (s, d) => {
      var df = lt.load(s, d).join(rt.load(s, d), col(lk) === col(rk))
      where.foreach(w => df = df.filter(w.c))
      df.groupBy(g.map(col): _*)
        .agg(a.cols.head,
          a.cols.tail :+ sum(col(hv)).cast("long").as("_hv"): _*)
        .filter(col("_hv") > v)
        .drop("_hv")
    })
  }

  private val shapes: Seq[Random => (String, (SparkSession, String) => DataFrame)] =
    Seq(shapeFilterProject, shapeAgg, shapeJoinAgg, shapeStarAgg,
      shapeDistinct, shapeInSubquery, shapeUnionAll, shapeCte,
      shapeGlobalCount,
      shapeWindow, shapeRollup, shapeCteChain, shapeCteNested, shapeTvf,
      shapeJoinWindow, shapeJoinHaving)

  /** The pinned corpus: `n` cases from one sequentially-consumed RNG —
    * cases(n) is always a prefix of cases(m > n). */
  def cases(n: Int, seed: Long = 20260813L): Seq[FuzzCase] = {
    val r = new Random(seed)
    (0 until n).map { i =>
      val (sql, twin) = shapes(r.nextInt(shapes.size))(r)
      FuzzCase(f"fuzz_q$i%03d", sql, twin)
    }
  }
}

/** Dumps the fuzz corpus in the driver's Verify format — each
  * gate-submitted result to `outDir/<name>/`, the SQL itself (dual-
  * dialect by construction) to `outDir/oracle_sql.json` — so
  * `scripts/check.py <sfDir> <outDir>` hash-compares every generated
  * query against DuckDB. Usage: `runMain graft.FuzzVerify <sfDir> <outDir> [n]`. */
object FuzzVerify {
  import operators.GenerationStore.jsonQuote

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 300
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val corpus = SqlFuzz.cases(n)
    corpus.foreach { c =>
      SqlGate.submit(spark, sfDir, c.sql).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/${c.name}")
    }
    val json = corpus.map(c => s"${jsonQuote(c.name)}: ${jsonQuote(c.sql)}")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[fuzz] wrote $n gate-submitted results to $outDir")
    spark.stop()
  }
}
