package graft.queries

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic cross-engine query fuzzing: a seeded generator emits
  * random (filter ∘ groupBy ∘ agg ∘ orderBy) queries over a restricted
  * bit-exact grammar, each as BOTH a DataFrame program and the mirrored
  * DuckDB SQL — so the oracle gate checks randomized grammar coverage,
  * not only hand-written queries. Seed is fixed (names/shapes stable
  * across runs and rounds; the driver's hash compare requires it).
  *
  * Grammar kept inside the determinism contract on purpose:
  *  - predicates on integer/decimal/categorical columns only
  *  - aggregates: count(*), count(DISTINCT key), min/max, and sums of
  *    per-element-rounded cents (exact BIGINTs — no float accumulation)
  *  - always ≥1 group key, total ORDER BY on the keys
  * Every instance is a partial+final hash aggregate over a pruned scan —
  * the fuzz grammar deliberately generates only shapes that scale.
  */
object FuzzQueries {

  private case class Col(name: String, kind: String) // kind: cat | int | money

  private val tables: Map[String, (Seq[Col], Seq[(String, String)])] = Map(
    // table -> (columns usable as keys/aggs, predicate pool (sql, sql))
    "lineitem" -> (Seq(
      Col("l_returnflag", "cat"), Col("l_linestatus", "cat"),
      Col("l_linenumber", "int"), Col("l_quantity", "int"),
      Col("l_extendedprice", "money"), Col("l_orderkey", "int")),
      Seq(
        "l_quantity >= 25" -> "l_quantity >= 25",
        "l_returnflag = 'R'" -> "l_returnflag = 'R'",
        "l_linenumber <= 3" -> "l_linenumber <= 3",
        "l_discount >= 0.05" -> "l_discount >= 0.05",
        "l_shipdate < TIMESTAMP '1999-01-01 00:00:00'" ->
          "l_shipdate < TIMESTAMP '1999-01-01 00:00:00'")),
    "orders" -> (Seq(
      Col("o_orderstatus", "cat"), Col("o_orderpriority", "cat"),
      Col("o_totalprice", "money"), Col("o_custkey", "int"),
      Col("o_orderkey", "int")),
      Seq(
        "o_orderstatus = 'F'" -> "o_orderstatus = 'F'",
        "o_totalprice < 150000" -> "o_totalprice < 150000",
        "o_orderpriority = '1-URGENT'" -> "o_orderpriority = '1-URGENT'",
        "o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'" ->
          "o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'")),
    "customer" -> (Seq(
      Col("c_mktsegment", "cat"), Col("c_nationkey", "int"),
      Col("c_acctbal", "money"), Col("c_custkey", "int")),
      Seq(
        "c_mktsegment = 'BUILDING'" -> "c_mktsegment = 'BUILDING'",
        "c_acctbal >= 0" -> "c_acctbal >= 0",
        "c_nationkey < 13" -> "c_nationkey < 13")))

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  /** One generated query: both representations built from ONE random
    * choice structure, so they cannot drift apart. */
  private def gen(r: Random, idx: Int): Q = {
    val tableName = pick(r, tables.keys.toSeq.sorted)
    val (cols, predPool) = tables(tableName)
    val preds = r.shuffle(predPool).take(r.nextInt(3)) // 0..2 conjuncts
    val keyCands = cols.filter(c => c.kind == "cat" ||
      (c.kind == "int" && Set("l_linenumber", "c_nationkey").contains(c.name)))
    val keys = r.shuffle(keyCands).take(1 + r.nextInt(2)).map(_.name) // 1..2 keys
    val moneyCols = cols.filter(_.kind == "money").map(_.name)
    val intCols = cols.filter(_.kind == "int").map(_.name)
    // 1..3 aggregates; names fixed by position so schemas are stable
    val nAggs = 1 + r.nextInt(3)
    val aggChoices = (0 until nAggs).map { i =>
      (r.nextInt(4) match {
        case 0 => ("cnt", count(lit(1)), "count(*)")
        case 1 =>
          val m = pick(r, moneyCols)
          (s"sum_cents_$i", sum(Q.cents(col(m))),
            s"CAST(sum(CAST(round($m * 100) AS BIGINT)) AS BIGINT)")
        case 2 =>
          // round BEFORE the long cast on both engines: l_quantity is a
          // (whole-valued) DOUBLE, and Spark's cast truncates while
          // DuckDB's rounds — an explicit round keeps them aligned even
          // if a non-integral value ever appears
          val c = pick(r, intCols)
          if (r.nextBoolean()) (s"min_$i", round(min(col(c))).cast("long"),
            s"CAST(round(min($c)) AS BIGINT)")
          else (s"max_$i", round(max(col(c))).cast("long"),
            s"CAST(round(max($c)) AS BIGINT)")
        case 3 =>
          val c = pick(r, intCols)
          (s"nd_$i", countDistinct(col(c)), s"count(DISTINCT $c)")
      })
    }
    // de-dup output names (two count(*) picks would collide)
    val aggs = aggChoices.zipWithIndex.map { case ((n, c, s), i) =>
      val name = if (aggChoices.take(i).exists(_._1 == n)) s"${n}_$i" else n
      (name, c, s)
    }

    new Q {
      val name = f"q_fuzz_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val base = Tables.table(spark, dir, tableName)
        val filtered = preds.foldLeft(base)((d, p) => d.where(expr(p._1)))
        filtered.groupBy(keys.map(col): _*)
          .agg(aggs.head._2.as(aggs.head._1),
            aggs.tail.map(a => a._2.as(a._1)): _*)
          .orderBy(keys.map(col): _*)
      }
      val oracle = Some {
        val where = if (preds.isEmpty) "" else preds.map(_._2).mkString("WHERE ", " AND ", "")
        val aggSql = aggs.map(a => s"${a._3} AS ${a._1}").mkString(", ")
        val keySql = keys.mkString(", ")
        s"""SELECT $keySql, $aggSql
           |FROM $tableName $where
           |GROUP BY $keySql ORDER BY $keySql""".stripMargin
      }
    }
  }

  /** Join-grammar instances: each fact joins its natural dimension
    * (broadcast-sized), with keys and predicates drawn from BOTH sides —
    * fuzzing the equi-join + aggregate shape, which is where engines
    * disagree most (join dedup, null handling, pre/post-join filter
    * placement). */
  private case class JoinArm(dim: String, factKey: String, dimKey: String,
                             dimKeys: Seq[String], dimPreds: Seq[String])

  private val joinArms: Map[String, JoinArm] = Map(
    "lineitem" -> JoinArm("part", "l_partkey", "p_partkey",
      Seq("p_brand", "p_type"), Seq("p_size <= 25", "p_type = 'PROMO'")),
    "orders" -> JoinArm("customer", "o_custkey", "c_custkey",
      Seq("c_mktsegment"), Seq("c_acctbal >= 0", "c_nationkey < 13")),
    "customer" -> JoinArm("nation", "c_nationkey", "n_nationkey",
      Seq("n_name"), Seq("n_regionkey <= 2")))

  private def genJoin(r: Random, idx: Int): Q = {
    val tableName = pick(r, tables.keys.toSeq.sorted)
    val (cols, factPredPool) = tables(tableName)
    val arm = joinArms(tableName)
    val factPreds = r.shuffle(factPredPool).take(r.nextInt(2)).map(_._1)
    val dimPreds = r.shuffle(arm.dimPreds).take(r.nextInt(2))
    // at least one key from the dim side — the join must matter
    val factKeyCands = cols.filter(_.kind == "cat").map(_.name)
    val keys = (r.shuffle(arm.dimKeys).take(1) ++
      r.shuffle(factKeyCands).take(r.nextInt(2))).distinct
    val moneyCols = cols.filter(_.kind == "money").map(_.name)
    val nAggs = 1 + r.nextInt(2)
    val aggs = (0 until nAggs).map { i =>
      if (r.nextBoolean()) (s"cnt_$i", count(lit(1)), "count(*)")
      else {
        val m = pick(r, moneyCols)
        (s"sum_cents_$i", sum(Q.cents(col(m))),
          s"CAST(sum(CAST(round($m * 100) AS BIGINT)) AS BIGINT)")
      }
    }

    new Q {
      val name = f"q_fuzzj_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val fact = factPreds.foldLeft(Tables.table(spark, dir, tableName))(
          (d, p) => d.where(expr(p)))
        val dim = dimPreds.foldLeft(Tables.table(spark, dir, arm.dim))(
          (d, p) => d.where(expr(p)))
        fact.join(dim, col(arm.factKey) === col(arm.dimKey))
          .groupBy(keys.map(col): _*)
          .agg(aggs.head._2.as(aggs.head._1),
            aggs.tail.map(a => a._2.as(a._1)): _*)
          .orderBy(keys.map(col): _*)
      }
      val oracle = Some {
        val allPreds = factPreds ++ dimPreds
        val where = if (allPreds.isEmpty) "" else allPreds.mkString("WHERE ", " AND ", "")
        val aggSql = aggs.map(a => s"${a._3} AS ${a._1}").mkString(", ")
        val keySql = keys.mkString(", ")
        s"""SELECT $keySql, $aggSql
           |FROM $tableName JOIN ${arm.dim} ON ${arm.factKey} = ${arm.dimKey}
           |$where
           |GROUP BY $keySql ORDER BY $keySql""".stripMargin
      }
    }
  }

  /** Window-grammar instances over `orders`: ranking/offset/running
    * aggregates, always ordered within the partition by the UNIQUE
    * o_orderkey (ties are what make window results engine-dependent; a
    * unique order key keeps every function bit-deterministic). */
  private def genWindow(r: Random, idx: Int): Q = {
    val partCol = pick(r, Seq("o_orderstatus", "o_orderpriority"))
    val windowSql = s"PARTITION BY $partCol ORDER BY o_orderkey"
    val nFns = 1 + r.nextInt(3)
    val fnChoices = (0 until nFns).map { i =>
      r.nextInt(4) match {
        case 0 => (s"rn_$i",
          row_number(), s"row_number() OVER ($windowSql)")
        case 1 => (s"lag_$i",
          lag(col("o_orderkey"), 1), s"lag(o_orderkey, 1) OVER ($windowSql)")
        case 2 => (s"lead_$i",
          lead(col("o_orderkey"), 1), s"lead(o_orderkey, 1) OVER ($windowSql)")
        // The windowed sum is CAST back to BIGINT on the oracle side:
        // DuckDB's sum(BIGINT) widens to HUGEINT (int128), which is
        // value-equal but hashes differently at the comparison edge.
        case 3 => (s"run_$i",
          sum(Q.cents(col("o_totalprice"))),
          s"CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER " +
            s"($windowSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)")
      }
    }
    val pred = pick(r, Seq(
      "o_totalprice < 120000", "o_orderstatus = 'F'",
      "o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'"))

    new Q {
      val name = f"q_fuzzw_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(partCol).orderBy("o_orderkey")
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val base = Tables.orders(spark, dir).where(expr(pred))
        val withFns = fnChoices.foldLeft(
          base.select(col("o_orderkey"), col(partCol), col("o_totalprice"))) {
            case (d, (n, c, _)) =>
              val applied = if (n.startsWith("run_")) c.over(wRun) else c.over(w)
              // rank columns go out as BIGINT to match DuckDB's row_number
              d.withColumn(n, if (n.startsWith("rn_")) applied.cast("long") else applied)
          }
        withFns
          .select((Seq(col("o_orderkey"), col(partCol)) ++
            fnChoices.map(f => col(f._1))): _*)
          .orderBy("o_orderkey")
      }
      val oracle = Some {
        val fnSql = fnChoices.map(f => s"${f._3} AS ${f._1}").mkString(", ")
        s"""SELECT o_orderkey, $partCol, $fnSql
           |FROM orders WHERE $pred
           |ORDER BY o_orderkey""".stripMargin
      }
    }
  }

  /** Top-k instances: ORDER BY <money> DESC with the unique key as the
    * tie-break, LIMIT k — must always plan TakeOrderedAndProject (never a
    * global sort; the fuzz spec asserts it on every instance). */
  private def genTopK(r: Random, idx: Int): Q = {
    val (tableName, moneyCol, keyCol) = pick(r, Seq(
      ("orders", "o_totalprice", "o_orderkey"),
      ("lineitem", "l_extendedprice", "l_orderkey"),
      ("customer", "c_acctbal", "c_custkey")))
    val k = 5 + r.nextInt(20)
    val (_, predPool) = tables(tableName)
    val preds = r.shuffle(predPool).take(r.nextInt(2)).map(_._1)

    new Q {
      val name = f"q_fuzzt_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val base = preds.foldLeft(Tables.table(spark, dir, tableName))(
          (d, p) => d.where(expr(p)))
        base.select(col(keyCol), Q.cents(col(moneyCol)).as("money_cents"))
          .orderBy(col("money_cents").desc, col(keyCol))
          .limit(k)
      }
      val oracle = Some {
        val where = if (preds.isEmpty) "" else preds.mkString("WHERE ", " AND ", "")
        s"""SELECT $keyCol, CAST(round($moneyCol * 100) AS BIGINT) AS money_cents
           |FROM $tableName $where
           |ORDER BY money_cents DESC, $keyCol LIMIT $k""".stripMargin
      }
    }
  }

  /** Multi-dimensional-aggregate grammar: ROLLUP / CUBE / explicit
    * GROUPING SETS over two categorical keys, with grouping_id emitted and
    * null group keys coalesced to 'ALL' (the subtotal rows are where
    * engines disagree on null-vs-value semantics). Total order on
    * (gid, keys). */
  private def genGroupingSets(r: Random, idx: Int): Q = {
    // needs two categorical keys — customer only has one
    val tableName = pick(r, Seq("lineitem", "orders"))
    val (cols, predPool) = tables(tableName)
    val catCols = cols.filter(_.kind == "cat").map(_.name)
    val Seq(k1, k2) = r.shuffle(catCols).take(2)
    val preds = r.shuffle(predPool).take(r.nextInt(2))
    val moneyCol = pick(r, cols.filter(_.kind == "money").map(_.name))
    val variant = r.nextInt(3) // 0=rollup 1=cube 2=grouping sets
    val variantSql = variant match {
      case 0 => s"ROLLUP($k1, $k2)"
      case 1 => s"CUBE($k1, $k2)"
      case 2 => s"GROUPING SETS (($k1), ($k2), ())"
    }

    new Q {
      val name = f"q_fuzzg_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val base = preds.foldLeft(Tables.table(spark, dir, tableName))(
          (d, p) => d.where(expr(p._1)))
        val grouped = variant match {
          case 0 => base.rollup(col(k1), col(k2))
          case 1 => base.cube(col(k1), col(k2))
          case 2 => base.groupingSets(
            Seq(Seq(col(k1)), Seq(col(k2)), Seq()), col(k1), col(k2))
        }
        grouped
          .agg(count(lit(1)).as("n"), sum(Q.cents(col(moneyCol))).as("sum_cents"),
            grouping_id().cast("long").as("gid"))
          .select(coalesce(col(k1), lit("ALL")).as("k1"),
            coalesce(col(k2), lit("ALL")).as("k2"),
            col("n"), col("sum_cents"), col("gid"))
          .orderBy("gid", "k1", "k2")
      }
      val oracle = Some {
        val where = if (preds.isEmpty) "" else preds.map(_._2).mkString("WHERE ", " AND ", "")
        s"""SELECT coalesce($k1, 'ALL') AS k1, coalesce($k2, 'ALL') AS k2,
           |  count(*) AS n,
           |  CAST(sum(CAST(round($moneyCol * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           |  CAST(GROUPING($k1, $k2) AS BIGINT) AS gid
           |FROM $tableName $where
           |GROUP BY $variantSql ORDER BY gid, k1, k2""".stripMargin
      }
    }
  }

  /** Existence grammar: aggregate over fact rows that do (EXISTS → left
    * semi) or do not (NOT EXISTS → left anti) have a dimension row passing
    * a dim-side predicate — fuzzing the decorrelation path, where pre-join
    * filter placement and duplicate dim rows are the classic divergence
    * sources. The dim predicate is mandatory so the existence test is
    * never vacuous. */
  private def genExists(r: Random, idx: Int): Q = {
    val tableName = pick(r, tables.keys.toSeq.sorted)
    val (cols, factPredPool) = tables(tableName)
    val arm = joinArms(tableName)
    val negated = r.nextBoolean()
    val dimPred = pick(r, arm.dimPreds)
    val factPreds = r.shuffle(factPredPool).take(r.nextInt(2)).map(_._1)
    val key = pick(r, cols.filter(_.kind == "cat").map(_.name))
    val moneyCol = pick(r, cols.filter(_.kind == "money").map(_.name))

    new Q {
      val name = f"q_fuzze_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val fact = factPreds.foldLeft(Tables.table(spark, dir, tableName))(
          (d, p) => d.where(expr(p)))
        val dim = Tables.table(spark, dir, arm.dim).where(expr(dimPred))
          .select(col(arm.dimKey))
        fact.join(dim, col(arm.factKey) === col(arm.dimKey),
            if (negated) "left_anti" else "left_semi")
          .groupBy(col(key))
          .agg(count(lit(1)).as("n"), sum(Q.cents(col(moneyCol))).as("sum_cents"))
          .orderBy(col(key))
      }
      val oracle = Some {
        val where = if (factPreds.isEmpty) "" else factPreds.mkString("WHERE ", " AND ", " AND ")
        val prefix = if (factPreds.isEmpty) "WHERE " else where
        val ex = if (negated) "NOT EXISTS" else "EXISTS"
        s"""SELECT $key, count(*) AS n,
           |  CAST(sum(CAST(round($moneyCol * 100) AS BIGINT)) AS BIGINT) AS sum_cents
           |FROM $tableName
           |$prefix$ex (SELECT 1 FROM ${arm.dim}
           |  WHERE ${arm.dimKey} = $tableName.${arm.factKey} AND $dimPred)
           |GROUP BY $key ORDER BY $key""".stripMargin
      }
    }
  }

  /** Scalar-expression grammar: group keys are DERIVED through string /
    * date / modulo functions instead of raw columns — fuzzing the scalar
    * layer (substr indexing bases, year/month extraction, concat null
    * rules, % sign semantics, floor-of-division) where engines diverge in
    * semantics rather than in plans. Every derived key expression is one
    * SQL string evaluated by BOTH engines (Spark `expr` and DuckDB parse
    * the identical text), so the fuzz checks function-for-function parity;
    * the pool is restricted to non-null inputs (concat/left) and
    * non-negative operands (%, floor) where the engines' edge rules
    * differ by design. */
  private val scalarKeyPool: Map[String, Seq[(String, String)]] = Map(
    // key alias -> one SQL text both engines evaluate
    "lineitem" -> Seq(
      "rf_ls" -> "concat(l_returnflag, '-', l_linestatus)",
      "ship_year" -> "CAST(year(l_shipdate) AS BIGINT)",
      "ok_mod" -> "l_orderkey % 7",
      "qty_decile" -> "CAST(floor(l_quantity / 10) AS BIGINT)"),
    "orders" -> Seq(
      "prio_class" -> "substr(o_orderpriority, 1, 1)",
      "ord_month" -> "CAST(month(o_orderdate) AS BIGINT)",
      "ck_mod" -> "o_custkey % 5",
      "status_lc" -> "lower(o_orderstatus)"),
    "customer" -> Seq(
      "seg_lc" -> "lower(c_mktsegment)",
      "name_len" -> "CAST(length(c_name) AS BIGINT)",
      "ck_mod" -> "c_custkey % 11",
      "name_digits" -> "substr(c_name, 10, 3)"))

  private def genScalar(r: Random, idx: Int): Q = {
    val tableName = pick(r, tables.keys.toSeq.sorted)
    val (cols, predPool) = tables(tableName)
    val preds = r.shuffle(predPool).take(r.nextInt(2))
    val keys = r.shuffle(scalarKeyPool(tableName)).take(1 + r.nextInt(2))
    val moneyCol = pick(r, cols.filter(_.kind == "money").map(_.name))
    val withDistinct = r.nextBoolean()
    val distinctCol = pick(r, cols.filter(_.kind == "int").map(_.name))

    new Q {
      val name = f"q_fuzzs_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val base = preds.foldLeft(Tables.table(spark, dir, tableName))(
          (d, p) => d.where(expr(p._1)))
        val keyed = keys.foldLeft(base) { case (d, (alias, sql)) =>
          d.withColumn(alias, expr(sql))
        }
        val aggCols = Seq(count(lit(1)).as("n"),
          sum(Q.cents(col(moneyCol))).as("sum_cents")) ++
          (if (withDistinct) Seq(countDistinct(col(distinctCol)).as("nd")) else Nil)
        keyed.groupBy(keys.map(k => col(k._1)): _*)
          .agg(aggCols.head, aggCols.tail: _*)
          .orderBy(keys.map(k => col(k._1)): _*)
      }
      val oracle = Some {
        val where = if (preds.isEmpty) "" else preds.map(_._2).mkString("WHERE ", " AND ", "")
        val keySelect = keys.map { case (alias, sql) => s"$sql AS $alias" }.mkString(", ")
        val keyNames = keys.map(_._1).mkString(", ")
        val aggSql = Seq("count(*) AS n",
          s"CAST(sum(CAST(round($moneyCol * 100) AS BIGINT)) AS BIGINT) AS sum_cents") ++
          (if (withDistinct) Seq(s"count(DISTINCT $distinctCol) AS nd") else Nil)
        s"""SELECT $keySelect, ${aggSql.mkString(", ")}
           |FROM $tableName $where
           |GROUP BY $keyNames ORDER BY $keyNames""".stripMargin
      }
    }
  }

  /** Window-FRAME grammar: bounded ROWS frames (k PRECEDING .. CURRENT
    * ROW), ntile bucketing, and first_value over unique-keyed windows —
    * the frame-boundary arithmetic and bucket-split rules that the plain
    * window arm (rank/lag/running) doesn't touch. All outputs BIGINT,
    * window order is the unique o_orderkey so every function is
    * bit-deterministic. */
  private def genFrame(r: Random, idx: Int): Q = {
    val partCol = pick(r, Seq("o_orderstatus", "o_orderpriority"))
    val windowSql = s"PARTITION BY $partCol ORDER BY o_orderkey"
    val k = 2 + r.nextInt(5) // frame lookback
    val nt = 3 + r.nextInt(4) // ntile buckets
    val nFns = 1 + r.nextInt(3)
    val fnChoices = (0 until nFns).map { i =>
      r.nextInt(4) match {
        case 0 => (s"fsum_$i", "frame_sum",
          s"CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER " +
            s"($windowSql ROWS BETWEEN $k PRECEDING AND CURRENT ROW) AS BIGINT)")
        case 1 => (s"fcnt_$i", "frame_cnt",
          s"count(*) OVER ($windowSql ROWS BETWEEN $k PRECEDING AND CURRENT ROW)")
        case 2 => (s"nt_$i", "ntile",
          s"CAST(ntile($nt) OVER ($windowSql) AS BIGINT)")
        case 3 => (s"fv_$i", "first_value",
          s"first_value(o_orderkey) OVER " +
            s"($windowSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
      }
    }
    val pred = pick(r, Seq(
      "o_totalprice >= 50000", "o_orderstatus <> 'P'",
      "o_orderdate < TIMESTAMP '2000-01-01 00:00:00'"))

    new Q {
      val name = f"q_fuzzf_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(partCol).orderBy("o_orderkey")
        val base = Tables.orders(spark, dir).where(expr(pred))
          .select(col("o_orderkey"), col(partCol), col("o_totalprice"))
        val withFns = fnChoices.foldLeft(base) { case (d, (n, kind, _)) =>
          val c = kind match {
            case "frame_sum" =>
              sum(Q.cents(col("o_totalprice"))).over(w.rowsBetween(-k, 0))
            case "frame_cnt" => count(lit(1)).over(w.rowsBetween(-k, 0))
            case "ntile" => ntile(nt).over(w).cast("long")
            case "first_value" => first(col("o_orderkey"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          }
          d.withColumn(n, c)
        }
        withFns
          .select((Seq(col("o_orderkey"), col(partCol)) ++
            fnChoices.map(f => col(f._1))): _*)
          .orderBy("o_orderkey")
      }
      val oracle = Some {
        val fnSql = fnChoices.map(f => s"${f._3} AS ${f._1}").mkString(", ")
        s"""SELECT o_orderkey, $partCol, $fnSql
           |FROM orders WHERE $pred
           |ORDER BY o_orderkey""".stripMargin
      }
    }
  }

  /** Higher-order-function grammar: per-row arrays (integer sequences or
    * column triples) piped through random transform/filter lambdas to a
    * terminal (sum-fold / max / length), then group-aggregated — the
    * lambda-evaluation surface (Spark `transform`/`filter`/`aggregate` vs
    * DuckDB `list_transform`/`list_filter`/`list_reduce`) that no other
    * arm touches. All element math is BIGINT; empty arrays (a filter can
    * drain a sequence) exercise the fold-seed/NULL-max edge on both
    * engines. */
  private def genHof(r: Random, idx: Int): Q = {
    val tableName = pick(r, Seq("lineitem", "orders"))
    val (arrSpark, arrSql) =
      if (tableName == "lineitem") pick(r, Seq(
        ("sequence(1L, l_orderkey % 5 + 3)", "range(1, l_orderkey % 5 + 4)"),
        ("array(l_orderkey % 97, l_partkey % 89, l_suppkey % 83)",
          "[l_orderkey % 97, l_partkey % 89, l_suppkey % 83]")))
      else pick(r, Seq(
        ("sequence(1L, o_orderkey % 6 + 2)", "range(1, o_orderkey % 6 + 3)"),
        ("array(o_orderkey % 97, o_custkey % 89, CAST(length(o_orderpriority) AS BIGINT))",
          "[o_orderkey % 97, o_custkey % 89, CAST(length(o_orderpriority) AS BIGINT)]")))
    val tf = pick(r, Seq(
      None,
      Some(("transform(@A@, x -> x * 2 + 1)", "list_transform(@A@, x -> x * 2 + 1)")),
      Some(("transform(@A@, x -> x * 3)", "list_transform(@A@, x -> x * 3)"))))
    val fl = pick(r, Seq(
      None,
      Some(("filter(@A@, x -> x % 2 = 1)", "list_filter(@A@, x -> x % 2 = 1)")),
      Some(("filter(@A@, x -> x % 3 != 0)", "list_filter(@A@, x -> x % 3 <> 0)"))))
    val (termSpark, termSql) = pick(r, Seq(
      ("aggregate(@A@, 0L, (a, x) -> a + x)",
        "list_reduce(list_prepend(CAST(0 AS BIGINT), @A@), (a, x) -> a + x)"),
      ("coalesce(array_max(@A@), 0L)", "COALESCE(list_max(@A@), 0)"),
      ("CAST(size(@A@) AS BIGINT)", "CAST(len(@A@) AS BIGINT)")))
    val key = if (tableName == "lineitem") "l_returnflag" else "o_orderstatus"
    def pipe(base: String, steps: Seq[Option[(String, String)]], side: Int): String =
      steps.flatten.foldLeft(base)((e, s) =>
        (if (side == 0) s._1 else s._2).replace("@A@", e))
    val exprSpark = termSpark.replace("@A@", pipe(arrSpark, Seq(tf, fl), 0))
    val exprSql = termSql.replace("@A@", pipe(arrSql, Seq(tf, fl), 1))

    new Q {
      val name = f"q_fuzzh_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame =
        Tables.table(spark, dir, tableName)
          .withColumn("hv", expr(exprSpark))
          .groupBy(col(key))
          .agg(count(lit(1)).as("n"), sum("hv").as("agg_val"))
          .orderBy(col(key))
      val oracle = Some(
        s"""SELECT $key, count(*) AS n,
           |  CAST(sum($exprSql) AS BIGINT) AS agg_val
           |FROM $tableName GROUP BY $key ORDER BY $key""".stripMargin)
    }
  }

  /** Text/documents grammar: random string predicates (equality, substring
    * containment, length bands) and string-shaped aggregates (char sums,
    * token counts via regexp, distinct categories) over `documents` — the
    * string-function surface (Spark `length`/`contains`/`regexp_count` vs
    * DuckDB `strlen`/`contains`/`regexp_extract_all`) that the TPC-H-table
    * arms never exercise. All outputs integral. */
  private def genText(r: Random, idx: Int): Q = {
    val predPool = Seq(
      "lang = 'en'" -> "lang = 'en'",
      "n_chars >= 200" -> "n_chars >= 200",
      "n_chars < 900" -> "n_chars < 900",
      "source = 'src1'" -> "source = 'src1'",
      "contains(text, 'the')" -> "contains(text, 'the')",
      "length(text) % 2 = 0" -> "strlen(text) % 2 = 0")
    val preds = r.shuffle(predPool).take(r.nextInt(3))
    val keys = r.shuffle(Seq("lang", "source")).take(1 + r.nextInt(2))
    val aggPool: Seq[(String, Column, String)] = Seq(
      ("cnt", count(lit(1)), "count(*)"),
      ("sum_chars", sum(length(col("text")).cast("long")),
        "CAST(sum(strlen(text)) AS BIGINT)"),
      ("sum_tokens", sum(regexp_count(col("text"), lit("\\S+")).cast("long")),
        "CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)"),
      ("max_chars", max(col("n_chars")).cast("long"),
        "CAST(max(n_chars) AS BIGINT)"),
      ("min_chars", min(col("n_chars")).cast("long"),
        "CAST(min(n_chars) AS BIGINT)"),
      ("nd_docs", countDistinct(col("doc_id")), "count(DISTINCT doc_id)"))
    val aggs = r.shuffle(aggPool).take(1 + r.nextInt(3))

    new Q {
      val name = f"q_fuzzd_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val base = Tables.documents(spark, dir)
        val filtered = preds.foldLeft(base)((d, p) => d.where(expr(p._1)))
        filtered.groupBy(keys.map(col): _*)
          .agg(aggs.head._2.as(aggs.head._1),
            aggs.tail.map(a => a._2.as(a._1)): _*)
          .orderBy(keys.map(col): _*)
      }
      val oracle = Some {
        val where = if (preds.isEmpty) "" else preds.map(_._2).mkString("WHERE ", " AND ", "")
        val aggSql = aggs.map(a => s"${a._3} AS ${a._1}").mkString(", ")
        val keySql = keys.mkString(", ")
        s"""SELECT $keySql, $aggSql
           |FROM documents $where
           |GROUP BY $keySql ORDER BY $keySql""".stripMargin
      }
    }
  }

  /** Events/session grammar: random event predicates × session gap ×
    * session-grain aggregate shape over the gap sessionizer — the stateful
    * window surface (lag-threshold flag + running sum + two-level
    * aggregation) that the TPC-H/documents arms never exercise. All
    * outputs integral; the gap is applied in microseconds on both sides. */
  private def genSession(r: Random, idx: Int): Q = {
    val predPool = Seq(
      "event_type = 'click'" -> "event_type = 'click'",
      "event_type IN ('view', 'purchase')" -> "event_type IN ('view', 'purchase')",
      "value >= 10.0" -> "value >= 10.0",
      "user_id % 3 = 0" -> "user_id % 3 = 0",
      "event_id % 2 = 1" -> "event_id % 2 = 1")
    val preds = r.shuffle(predPool).take(r.nextInt(3))
    val gapS = pick(r, Seq(600L, 1800L, 3600L))
    val withTypes = r.nextBoolean()
    new Q {
      val name = f"q_fuzzb_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val ev = preds.foldLeft(Tables.events(spark, dir))((d, p) => d.where(expr(p._1)))
        val sess = graft.ops.WindowOps.sessionize(ev, Seq("user_id"), "ts",
          Seq(col("ts"), col("event_id")), gapS * 1000000L)
        val per = sess.groupBy("user_id", "session_idx")
          .agg(count(lit(1)).as("se"), countDistinct("event_type").as("st"))
        val aggs = Seq(
          (max("session_idx") + 1).cast("long").as("n_sessions"),
          sum("se").as("n_events"),
          max("se").as("max_sess_events")) ++
          (if (withTypes) Seq(max("st").as("max_sess_types")) else Nil)
        per.groupBy("user_id").agg(aggs.head, aggs.tail: _*).orderBy("user_id")
      }
      val oracle = Some {
        val where = if (preds.isEmpty) "" else preds.map(_._2).mkString("WHERE ", " AND ", "")
        val extra = if (withTypes) ",\n  CAST(max(st) AS BIGINT) AS max_sess_types" else ""
        s"""WITH e AS (SELECT user_id, ts, event_id, event_type FROM events $where),
           |f AS (
           |  SELECT user_id, ts, event_id, event_type,
           |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > ${gapS * 1000000L}
           |         THEN 1 ELSE 0 END AS newf
           |  FROM e),
           |s AS (
           |  SELECT user_id, event_type,
           |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           |  FROM f),
           |per AS (
           |  SELECT user_id, sid, count(*) AS se, count(DISTINCT event_type) AS st
           |  FROM s GROUP BY 1, 2)
           |SELECT user_id, CAST(max(sid) + 1 AS BIGINT) AS n_sessions,
           |  CAST(sum(se) AS BIGINT) AS n_events,
           |  CAST(max(se) AS BIGINT) AS max_sess_events$extra
           |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin
      }
    }
  }

  /** Set-operation grammar: two predicate-filtered projections of the
    * same table combined by a random bag-semantics set op (the SQL
    * surface where engines classically diverge on duplicate handling),
    * then re-aggregated to a totally-ordered count frame. Spark's
    * unionAll/intersectAll/exceptAll and DuckDB's UNION/INTERSECT/EXCEPT
    * ALL both implement SQL bag semantics — this arm fuzzes that claim
    * across random predicate/column combinations. */
  private def genSetOp(r: Random, idx: Int): Q = {
    val tableName = pick(r, tables.keys.toSeq.sorted)
    val (cols, predPool) = tables(tableName)
    val keyCands = cols.filter(c => c.kind == "cat" ||
      (c.kind == "int" && Set("l_linenumber", "c_nationkey").contains(c.name)))
    val keys = r.shuffle(keyCands).take(1 + r.nextInt(2)).map(_.name)
    val predA = pick(r, predPool)
    val predB = pick(r, predPool.filterNot(_ == predA))
    val (opName, opSql) = pick(r, Seq(
      ("unionAll", "UNION ALL"), ("intersectAll", "INTERSECT ALL"),
      ("exceptAll", "EXCEPT ALL")))
    // EXCEPT ALL subtracts B = (A AND predB) from A — B ⊆ A as a bag, so
    // the result is exactly A's predB-complement rows: structurally
    // non-empty for any selective predB (a free-standing B could subsume
    // A and collapse the instance to zero rows).
    val exceptShape = opName == "exceptAll"
    new Q {
      val name = f"q_fuzzu_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val base = Tables.table(spark, dir, tableName)
        val a = base.where(expr(predA._1)).select(keys.map(col): _*)
        val b =
          if (exceptShape)
            base.where(expr(predA._1)).where(expr(predB._1))
              .select(keys.map(col): _*)
          else base.where(expr(predB._1)).select(keys.map(col): _*)
        val combined = opName match {
          case "unionAll" => a.unionAll(b)
          case "intersectAll" => a.intersectAll(b)
          case _ => a.exceptAll(b)
        }
        combined.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("cnt"))
          .orderBy(keys.map(col): _*)
      }
      val oracle = Some {
        val keySql = keys.mkString(", ")
        val bWhere =
          if (exceptShape) s"${predA._2} AND ${predB._2}" else predB._2
        s"""SELECT $keySql, count(*) AS cnt FROM (
           |  SELECT $keySql FROM $tableName WHERE ${predA._2}
           |  $opSql
           |  SELECT $keySql FROM $tableName WHERE $bWhere) t
           |GROUP BY $keySql ORDER BY $keySql""".stripMargin
      }
    }
  }

  /** Calendar-bucketing grammar: random date_trunc grain (week included —
    * both engines truncate to Monday, pinned by q_date_edge_parity; this
    * arm fuzzes it across random predicates/aggregates) over the orders
    * date, partial-aggregated to the calendar grain. */
  private def genDateBucket(r: Random, idx: Int): Q = {
    val grain = pick(r, Seq("week", "month", "quarter", "year"))
    val (_, predPool) = tables("orders")
    val preds = r.shuffle(predPool).take(r.nextInt(2))
    val withStatus = r.nextBoolean()
    new Q {
      val name = f"q_fuzzc_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val base = preds.foldLeft(Tables.table(spark, dir, "orders"))(
          (d, p) => d.where(expr(p._1)))
        val keys = Seq(date_trunc(grain, to_date(col("o_orderdate")))
          .cast("date").as("bucket")) ++
          (if (withStatus) Seq(col("o_orderstatus")) else Nil)
        val keyNames = Seq("bucket") ++
          (if (withStatus) Seq("o_orderstatus") else Nil)
        base.groupBy(keys: _*)
          .agg(count(lit(1)).as("n"),
            sum(Q.cents(col("o_totalprice"))).as("rev_cents"))
          .orderBy(keyNames.map(col): _*)
      }
      val oracle = Some {
        val where = if (preds.isEmpty) "" else preds.map(_._2).mkString("WHERE ", " AND ", "")
        val statusKey = if (withStatus) ", o_orderstatus" else ""
        s"""SELECT CAST(date_trunc('$grain', CAST(o_orderdate AS DATE)) AS DATE) AS bucket$statusKey,
           |  count(*) AS n,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
           |FROM orders $where
           |GROUP BY 1${if (withStatus) ", 2" else ""}
           |ORDER BY bucket$statusKey""".stripMargin
      }
    }
  }

  /** Outer-join nullability grammar (r9 verdict item 7): LEFT / RIGHT /
    * FULL orders↔customer joins with BOTH sides pre-filtered (predicates
    * go INSIDE the join inputs — on the outer side of the join they would
    * silently re-filter the null-extended rows, which is exactly the
    * cross-engine divergence surface this arm fuzzes), group keys
    * null-coalesced, and the three count flavors (count(*),
    * count(fact_col), count(dim_col)) whose null-skipping is where
    * engines classically disagree. */
  private def genOuterJoin(r: Random, idx: Int): Q = {
    val (joinType, joinSql) = pick(r, Seq(
      ("left", "LEFT JOIN"), ("right", "RIGHT JOIN"), ("full", "FULL JOIN")))
    val factPreds = r.shuffle(tables("orders")._2).take(r.nextInt(2))
    val dimPreds = r.shuffle(Seq(
      "c_acctbal >= 0" -> "c_acctbal >= 0",
      "c_nationkey < 13" -> "c_nationkey < 13",
      "c_mktsegment = 'BUILDING'" -> "c_mktsegment = 'BUILDING'"))
      .take(1 + r.nextInt(2))
    val keyChoices = Seq(
      ("seg", coalesce(col("c_mktsegment"), lit("__none")),
        "coalesce(c_mktsegment, '__none')"),
      ("st", coalesce(col("o_orderstatus"), lit("__none")),
        "coalesce(o_orderstatus, '__none')"))
    val keys = r.shuffle(keyChoices).take(1 + r.nextInt(2))
    val aggChoices = Seq(
      ("cnt_all", count(lit(1)), "count(*)"),
      ("cnt_fact", count(col("o_orderkey")), "count(o_orderkey)"),
      ("cnt_dim", count(col("c_custkey")), "count(c_custkey)"),
      ("sum_cents", coalesce(sum(Q.cents(col("o_totalprice"))), lit(0L)),
        "CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT)"))
    val aggs = r.shuffle(aggChoices).take(2 + r.nextInt(2))

    new Q {
      val name = f"q_fuzzoj_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val fact = factPreds.foldLeft(Tables.orders(spark, dir))(
          (d, p) => d.where(expr(p._1)))
        val dim = dimPreds.foldLeft(Tables.customer(spark, dir))(
          (d, p) => d.where(expr(p._1)))
        fact.join(dim, col("o_custkey") === col("c_custkey"), joinType)
          .groupBy(keys.map(k => k._2.as(k._1)): _*)
          .agg(aggs.head._2.as(aggs.head._1),
            aggs.tail.map(a => a._2.as(a._1)): _*)
          .orderBy(keys.map(k => col(k._1)): _*)
      }
      val oracle = Some {
        val fw = if (factPreds.isEmpty) ""
          else factPreds.map(_._2).mkString("WHERE ", " AND ", "")
        val dw = dimPreds.map(_._2).mkString("WHERE ", " AND ", "")
        val keySql = keys.map(k => s"${k._3} AS ${k._1}").mkString(", ")
        val aggSql = aggs.map(a => s"${a._3} AS ${a._1}").mkString(", ")
        s"""SELECT $keySql, $aggSql
           |FROM (SELECT * FROM orders $fw) o
           |$joinSql (SELECT * FROM customer $dw) c ON o_custkey = c_custkey
           |GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}
           |ORDER BY ${keys.map(_._1).mkString(", ")}""".stripMargin
      }
    }
  }

  /** Rank-semantics window grammar (r9 verdict item 7): rank/dense_rank
    * ordered by a NON-unique money column — real ties, where rank vs
    * row_number vs dense_rank semantics actually differ across engines —
    * plus ntile/first_value/nth_value/partition counts ordered with the
    * unique tie-break (they are tie-order-SENSITIVE, so they get the
    * repo's total-order convention). Complements genWindow, whose draws
    * are all unique-key-ordered. */
  private def genWindowRank(r: Random, idx: Int): Q = {
    import org.apache.spark.sql.expressions.Window
    val partCol = pick(r, Seq("o_orderstatus", "o_orderpriority"))
    val cents = Q.cents(col("o_totalprice"))
    val centsSql = "CAST(round(o_totalprice * 100) AS BIGINT)"
    // ties: cents desc ONLY (rank-family safe); tie-broken: + o_orderkey
    val tiesSql = s"PARTITION BY $partCol ORDER BY $centsSql DESC"
    val tbSql = s"$tiesSql, o_orderkey"
    lazy val wTies = Window.partitionBy(partCol).orderBy(cents.desc)
    lazy val wTb = Window.partitionBy(partCol).orderBy(cents.desc, col("o_orderkey"))
    lazy val wPart = Window.partitionBy(partCol)
    val fnChoices = (0 until (1 + r.nextInt(3))).map { i =>
      r.nextInt(5) match {
        case 0 => (s"rk_$i", rank().over(wTies).cast("long"),
          s"CAST(rank() OVER ($tiesSql) AS BIGINT)")
        case 1 => (s"drk_$i", dense_rank().over(wTies).cast("long"),
          s"CAST(dense_rank() OVER ($tiesSql) AS BIGINT)")
        case 2 => (s"nt_$i", ntile(4).over(wTb).cast("long"),
          s"CAST(ntile(4) OVER ($tbSql) AS BIGINT)")
        case 3 => (s"fv_$i", first_value(cents).over(wTb),
          s"first_value($centsSql) OVER ($tbSql)")
        case 4 => (s"np_$i", count(lit(1)).over(wPart),
          s"count(*) OVER (PARTITION BY $partCol)")
      }
    }
    val pred = pick(r, Seq(
      "o_totalprice < 150000", "o_orderpriority = '1-URGENT'",
      "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"))

    new Q {
      val name = f"q_fuzzwr_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame = {
        val base = Tables.orders(spark, dir).where(expr(pred))
          .select(col("o_orderkey"), col(partCol), col("o_totalprice"))
        fnChoices.foldLeft(base) { case (d, (n, c, _)) => d.withColumn(n, c) }
          .select((Seq(col("o_orderkey"), col(partCol)) ++
            fnChoices.map(f => col(f._1))): _*)
          .orderBy("o_orderkey")
      }
      val oracle = Some {
        val fnSql = fnChoices.map(f => s"${f._3} AS ${f._1}").mkString(", ")
        s"""SELECT o_orderkey, $partCol, $fnSql
           |FROM orders WHERE $pred
           |ORDER BY o_orderkey""".stripMargin
      }
    }
  }

  /** NESTED higher-order-function grammar — randomized coverage of the
    * CollapseProject hazard surface (PLANS.md round 10: an aliased HOF
    * chain referenced inside ANOTHER HOF's lambda gets inlined by the
    * optimizer and re-evaluated once per element — the `mm_phash_dedup`
    * O(64²·|text|) blow-up class). Each instance builds a per-row array,
    * binds a scalar REDUCTION of it (fold / max / min) to an alias, and
    * pipes the array through a second HOF whose lambda references that
    * alias (center / threshold), finished by a scalar terminal and a
    * group aggregate. The flat-HOF arm ([[genHof]]) never references one
    * HOF's result inside another's lambda, so this inlining path had no
    * randomized coverage. Arrays are ≤ 8 elements: the collapsed
    * recompute stays cheap at test scale — what the arm fuzzes is
    * CORRECTNESS of the collapsed interpreted evaluation against DuckDB's
    * textual-expansion equivalent, across random (reduction, lambda,
    * terminal) triples. All element math BIGINT; empty arrays exercise
    * the fold-seed / NULL-max edge inside a captured lambda. */
  private def genHofNested(r: Random, idx: Int): Q = {
    val tableName = pick(r, Seq("lineitem", "orders"))
    val (arrSpark, arrSql) =
      if (tableName == "lineitem") pick(r, Seq(
        ("sequence(1L, l_orderkey % 7 + 2)", "range(1, l_orderkey % 7 + 3)"),
        ("array(l_orderkey % 97, l_partkey % 89, l_suppkey % 83)",
          "[l_orderkey % 97, l_partkey % 89, l_suppkey % 83]")))
      else pick(r, Seq(
        ("sequence(1L, o_orderkey % 6 + 2)", "range(1, o_orderkey % 6 + 3)"),
        ("array(o_orderkey % 97, o_custkey % 89, CAST(length(o_orderpriority) AS BIGINT))",
          "[o_orderkey % 97, o_custkey % 89, CAST(length(o_orderpriority) AS BIGINT)]")))
    val (ctrSpark, ctrSql) = pick(r, Seq(
      ("aggregate(@A@, 0L, (a, x) -> a + x)",
        "list_reduce(list_prepend(CAST(0 AS BIGINT), @A@), (a, x) -> a + x)"),
      ("coalesce(array_max(@A@), 0L)", "COALESCE(list_max(@A@), 0)"),
      ("coalesce(array_min(@A@), 0L)", "COALESCE(list_min(@A@), 0)")))
    val (nestSpark, nestSql) = pick(r, Seq(
      ("transform(@A@, x -> x * 2 - @C@)", "list_transform(@A@, x -> x * 2 - @C@)"),
      ("transform(@A@, x -> x + @C@ % 7)", "list_transform(@A@, x -> x + @C@ % 7)"),
      ("filter(@A@, x -> x * 3 >= @C@)", "list_filter(@A@, x -> x * 3 >= @C@)")))
    val (termSpark, termSql) = pick(r, Seq(
      ("aggregate(@A@, 0L, (a, x) -> a + x)",
        "list_reduce(list_prepend(CAST(0 AS BIGINT), @A@), (a, x) -> a + x)"),
      ("coalesce(array_max(@A@), 0L)", "COALESCE(list_max(@A@), 0)"),
      ("CAST(size(@A@) AS BIGINT)", "CAST(len(@A@) AS BIGINT)")))
    val key = if (tableName == "lineitem") "l_returnflag" else "o_orderstatus"
    // Spark side keeps the reduction as a NAMED ALIAS referenced from the
    // nested lambda — the spelling CollapseProject inlines; DuckDB gets
    // the textual expansion (same semantics, no alias to collapse).
    val exprSpark = termSpark.replace("@A@",
      nestSpark.replace("@A@", "__arr").replace("@C@", "__ctr"))
    val exprSql = termSql.replace("@A@",
      nestSql.replace("@C@", "(" + ctrSql.replace("@A@", arrSql) + ")")
        .replace("@A@", arrSql))

    new Q {
      val name = f"q_fuzzhof_$idx%02d"
      def run(spark: SparkSession, dir: String): DataFrame =
        Tables.table(spark, dir, tableName)
          .withColumn("__arr", expr(arrSpark))
          .withColumn("__ctr", expr(ctrSpark.replace("@A@", "__arr")))
          .withColumn("hv", expr(exprSpark))
          .groupBy(col(key))
          .agg(count(lit(1)).as("n"), sum("hv").as("agg_val"))
          .orderBy(col(key))
      val oracle = Some(
        s"""SELECT $key, count(*) AS n,
           |  CAST(sum($exprSql) AS BIGINT) AS agg_val
           |FROM $tableName GROUP BY $key ORDER BY $key""".stripMargin)
    }
  }

  val all: Seq[Q] = {
    val r = new Random(20260813L)
    val scans = (0 until 15).map(gen(r, _))
    val joins = (0 until 10).map(genJoin(r, _))
    val windows = (0 until 8).map(genWindow(r, _))
    val topks = (0 until 5).map(genTopK(r, _))
    // new arms draw from the SAME stream, appended after the originals, so
    // every pre-existing instance keeps its exact shape across rounds
    val groupings = (0 until 6).map(genGroupingSets(r, _))
    val exists = (0 until 6).map(genExists(r, _))
    val scalars = (0 until 8).map(genScalar(r, _))
    val frames = (0 until 6).map(genFrame(r, _))
    val hofs = (0 until 6).map(genHof(r, _))
    val texts = (0 until 6).map(genText(r, _))
    val sessions = (0 until 6).map(genSession(r, _))
    val setops = (0 until 6).map(genSetOp(r, _))
    val calendars = (0 until 6).map(genDateBucket(r, _))
    // round-10 arms (r9 verdict item 7), appended after all prior draws
    val outerJoins = (0 until 6).map(genOuterJoin(r, _))
    val windowRanks = (0 until 6).map(genWindowRank(r, _))
    // round-13 arm (r12 verdict item 5), appended after all prior draws
    val hofNested = (0 until 6).map(genHofNested(r, _))
    scans ++ joins ++ windows ++ topks ++ groupings ++ exists ++ scalars ++
      frames ++ hofs ++ texts ++ sessions ++ setops ++ calendars ++
      outerJoins ++ windowRanks ++ hofNested
  }
}
