package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2A Layer-A relational operators, A1–A21.
  *
  * Each query is written with the declarative DataFrame API so Catalyst
  * gets full freedom (pushdown, pruning, join strategy, AQE). Double
  * aggregates are rounded on BOTH sides (Spark impl and DuckDB oracle)
  * because summation order differs between engines — see SURVEY §7.5
  * item 6 (dialect/float canonicalization).
  */
object LayerA1 {
  /** Exact integer-cents arithmetic: every money/rate column in the
    * testdata is an exact 2-dp value, so summing round(x*100) as LONG is
    * exact and order-independent — a distributed sum then hash-matches a
    * single-node oracle bit-for-bit (SURVEY §7.5 item 6) while staying a
    * codegen-primitive (decimal aggregation measured 2.6x slower). Long
    * cents hold ~9e16 dollars before overflow; a 100 TB deployment of the
    * product terms would switch the accumulator to DECIMAL(38,6).
    *
    * floor(x*100 + 0.5), not round(x*100): Spark's Round on DoubleType
    * allocates a BigDecimal per row (~8ns/row, ~0.5s/60M-row column at
    * the derived sf10), while floor codegens to Math.floor. For exact
    * 2-dp non-negative inputs the two are value-identical to DuckDB's
    * ROUND — verified exhaustively over every cents column at all three
    * SFs (zero mismatches, zero negatives); sub-cent or negative inputs
    * would need the BigDecimal form back.
    */
  private[queries] def cents(name: String): Column =
    floor(col(name) * 100 + 0.5).cast("long")

  /** True when `df` is small enough to be a shuffled-hash-join BUILD
    * side: per-partition builds must fit executor memory, because
    * ShuffledHashJoinExec's hash relation cannot spill — at the derived
    * sf100 a forced-SHJ 600M-row build side needed >1 GB per task and
    * the stage died with "Can't acquire ... to build hash relation"
    * (SMJ sorts spill gracefully; that is Spark's large-large shape).
    * Budget: 64 MB of estimated build bytes per shuffle partition —
    * SHJ keeps its measured win at sf0.1/sf10 (SCALE.md round-4) and
    * falls back to sort-merge beyond. A real cluster scales the
    * partition count with the data, which keeps this ratio bounded;
    * local bench dirs grow 1000x under a fixed 32, so the gate has to
    * look at bytes, not trust the config.
    */
  private[queries] def shjBuildFits(df: DataFrame): Boolean = {
    val perPartition = df.queryExecution.optimizedPlan.stats.sizeInBytes /
      math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    perPartition < BigInt(64L << 20)
  }

  /** SHUFFLE_HASH when the build side fits per-partition memory, else
    * unhinted (planner picks SMJ for large-large under either
    * preferSortMergeJoin setting — canBuildLocalHashMap rejects it).
    */
  private[queries] def shjIfFits(df: DataFrame, buildSide: DataFrame): DataFrame =
    if (shjBuildFits(buildSide)) df.hint("SHUFFLE_HASH") else df

  val queries: Seq[QueryDef] = Seq(
    // A1: parquet scan + global agg (scan feeds partial agg, no shuffle of raw rows)
    QueryDef(
      "a01_parquet_scan",
      (s, d) =>
        Tables.lineitem(s, d).agg(
          count(lit(1)).as("n"),
          (sum(cents("l_extendedprice")).cast("double") / 100.0).as("sum_price")),
      Some("""SELECT COUNT(*) AS n,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
             |  FROM lineitem""".stripMargin),
      bench = true),

    // A4: filter pushdown — BETWEEN/IN/AND reach the parquet reader as PushedFilters
    QueryDef(
      "a04_filter",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_discount").between(0.05, 0.07)
            && col("l_quantity") < 24
            && col("l_returnflag").isin("A", "R"))
          .select("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             | WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
             |   AND l_returnflag IN ('A','R')""".stripMargin),
      bench = true),

    // A5: projection + CASE WHEN
    QueryDef(
      "a05_case_projection",
      (s, d) =>
        Tables.orders(s, d).select(
          col("o_orderkey"),
          when(col("o_totalprice") > 150000, "big").otherwise("small").as("bucket")),
      Some("""SELECT o_orderkey,
             |       CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS bucket
             |  FROM orders""".stripMargin)),

    // A6: 3-way equi-join + agg (TPC-H Q3 shape). customer is small →
    // Catalyst auto-broadcasts it; the lineitem join is size-gated.
    QueryDef(
      "a06_join_agg",
      (s, d) => {
        // Only o_orderkey survives to the output, so reduce the dim side
        // to KEYS before the lineitem join: customer(BUILDING) semi-
        // filters orders (customer broadcast — it is the small side).
        // The lineitem⋈keys join is then SIZE-GATED on the orders
        // relation's estimated size (r7, A06Probe at sf10):
        //  - small orders → broadcast the key set; lineitem streams
        //    map-side through one broadcast hash join + partial agg
        //    (wins at sf0.1 where fixed overheads dominate);
        //  - large orders (~3M filtered keys at sf10) → broadcasting
        //    costs a multi-hundred-MB build while the map-side partial
        //    agg runs at full key cardinality and barely reduces; a
        //    SHUFFLE_HASH join on the orderkey with the agg reusing the
        //    join's partitioning is faster (2.2s vs 3.0s at sf10) and
        //    is the shape that survives 100 TB, where no key set fits
        //    in a broadcast.
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val ok = Tables.orders(s, d)
          .join(broadcast(c), col("c_custkey") === col("o_custkey"), "leftsemi")
          .select("o_orderkey")
        val ordersBytes = Tables.orders(s, d).queryExecution.optimizedPlan.stats.sizeInBytes
        // Three regimes on the ORDER-KEY-SET size (r12 re-probe,
        // A06Probe at the re-derived sf10 with a 32g heap):
        //  - tiny (sf0.1): broadcast-inner on the key set — one
        //    map-side BHJ + partial agg, no exchange of lineitem.
        //  - mid (sf10, ~3M keys = 24 MB broadcast): broadcast the key
        //    set as a SEMI filter, then aggregate the ~1/5 surviving
        //    rows grouping on l_orderkey — the exchange carries only
        //    partial-agg rows. Measured 2.51 s min / 2.86 s avg vs the
        //    old double-SHUFFLE_HASH's 2.67 / 4.61 (its full-lineitem
        //    exchange thrashes the page cache; the r7 numbers that
        //    picked SHJ were measured under an 8g heap).
        //  - huge (sf100+, key set outgrows a sane broadcast): SHJ on
        //    the orderkey, size-gated so sf1000+ degrades to SMJ.
        // The mid gate is pessimistic: FULL orders row count × 8 bytes
        // (as if every key survived the segment filter) must fit 256MB.
        val ordersRowsEst = ordersBytes / 128 // ~128 B/row in orders
        val joined =
          if (ordersBytes < BigInt(64L << 20))
            Tables.lineitem(s, d).join(broadcast(ok), col("l_orderkey") === col("o_orderkey"))
          else if (ordersRowsEst * 8 < BigInt(256L << 20))
            Tables.lineitem(s, d)
              .join(broadcast(ok), col("l_orderkey") === col("o_orderkey"), "leftsemi")
              .select(col("l_orderkey").as("o_orderkey"),
                col("l_extendedprice"), col("l_discount"))
          else
            shjIfFits(Tables.lineitem(s, d), ok)
              .join(shjIfFits(ok, ok), col("l_orderkey") === col("o_orderkey"))
        joined
          .groupBy(col("o_orderkey"))
          .agg((sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
            .cast("double") / 10000.0).as("rev"))
      },
      Some("""SELECT o_orderkey,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
             |                 * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT)))
             |            AS DOUBLE) / 10000.0 AS rev
             |  FROM customer JOIN orders ON c_custkey=o_custkey
             |       JOIN lineitem ON l_orderkey=o_orderkey
             | WHERE c_mktsegment = 'BUILDING'
             | GROUP BY o_orderkey""".stripMargin),
      bench = true),

    // A7: join USING-style (single key equality)
    QueryDef(
      "a07_join_using",
      (s, d) =>
        Tables.nation(s, d)
          .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
          .select("n_name", "r_name"),
      Some("SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey")),

    // A8: self-join (pairs of lineitems within an order). SHUFFLE_HASH
    // hint: Catalyst's size estimate would broadcast one side, but the
    // probe side then inherits the scan's parallelism — ONE task on a
    // single-row-group file — serializing the ~2×|input| pair
    // expansion (measured 0.82s → 0.29s at sf0.1). Shuffling both
    // sides partitions the expansion across all cores, the two
    // exchanges canonicalize to one (ReusedExchange), and at 100 TB a
    // self-join's equal-sized sides should never broadcast anyway.
    QueryDef(
      "a08_self_join",
      (s, d) => {
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_linenumber")
        // size-gated: a self-join's build side IS the table; at the
        // derived sf100 (600M rows, ~19M/partition) the un-spillable
        // hash build cannot fit and the stage is cancelled — SMJ with
        // one shared sorted exchange is the at-scale shape
        shjIfFits(l.as("a"), l).join(shjIfFits(l.as("b"), l),
            col("a.l_orderkey") === col("b.l_orderkey")
              && col("a.l_linenumber") < col("b.l_linenumber"))
          .select(col("a.l_orderkey").as("l_orderkey"),
            col("a.l_linenumber").as("ln_a"),
            col("b.l_linenumber").as("ln_b"))
      },
      Some("""SELECT a.l_orderkey AS l_orderkey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber""".stripMargin),
      bench = true),

    // A9: CROSS JOIN
    QueryDef(
      "a09_cross_join",
      (s, d) => {
        val r = Tables.region(s, d)
        r.select(col("r_name").as("r_name1"))
          .crossJoin(r.select(col("r_name").as("r_name2")))
      },
      Some("""SELECT r1.r_name AS r_name1, r2.r_name AS r_name2
             |  FROM region r1 CROSS JOIN region r2""".stripMargin)),

    // A10: anti / semi / full-outer joins
    QueryDef(
      "a10_anti_join",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey"),
      Some("""SELECT c_custkey FROM customer
             | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),
    QueryDef(
      "a10_semi_join",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d).filter(col("o_totalprice") > 250000),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer
             | WHERE EXISTS (SELECT 1 FROM orders
             |                WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin)),
    QueryDef(
      "a10_full_outer_join",
      (s, d) => {
        val cn = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("n_cust"))
        val sn = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nk2"))
          .agg(count(lit(1)).as("n_supp"))
        cn.join(sn, col("nk") === col("nk2"), "full_outer")
          .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
            col("n_cust"), col("n_supp"))
      },
      Some("""SELECT COALESCE(c.nk, s.nk2) AS nationkey, c.n_cust, s.n_supp
             |  FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
             |  FULL OUTER JOIN
             |       (SELECT s_nationkey AS nk2, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
             |    ON c.nk = s.nk2""".stripMargin)),

    // A11+A35: TPC-H Q1 — multi-key hash agg with partial (map-side) aggregation
    QueryDef(
      "a11_groupby_agg",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            (sum(cents("l_quantity")).cast("double") / 100.0).as("sum_qty"),
            (sum(cents("l_extendedprice")).cast("double") / 100.0).as("sum_base_price"),
            (sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
              .cast("double") / 10000.0).as("sum_disc_price"),
            (sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))
              * (lit(100L) + cents("l_tax"))).cast("double") / 1000000.0).as("sum_charge"),
            (sum(cents("l_quantity")).cast("double") / 100.0 / count(lit(1))).as("avg_qty"),
            (sum(cents("l_extendedprice")).cast("double") / 100.0 / count(lit(1))).as("avg_price"),
            (sum(cents("l_discount")).cast("double") / 100.0 / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(SUM(CAST(ROUND(l_quantity*100,0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
             |                * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))) AS DOUBLE) / 10000.0
             |         AS sum_disc_price,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
             |                * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))
             |                * (100 + CAST(ROUND(l_tax*100,0) AS BIGINT))) AS DOUBLE) / 1000000.0
             |         AS sum_charge,
             |       CAST(SUM(CAST(ROUND(l_quantity*100,0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
             |       CAST(SUM(CAST(ROUND(l_discount*100,0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
             |       COUNT(*) AS count_order
             |  FROM lineitem
             | WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             | GROUP BY l_returnflag, l_linestatus""".stripMargin),
      bench = true),

    // A12: COUNT(DISTINCT) per group
    QueryDef(
      "a12_count_distinct",
      (s, d) =>
        Tables.orders(s, d).groupBy("o_custkey")
          .agg(countDistinct(col("o_orderpriority")).as("n_prio")),
      Some("""SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_prio
             |  FROM orders GROUP BY o_custkey""".stripMargin)),

    // A13: SELECT DISTINCT
    QueryDef(
      "a13_distinct",
      (s, d) => Tables.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // A14: aggregate FILTER (WHERE ...)
    QueryDef(
      "a14_agg_filter",
      (s, d) =>
        Tables.orders(s, d).agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(lit(1)).as("n")),
      Some("""SELECT COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, COUNT(*) AS n
             |  FROM orders""".stripMargin)),

    // A15: HAVING (exact-decimal aggregate so boundary groups agree)
    QueryDef(
      "a15_having",
      (s, d) =>
        Tables.orders(s, d).groupBy("o_custkey")
          .agg(sum(cents("o_totalprice")).as("sc"))
          .filter(col("sc") > 300000L * 100)
          .select(col("o_custkey"), (col("sc").cast("double") / 100.0).as("s")),
      Some("""SELECT o_custkey,
             |       CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS DOUBLE) / 100.0 AS s
             |  FROM orders GROUP BY o_custkey
             | HAVING SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) > 30000000""".stripMargin)),

    // A16: COUNT(*) OVER (PARTITION BY) — the Woltka core step
    QueryDef(
      "a16_window_count",
      (s, d) =>
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          count(lit(1)).over(Window.partitionBy(col("l_orderkey"))).as("cnt")),
      Some("""SELECT l_orderkey, l_linenumber, COUNT(*) OVER (PARTITION BY l_orderkey) AS cnt
             |  FROM lineitem""".stripMargin),
      bench = true),

    // A17: global ROW_NUMBER — two-pass range-partitioned numbering
    // (no single-partition sort; see ScalableOps.globalRowNumber).
    QueryDef(
      "a17_row_number",
      (s, d) =>
        graft.ops.ScalableOps.globalRowNumber(
          Tables.orders(s, d).select("o_orderkey"), "rn", col("o_orderkey")),
      Some("SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders")),

    // A18: LEAD over partition (tie-broken by l_linenumber for determinism)
    QueryDef(
      "a18_lead",
      (s, d) => {
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_shipdate"), col("l_linenumber"))
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          lead(col("l_shipdate"), 1).over(w).as("next_ship"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate,
             |       LEAD(l_shipdate) OVER (PARTITION BY l_orderkey
             |                              ORDER BY l_shipdate, l_linenumber) AS next_ship
             |  FROM lineitem""".stripMargin)),

    // A19: RANK + sliding-frame SUM (frame order tie-broken by o_orderkey)
    QueryDef(
      "a19_rank_frame",
      (s, d) => {
        val wRank = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
        val wSum = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey")).rowsBetween(-2, 0)
        Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          rank().over(wRank).cast("long").as("rnk"),
          (sum(cents("o_totalprice")).over(wSum).cast("double") / 100.0).as("run_sum"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |       RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
             |       CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) OVER (PARTITION BY o_custkey
             |             ORDER BY o_orderdate, o_orderkey
             |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS run_sum
             |  FROM orders""".stripMargin),
      bench = true),

    // A20: multi-key mixed-direction sort
    QueryDef(
      "a20_sort",
      (s, d) =>
        Tables.nation(s, d).orderBy(col("n_regionkey").desc, col("n_name").asc),
      Some("SELECT * FROM nation ORDER BY n_regionkey DESC, n_name ASC")),

    // A21: top-k (TakeOrderedAndProject — no global sort materialization)
    QueryDef(
      "a21_topk",
      (s, d) =>
        Tables.part(s, d).select("p_partkey", "p_retailprice")
          .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
          .limit(10),
      Some("""SELECT p_partkey, p_retailprice FROM part
             | ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10""".stripMargin))
  )
}
