package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2A Layer-A relational operators, A2–A3 and A22–A40:
  * scans, set ops, explode, string/list/map/struct/JSON functions,
  * casts, date functions, ROLLUP/CUBE, VALUES, views, COPY-to-CSV.
  * All thin declarative wrappers over Spark built-ins so Catalyst keeps
  * full pushdown/pruning freedom; oracle SQL is canonicalized to the
  * DuckDB dialect (SURVEY §7.5 item 6).
  */
object LayerA2 {
  import LayerA1.cents

  val queries: Seq[QueryDef] = Seq(
    // A22: UNION ALL (no dedup — pure concat, no shuffle)
    QueryDef(
      "a22_union_all",
      (s, d) =>
        Tables.customer(s, d).select(col("c_nationkey").as("k"))
          .unionAll(Tables.supplier(s, d).select(col("s_nationkey").as("k"))),
      Some("""SELECT c_nationkey AS k FROM customer
             | UNION ALL SELECT s_nationkey AS k FROM supplier""".stripMargin)),

    // A23: INTERSECT / EXCEPT (dedup set ops — one shuffle each on the key)
    QueryDef(
      "a23_intersect",
      (s, d) =>
        Tables.customer(s, d).select(col("c_nationkey").as("k"))
          .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("k"))),
      Some("""SELECT c_nationkey AS k FROM customer
             | INTERSECT SELECT s_nationkey AS k FROM supplier""".stripMargin)),
    QueryDef(
      "a23_except",
      (s, d) =>
        Tables.customer(s, d).select(col("c_nationkey").as("k"))
          .except(Tables.supplier(s, d).select(col("s_nationkey").as("k"))),
      Some("""SELECT c_nationkey AS k FROM customer
             | EXCEPT SELECT s_nationkey AS k FROM supplier""".stripMargin)),

    // A24: CTE composition (WITH → join) expressed via spark.sql on temp views
    QueryDef(
      "a24_cte",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("a24_orders")
        Tables.customer(s, d).createOrReplaceTempView("a24_customer")
        s.sql("""WITH big AS (SELECT o_custkey, COUNT(*) AS n_big FROM a24_orders
                |             WHERE o_totalprice > 200000 GROUP BY o_custkey)
                |SELECT c.c_custkey, b.n_big
                |  FROM a24_customer c JOIN big b ON c.c_custkey = b.o_custkey""".stripMargin)
      },
      Some("""WITH big AS (SELECT o_custkey, COUNT(*) AS n_big FROM orders
             |             WHERE o_totalprice > 200000 GROUP BY o_custkey)
             |SELECT c.c_custkey, b.n_big
             |  FROM customer c JOIN big b ON c.c_custkey = b.o_custkey""".stripMargin)),

    // A25: recursive CTE (tree depth). Spark lacks WITH RECURSIVE; the
    // idiomatic equivalent is an iterative breadth-first join loop on the
    // driver (each iteration is one distributed self-join — bounded by
    // tree depth, same asymptotics as DuckDB's recursive operator).
    // Tree: nation→region parent edges give a 2-level hierarchy; we build
    // a synthetic parent table (region roots, nations as children).
    QueryDef(
      "a25_recursive_depth",
      (s, d) => {
        val edges = Tables.nation(s, d)
          .select(col("n_nationkey").as("id"), (col("n_regionkey") + 100).as("parent"))
          .unionAll(Tables.region(s, d)
            .select((col("r_regionkey") + 100).as("id"), lit(null).cast("long").as("parent")))
        // iterate: depth(root)=0; child depth = parent depth + 1
        var frontier = edges.filter(col("parent").isNull)
          .select(col("id"), lit(0L).as("depth"))
        var result = frontier
        var continue = true
        while (continue) {
          val next = edges.join(frontier.select(col("id").as("pid"), col("depth")),
              col("parent") === col("pid"))
            .select(col("id"), (col("depth") + 1).as("depth"))
          if (next.isEmpty) continue = false
          else { result = result.unionAll(next); frontier = next }
        }
        result
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT id, CAST(0 AS BIGINT) AS depth FROM (
             |    SELECT n_nationkey AS id, n_regionkey + 100 AS parent FROM nation
             |    UNION ALL
             |    SELECT r_regionkey + 100 AS id, NULL AS parent FROM region) e
             |  WHERE parent IS NULL
             |  UNION ALL
             |  SELECT e.id, t.depth + 1 FROM (
             |    SELECT n_nationkey AS id, n_regionkey + 100 AS parent FROM nation
             |    UNION ALL
             |    SELECT r_regionkey + 100 AS id, NULL AS parent FROM region) e
             |  JOIN t ON e.parent = t.id)
             |SELECT id, depth FROM t""".stripMargin)),

    // A26: UNNEST/explode of a generated list (sequence(1, l_linenumber))
    QueryDef(
      "a26_explode",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 100)
          .select(col("l_orderkey"), col("l_linenumber"),
            explode(sequence(lit(1L), col("l_linenumber").cast("long"))).as("i")),
      Some("""SELECT l_orderkey, l_linenumber, UNNEST(generate_series(1, l_linenumber)) AS i
             |  FROM lineitem WHERE l_orderkey <= 100""".stripMargin)),

    // A27: derived-table subquery in FROM
    QueryDef(
      "a27_derived_table",
      (s, d) =>
        Tables.orders(s, d).groupBy("o_custkey")
          .agg(sum(cents("o_totalprice")).as("sc"), count(lit(1)).as("n"))
          .filter(col("sc") > col("n") * 15000000L)
          .select(col("o_custkey"),
            (col("sc").cast("double") / 100.0 / col("n")).as("avg_price")),
      Some("""SELECT o_custkey, avg_price FROM
             |  (SELECT o_custkey,
             |          CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS DOUBLE) / 100.0
             |            / COUNT(*) AS avg_price,
             |          SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS sc, COUNT(*) AS n
             |     FROM orders GROUP BY o_custkey) t
             | WHERE sc > n * 15000000""".stripMargin)),

    // A28: string fns — regexp_extract, length, LIKE, split, upper, substr.
    // DuckDB list indexing is 1-based, Spark's element_at is also 1-based →
    // split(p_type,' ')[1] in DuckDB == element_at(split(...), 1) in Spark.
    QueryDef(
      "a28_string_fns",
      (s, d) =>
        Tables.part(s, d)
          .filter(col("p_name").like("%red%"))
          .select(
            col("p_partkey"),
            regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
            length(col("p_name")).cast("long").as("name_len"),
            element_at(split(col("p_type"), " "), 1).as("type_word1"),
            upper(col("p_brand")).as("brand_uc"),
            substring(col("p_name"), 1, 5).as("name_pfx")),
      Some("""SELECT p_partkey,
             |       regexp_extract(p_type, '^(\w+)', 1) AS type_head,
             |       length(p_name) AS name_len,
             |       string_split(p_type, ' ')[1] AS type_word1,
             |       upper(p_brand) AS brand_uc,
             |       substr(p_name, 1, 5) AS name_pfx
             |  FROM part WHERE p_name LIKE '%red%'""".stripMargin)),

    // A29: list/higher-order fns — transform, filter, aggregate, size,
    // array_intersect. Built over a generated sequence so both engines see
    // identical list inputs.
    QueryDef(
      "a29_list_fns",
      (s, d) =>
        Tables.nation(s, d).select(
          col("n_nationkey"),
          size(sequence(lit(1), col("n_nationkey") + 1)).cast("long").as("n"),
          aggregate(sequence(lit(1), col("n_nationkey") + 1), lit(0L),
            (acc, x) => acc + x).as("list_sum"),
          // scaled must be ARRAY<BIGINT> to match duckdb generate_series
          size(array_intersect(
            sequence(lit(1), col("n_nationkey") + 1),
            sequence(lit(3), lit(12)))).cast("long").as("n_common"),
          // array cells crash the driver's pandas sort (ADVICE r2) —
          // serialize through to_json on BOTH sides (formats bit-match).
          to_json(transform(sequence(lit(1L), lit(3L)),
            x => x * col("n_nationkey"))).as("scaled")),
      Some("""SELECT n_nationkey,
             |       len(generate_series(1, n_nationkey + 1)) AS n,
             |       CAST(list_sum(generate_series(1, n_nationkey + 1)) AS BIGINT) AS list_sum,
             |       len(list_intersect(generate_series(1, n_nationkey + 1),
             |                          generate_series(3, 12))) AS n_common,
             |       CAST(to_json(list_transform(generate_series(1, 3), x -> x * n_nationkey)) AS VARCHAR) AS scaled
             |  FROM nation""".stripMargin)),

    // A30: map fns — map_from_entries + map['key'] lookup
    QueryDef(
      "a30_map_fns",
      (s, d) =>
        Tables.nation(s, d).select(
          col("n_nationkey"),
          map_from_entries(array(
            struct(lit("name").as("k"), col("n_name").as("v")),
            struct(lit("region").as("k"), col("n_regionkey").cast("string").as("v"))))
            .getItem("name").as("name_from_map")),
      Some("""SELECT n_nationkey,
             |       map_from_entries([struct_pack(k := 'name', v := n_name),
             |                         struct_pack(k := 'region', v := CAST(n_regionkey AS VARCHAR))])['name'][1]
             |         AS name_from_map
             |  FROM nation""".stripMargin)),

    // A31: struct pack + field access
    QueryDef(
      "a31_struct_access",
      (s, d) =>
        Tables.orders(s, d).select(
          col("o_orderkey"),
          struct(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
            .getField("p").as("price_via_struct")),
      Some("""SELECT o_orderkey,
             |       struct_pack(k := o_orderkey, p := o_totalprice).p AS price_via_struct
             |  FROM orders""".stripMargin)),

    // A32: JSON extraction from the events.props string column
    QueryDef(
      "a32_json_fns",
      (s, d) =>
        Tables.events(s, d).select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
             |  FROM events""".stripMargin)),

    // A33: casts — double→int (Spark truncates toward zero; DuckDB rounds,
    // so the oracle uses trunc to pin identical semantics), timestamp→date,
    // int→string
    QueryDef(
      "a33_casts",
      (s, d) =>
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("qty_int"),
          // date → ISO string: pandas reads Spark's DATE as python date
          // objects but DuckDB's as datetime64 — same values, different
          // physical dtype; the string form compares exactly.
          col("l_shipdate").cast("date").cast("string").as("ship_day"),
          col("l_suppkey").cast("string").as("supp_str")),
      Some("""SELECT l_orderkey, l_linenumber,
             |       CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
             |       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day,
             |       CAST(l_suppkey AS VARCHAR) AS supp_str
             |  FROM lineitem""".stripMargin)),

    // A34: date/time fns — year/month/day extraction + date_add + datediff
    QueryDef(
      "a34_date_fns",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
          .agg(count(lit(1)).as("n"))
          .select(col("y").cast("long"), col("m").cast("long"), col("n")),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
             |       CAST(month(o_orderdate) AS BIGINT) AS m, COUNT(*) AS n
             |  FROM orders GROUP BY 1, 2""".stripMargin)),

    // A36: COALESCE / NULLIF
    QueryDef(
      "a36_coalesce",
      (s, d) =>
        Tables.orders(s, d).select(
          col("o_orderkey"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status")),
      Some("""SELECT o_orderkey, COALESCE(NULLIF(o_orderstatus,'O'),'open') AS status
             |  FROM orders""".stripMargin)),

    // A37: ROLLUP — grouping-set aggregate. NULL group markers compare
    // equal across engines after the hash canonicalization.
    QueryDef(
      "a37_rollup",
      (s, d) =>
        Tables.lineitem(s, d)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg((sum(cents("l_quantity")).cast("double") / 100.0).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(SUM(CAST(ROUND(l_quantity*100,0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
             |  FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    // A38: VALUES inline table joined against real data
    QueryDef(
      "a38_values",
      (s, d) => {
        import s.implicits._
        val flags = Seq(("A", "returned"), ("N", "none"), ("R", "refused"))
          .toDF("flag", "meaning")
        Tables.lineitem(s, d).groupBy(col("l_returnflag").as("flag"))
          .agg(count(lit(1)).as("n"))
          .join(flags, "flag")
      },
      Some("""SELECT l.flag, l.n, v.meaning
             |  FROM (SELECT l_returnflag AS flag, COUNT(*) AS n FROM lineitem GROUP BY 1) l
             |  JOIN (VALUES ('A','returned'),('N','none'),('R','refused')) AS v(flag, meaning)
             |  USING (flag)""".stripMargin)),

    // A39: temp view + spark.sql over it (CREATE VIEW equivalent)
    QueryDef(
      "a39_view",
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("a39_supplier")
        s.sql("""SELECT s_nationkey, COUNT(*) AS n_supp
                |  FROM a39_supplier GROUP BY s_nationkey""".stripMargin)
      },
      Some("SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey")),

    // A40: COPY TO csv round-trip — write csv, read it back, return the
    // re-read relation (oracle = the same projection straight off parquet).
    QueryDef(
      "a40_copy_csv",
      (s, d) => {
        val out = s"/tmp/graft_a40_csv"
        Tables.region(s, d).select("r_regionkey", "r_name")
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
        s.read.option("header", "true")
          .schema("r_regionkey INT, r_name STRING").csv(out)
      },
      Some("SELECT r_regionkey, r_name FROM region")),

    // A2: CSV scan with explicit schema, comment-skip, null padding —
    // write a GFF-shaped fixture inline, read with the A2 options.
    QueryDef(
      "a02_csv_scan",
      (s, d) => {
        val out = "/tmp/graft_a02_fixture.csv"
        val pw = new java.io.PrintWriter(out)
        try pw.write("# comment line to skip\n1,alpha,10\n2,beta,\n3,gamma,30\n")
        finally pw.close()
        s.read.option("comment", "#").option("header", "false")
          .schema("id LONG, name STRING, score LONG").csv(out)
      },
      // The driver's DuckDB predates read_csv's `comment` param; the
      // fixture's only comment is line 1, so skip=1 is oracle-equivalent.
      Some("""SELECT * FROM read_csv('/tmp/graft_a02_fixture.csv',
             |  columns = {'id':'BIGINT','name':'VARCHAR','score':'BIGINT'},
             |  skip = 1, header = false, null_padding = true)""".stripMargin)),

    // A3: JSON scan. Spark's schema'd json reader over an NDJSON fixture;
    // oracle reads the same file with DuckDB read_json.
    QueryDef(
      "a03_json_scan",
      (s, d) => {
        val out = "/tmp/graft_a03_fixture.json"
        val pw = new java.io.PrintWriter(out)
        try pw.write(
          """{"id": 1, "tag": "x", "score": 1.5}
            |{"id": 2, "tag": "y", "score": 2.5}
            |{"id": 3, "tag": null, "score": 3.5}
            |""".stripMargin)
        finally pw.close()
        s.read.schema("id LONG, tag STRING, score DOUBLE").json(out)
      },
      Some("""SELECT id, tag, score FROM read_json('/tmp/graft_a03_fixture.json',
             |  columns = {'id':'BIGINT','tag':'VARCHAR','score':'DOUBLE'})""".stripMargin)),

    // A35: the five basic aggregates standalone (previously only inside
    // a11). Exact-cents sums/avgs; map-side partial agg, one shuffle.
    QueryDef(
      "a35_basic_aggs",
      (s, d) =>
        Tables.orders(s, d).agg(
          (sum(cents("o_totalprice")).cast("double") / 100.0).as("sum_price"),
          (sum(cents("o_totalprice")).cast("double") / 100.0 / count(lit(1)))
            .as("avg_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          count(lit(1)).as("n")),
      Some("""SELECT CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
             |       CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS DOUBLE) / 100.0
             |         / COUNT(*) AS avg_price,
             |       MIN(o_totalprice) AS min_price,
             |       MAX(o_totalprice) AS max_price,
             |       COUNT(*) AS n
             |  FROM orders""".stripMargin)),

    // A41 (beyond the §2A inventory): backward ASOF LEFT JOIN — the
    // reference engine's native `ASOF LEFT JOIN ... ON l.k = r.k AND
    // l.ts >= r.ts` (each click picks up the latest at-or-before error
    // for its user). Spark has no ASOF operator; the implementation is
    // the one-shuffle union/carry-forward form (ScalableOps), not a
    // per-row range probe. The oracle is DuckDB's ASOF JOIN itself, so
    // the semantics are pinned against the reference engine directly.
    QueryDef(
      "a41_asof_join",
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val errors = e.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("__rt"),
            col("ts").as("err_ts"), col("event_id").as("err_id"),
            col("value").as("err_value"))
        graft.ops.ScalableOps.asofJoinBackward(
          clicks, errors, Seq("user_id"), "ts", "__rt")
      },
      Some("""WITH clicks AS (
             |  SELECT event_id, user_id, ts, value FROM events
             |   WHERE event_type = 'click'),
             |errors AS (
             |  SELECT user_id, ts AS err_ts, event_id AS err_id,
             |         value AS err_value
             |    FROM events WHERE event_type = 'error')
             |SELECT c.event_id, c.user_id, c.ts, c.value,
             |       e.err_ts, e.err_id, e.err_value
             |  FROM clicks c ASOF LEFT JOIN errors e
             |    ON c.user_id = e.user_id AND c.ts >= e.err_ts""".stripMargin)),

    // A42 (beyond the inventory): interval containment join — clicks
    // within 5 minutes after each error, zero-filled counts. The
    // reference engine plans `BETWEEN start AND end` with its
    // inequality-join optimizer; Spark would nested-loop it, so the
    // implementation is the binned equi-join (ScalableOps
    // .rangeJoinBinned: explode intervals onto 5-minute bins, hash
    // join on (user, bin), exact containment post-filter).
    QueryDef(
      "a42_range_join",
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("c_us"))
        val errs = e.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("err_id"),
            unix_micros(col("ts").cast("timestamp")).as("start_us"),
            (unix_micros(col("ts").cast("timestamp")) + 300000000L).as("end_us"))
        val joined = graft.ops.ScalableOps.rangeJoinBinned(
          clicks, errs, Seq("user_id"), "c_us", "start_us", "end_us",
          binWidth = 300000000L)
        errs.select("err_id")
          .join(joined.groupBy(col("err_id")).agg(count(lit(1)).as("n")),
            Seq("err_id"), "left")
          .select(col("err_id"), coalesce(col("n"), lit(0L)).as("n_clicks"))
      },
      Some("""WITH clicks AS (
             |  SELECT user_id, epoch_us(ts) AS c_us FROM events
             |   WHERE event_type = 'click'),
             |errs AS (
             |  SELECT user_id, event_id AS err_id, epoch_us(ts) AS start_us,
             |         epoch_us(ts) + 300000000 AS end_us
             |    FROM events WHERE event_type = 'error')
             |SELECT e.err_id, COUNT(c.c_us) AS n_clicks
             |  FROM errs e LEFT JOIN clicks c
             |    ON c.user_id = e.user_id
             |   AND c.c_us BETWEEN e.start_us AND e.end_us
             | GROUP BY 1""".stripMargin)),

    // A43 (beyond the inventory): PIVOT — per-user event-type counts
    // as columns. Spark's relational pivot with an EXPLICIT value list
    // (deterministic output schema, no discovery scan); missing combos
    // zero-filled to match the oracle's conditional aggregation.
    QueryDef(
      "a43_pivot",
      (s, d) => {
        val p = Tables.events(s, d)
          .groupBy(col("user_id"))
          .pivot("event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
        p.select(col("user_id") +:
          Seq("click", "error", "purchase", "signup", "view")
            .map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      },
      Some("""SELECT user_id,
             |       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
             |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
             |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
             |       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
             |       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
             |  FROM events GROUP BY user_id""".stripMargin)),

    // A44 (beyond the inventory): time-based RANGE window frame — per
    // user, the moving 10-minute sum of `value`, exact-cents so the
    // running double sum can't drift off the oracle's. RANGE frames
    // over an epoch-micros ORDER BY are the portable spelling of the
    // reference's `RANGE BETWEEN INTERVAL ...` windows.
    QueryDef(
      "a44_time_range_window",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-600000000L, 0L)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"), LayerA1.cents("value").as("cents"))
          .withColumn("mov_value",
            (sum(col("cents")).over(w) / 100.0))
          .select(col("event_id"), col("user_id"), col("us"), col("mov_value"))
      },
      Some("""SELECT event_id, user_id, epoch_us(ts) AS us,
             |       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
             |         PARTITION BY user_id ORDER BY epoch_us(ts)
             |         RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW
             |       ) AS DOUBLE) / 100.0 AS mov_value
             |  FROM events""".stripMargin)),

    // A45 (beyond the inventory): ordered group list aggregation —
    // string_agg with ORDER BY and a sorted distinct list. Spark's
    // collect_list is order-nondeterministic by contract, so the
    // deterministic spelling is collect → sort_array(struct) →
    // transform, which both engines then agree on exactly.
    QueryDef(
      "a45_group_lists",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 200)
          .groupBy(col("l_orderkey"))
          .agg(
            concat_ws(",",
              transform(
                sort_array(collect_list(struct(
                  col("l_linenumber").as("o"), col("l_returnflag").as("v")))),
                x => x("v"))).as("flags_csv"),
            // Stringified (not a bare array column): the harness's
            // canonicalizer sorts/hashes scalar columns only, so both
            // engines emit the ordered set as one CSV scalar.
            array_join(sort_array(collect_set(col("l_returnflag"))), ",").as("flag_set")),
      Some("""SELECT l_orderkey,
             |       string_agg(l_returnflag, ',' ORDER BY l_linenumber, l_returnflag) AS flags_csv,
             |       array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flag_set
             |  FROM lineitem WHERE l_orderkey <= 200 GROUP BY 1""".stripMargin)),

    // A46 (beyond the inventory): CUBE — all grouping-set combinations
    // (a37 covers ROLLUP's prefix sets). Exact-cents sums as always.
    QueryDef(
      "a46_cube",
      (s, d) =>
        Tables.orders(s, d)
          .cube(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            (sum(cents("o_totalprice")).cast("double") / 100.0).as("total")),
      Some("""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
             |       CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS DOUBLE) / 100.0 AS total
             |  FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin)),

    // A47 (beyond the inventory): UNPIVOT/melt — wide per-part numeric
    // columns to (part, metric, value) long form. Spark's native
    // unpivot operator vs DuckDB's UNPIVOT.
    QueryDef(
      "a47_unpivot",
      (s, d) =>
        Tables.part(s, d)
          .select(col("p_partkey"), col("p_size").cast("double").as("size"),
            col("p_retailprice").as("retailprice"))
          .unpivot(Array(col("p_partkey")),
            Array(col("size"), col("retailprice")), "metric", "val"),
      Some("""SELECT p_partkey, metric, val FROM (
             |  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
             |         p_retailprice AS retailprice FROM part)
             |UNPIVOT (val FOR metric IN (size, retailprice))""".stripMargin)),

    // A48 (beyond the inventory): correlated scalar subquery —
    // Catalyst decorrelates it into an aggregate + left join (the same
    // rewrite the reference's flattening optimizer applies), so the
    // declarative form stays scale-safe.
    QueryDef(
      "a48_correlated_subquery",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("a48_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("a48_lineitem")
        s.sql("""SELECT o_orderkey,
                |       (SELECT COUNT(*) FROM a48_lineitem l
                |         WHERE l.l_orderkey = o.o_orderkey) AS n_lines
                |  FROM a48_orders o WHERE o_orderkey <= 1000""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |       (SELECT COUNT(*) FROM lineitem l
             |         WHERE l.l_orderkey = o.o_orderkey) AS n_lines
             |  FROM orders o WHERE o_orderkey <= 1000""".stripMargin)),

    // A49 (beyond the inventory): the TPC-H Q5 shape — a 5-table join
    // (two fact-sized, three dims) with discounted-revenue rollup.
    // The two dims broadcast (nation/region are tiny by schema), the
    // fact-fact join shuffles on orderkey, and revenue is summed in
    // exact 1e-4 units (cents × discount-hundredths) so the double
    // division at the end is the ONLY float op — hash-stable vs the
    // oracle regardless of either engine's join/agg order.
    QueryDef(
      "a49_q5_shape",
      (s, d) => {
        val rev = (cents("l_extendedprice") *
          (lit(100L) - cents("l_discount"))).as("rev4")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), rev)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)
            .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg((sum(col("rev4")).cast("double") / 10000.0).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT r_name, n_name,
             |       CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
             |                * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))) AS DOUBLE)
             |         / 10000.0 AS revenue,
             |       COUNT(*) AS n_items
             |  FROM lineitem
             |  JOIN orders   ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation   ON c_nationkey = n_nationkey
             |  JOIN region   ON n_regionkey = r_regionkey
             | GROUP BY 1, 2""".stripMargin)),

    // A50 (beyond the inventory): arg_max / arg_min aggregates —
    // DuckDB-native arg_max(x, y) vs Spark's max_by/min_by. The
    // ranking scalar folds the unique event_id into the low digits
    // (cents·10^10 + id) so ties on value are impossible and both
    // engines pick the SAME row deterministically — an arg_max over a
    // tied ordering is unspecified in both engines and would flake
    // the hash compare.
    QueryDef(
      "a50_arg_extremes",
      (s, d) => {
        val rank = LayerA1.cents("value") * lit(10000000000L) + col("event_id")
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(max_by(col("event_id"), rank).as("top_event"),
            min_by(col("event_id"), rank).as("bottom_event"),
            (max(LayerA1.cents("value")).cast("double") / 100.0).as("max_value"))
      },
      Some("""SELECT event_type,
             |       arg_max(event_id, CAST(floor(value*100 + 0.5) AS BIGINT)*10000000000 + event_id) AS top_event,
             |       arg_min(event_id, CAST(floor(value*100 + 0.5) AS BIGINT)*10000000000 + event_id) AS bottom_event,
             |       CAST(MAX(CAST(floor(value*100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS max_value
             |  FROM events GROUP BY event_type""".stripMargin)),

    // A51 (beyond the inventory): exact median / continuous quantile
    // aggregates — both engines interpolate at rank (n-1)·q, and
    // l_quantity is integral, so the .25-step interpolated values are
    // exact in double.
    QueryDef(
      "a51_median_quantile",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(median(col("l_quantity")).as("med_qty"),
            percentile(col("l_quantity"), lit(0.25)).as("q1_qty"),
            percentile(col("l_quantity"), lit(0.9)).as("p90_qty"),
            count(lit(1)).as("n")),
      Some("""SELECT l_returnflag,
             |       median(l_quantity) AS med_qty,
             |       quantile_cont(l_quantity, 0.25) AS q1_qty,
             |       quantile_cont(l_quantity, 0.90) AS p90_qty,
             |       COUNT(*) AS n
             |  FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // A52 (beyond the inventory): rank-family window functions —
    // ntile / percent_rank / cume_dist. The in-partition order folds
    // the unique o_orderkey under the price so every rank is
    // deterministic; percent_rank/cume_dist are exact small rationals
    // both engines compute identically in double.
    QueryDef(
      "a52_rank_windows",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(LayerA1.cents("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .filter(col("o_orderkey") <= 2000)
          .select(col("o_orderkey"), col("o_orderpriority"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("prank"),
            cume_dist().over(w).as("cdist"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |       percent_rank() OVER w AS prank,
             |       cume_dist() OVER w AS cdist
             |  FROM orders WHERE o_orderkey <= 2000
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY CAST(floor(o_totalprice*100 + 0.5) AS BIGINT), o_orderkey)""".stripMargin)),

    // A53 (beyond the inventory): explicit GROUPING SETS with
    // grouping_id — the general form a37 ROLLUP / a46 CUBE are sugar
    // for (Spark 4's Dataset.groupingSets).
    QueryDef(
      "a53_grouping_sets",
      (s, d) =>
        Tables.orders(s, d)
          .groupingSets(
            Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            (sum(LayerA1.cents("o_totalprice")).cast("double") / 100.0).as("total"),
            grouping_id().as("gid")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             |       CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
             |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
             |  FROM orders
             | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    // A54 (beyond the inventory): statistical aggregates — stddev /
    // variance / covariance / correlation / regression slope.
    // Deliberately NOT Spark's stddev_samp/corr builtins: those use
    // merge-order-dependent float accumulation, so the last bits vary
    // with partitioning and can flake a hash compare. Instead both
    // engines compute the five INTEGER moments (Σx, Σy, Σx², Σy², Σxy
    // — map-side-combinable longs, one reduce) and derive every
    // statistic with the same exact-numerator closed form; the only
    // floats are final correctly-rounded divisions/sqrts of identical
    // integers. x = l_quantity (integral), y = whole dollars of
    // l_extendedprice; l_orderkey <= 20000 bounds every moment far
    // under 2^53 at any SF.
    QueryDef(
      "a54_stats_aggs",
      (s, d) => {
        val x = col("l_quantity").cast("long")
        val y = floor(cents("l_extendedprice") / 100).cast("long")
        val m = Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 20000)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x * x).as("sxx"), sum(y * y).as("syy"),
            sum(x * y).as("sxy"))
        val n = col("n")
        val dd = (c: Column) => c.cast("double")
        val varNumX = n * col("sxx") - col("sx") * col("sx")
        val varNumY = n * col("syy") - col("sy") * col("sy")
        val covNum = n * col("sxy") - col("sx") * col("sy")
        m.select(col("l_returnflag"), n,
          (dd(varNumX) / dd(n * (n - 1))).as("var_qty"),
          sqrt(dd(varNumX) / dd(n * (n - 1))).as("stddev_qty"),
          (dd(covNum) / dd(n * (n - 1))).as("covar_qty_usd"),
          (dd(covNum) / (sqrt(dd(varNumX)) * sqrt(dd(varNumY)))).as("corr_qty_usd"),
          (dd(covNum) / dd(varNumX)).as("slope_usd_per_qty"))
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |         SUM(x) AS sx, SUM(y) AS sy,
             |         SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
             |    FROM (SELECT l_returnflag,
             |                 CAST(l_quantity AS BIGINT) AS x,
             |                 CAST(floor(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) / 100) AS BIGINT) AS y
             |            FROM lineitem WHERE l_orderkey <= 20000)
             |   GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |       CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) AS var_qty,
             |       sqrt(CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)) AS stddev_qty,
             |       CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) AS covar_qty_usd,
             |       CAST(n*sxy - sx*sy AS DOUBLE)
             |         / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS corr_qty_usd,
             |       CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope_usd_per_qty
             |  FROM m""".stripMargin)),

    // A55 (beyond the inventory): DISTINCT ON — DuckDB's
    // first-row-per-key (here: each nation's richest customer).
    // Spark has no DISTINCT ON; the canonical composition is
    // row_number over the same ordering + rn = 1, which Catalyst
    // executes as one shuffle on the key with per-partition sort —
    // and at scale never materializes the full sort (WindowGroupLimit
    // pushes the rn <= 1 limit into the shuffle). c_custkey is unique
    // so the ordering is tie-free on both engines.
    QueryDef(
      "a55_distinct_on",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(cents("c_acctbal").desc, col("c_custkey"))
        Tables.customer(s, d)
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
            row_number().over(w).as("rn"))
          .filter(col("rn") === 1)
          .select(col("c_nationkey"), col("c_custkey"),
            (cents("c_acctbal").cast("double") / 100.0).as("acctbal"))
      },
      Some("""SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey,
             |       CAST(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS acctbal
             |  FROM customer
             | ORDER BY c_nationkey,
             |          CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) DESC, c_custkey""".stripMargin)),

    // A56 (beyond the inventory): boolean and bitwise aggregates —
    // bool_and/bool_or + bit_and/bit_or/bit_xor, identical names in
    // both engines (all map-side combinable; bit_xor is the parity
    // fold used for cheap set-difference checks).
    QueryDef(
      "a56_bool_bit_aggs",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(bool_and(col("l_quantity") > 1).as("all_multi"),
            bool_or(col("l_tax") > 0.07).as("any_high_tax"),
            bit_and(col("l_linenumber").cast("long")).as("ln_and"),
            bit_or(col("l_linenumber").cast("long")).as("ln_or"),
            bit_xor(col("l_partkey").cast("long")).as("part_parity")),
      Some("""SELECT l_returnflag,
             |       bool_and(l_quantity > 1) AS all_multi,
             |       bool_or(l_tax > 0.07) AS any_high_tax,
             |       bit_and(CAST(l_linenumber AS BIGINT)) AS ln_and,
             |       bit_or(CAST(l_linenumber AS BIGINT)) AS ln_or,
             |       bit_xor(CAST(l_partkey AS BIGINT)) AS part_parity
             |  FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // A57 (beyond the inventory): window frame EXCLUDE CURRENT ROW —
    // SQL:2016 frame exclusion the reference engine supports natively
    // and Spark does not. Composed exactly: sum over the full ±2-rows
    // frame minus the current row's value — one WindowExec, no second
    // pass. Exact cents; o_orderkey folds uniqueness into the order.
    QueryDef(
      "a57_window_exclude",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_orderkey"))
          .rowsBetween(-2, 2)
        // SQL:2016: EXCLUDE CURRENT ROW over a frame holding only the
        // current row sums an EMPTY frame → NULL, not 0. The sum-minus-
        // current composition alone would yield 0 for a single-row
        // partition; the count-guard (same frame, same WindowExec — no
        // second exchange/sort) restores the NULL. TPC-H priority
        // partitions are never size 1, but the operator must not rely
        // on that (r8 ADVICE).
        Tables.orders(s, d)
          .filter(col("o_orderkey") <= 4000)
          .select(col("o_orderkey"), col("o_orderpriority"),
            when(count(lit(1)).over(w) > 1,
              (sum(cents("o_totalprice")).over(w) - cents("o_totalprice"))
                .cast("double") / 100.0).as("neighbor_total"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |       CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
             |              OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
             |                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
             |                    EXCLUDE CURRENT ROW) AS DOUBLE) / 100.0 AS neighbor_total
             |  FROM orders WHERE o_orderkey <= 4000""".stripMargin)),

    // A58 (beyond the inventory): correlated LATERAL subquery with
    // ORDER BY + LIMIT (top-2 customers per nation) — both engines run
    // the same SQL shape; Spark decorrelates the lateral into a
    // rank-window under the hood (no per-row re-execution), which is
    // exactly the plan a hand-written composition would build. Exact
    // cents + unique-key tie-break keep the LIMIT cut deterministic.
    QueryDef(
      "a58_lateral",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("nation_a58")
        Tables.customer(s, d).createOrReplaceTempView("customer_a58")
        s.sql("""SELECT n.n_name, c.c_custkey, c.acct
                |  FROM nation_a58 n,
                |  LATERAL (SELECT c_custkey,
                |                  CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS acct
                |             FROM customer_a58
                |            WHERE c_nationkey = n.n_nationkey
                |            ORDER BY acct DESC, c_custkey LIMIT 2) c""".stripMargin)
      },
      Some("""SELECT n.n_name, c.c_custkey, c.acct
             |  FROM nation n,
             |  LATERAL (SELECT c_custkey,
             |                  CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS acct
             |             FROM customer
             |            WHERE c_nationkey = n.n_nationkey
             |            ORDER BY acct DESC, c_custkey LIMIT 2) c""".stripMargin)),

    // A59 (beyond the inventory): forward ASOF LEFT JOIN — each click
    // picks up the EARLIEST at-or-after error for its user (the
    // "next event" direction; a41 is the backward twin). Oracle is
    // DuckDB's native ASOF with l.ts <= r.ts.
    QueryDef(
      "a59_asof_forward",
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val errors = e.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("__rt"),
            col("ts").as("err_ts"), col("event_id").as("err_id"),
            col("value").as("err_value"))
        graft.ops.ScalableOps.asofJoinForward(
          clicks, errors, Seq("user_id"), "ts", "__rt")
      },
      Some("""WITH clicks AS (
             |  SELECT event_id, user_id, ts, value FROM events
             |   WHERE event_type = 'click'),
             |errors AS (
             |  SELECT user_id, ts AS err_ts, event_id AS err_id,
             |         value AS err_value
             |    FROM events WHERE event_type = 'error')
             |SELECT c.event_id, c.user_id, c.ts, c.value,
             |       e.err_ts, e.err_id, e.err_value
             |  FROM clicks c ASOF LEFT JOIN errors e
             |    ON c.user_id = e.user_id AND c.ts <= e.err_ts""".stripMargin)),

    // A60 (beyond the inventory): LEAD/LAG with IGNORE NULLS — gap
    // bridging over sparse columns (both engines support the SQL:2011
    // null treatment natively). The nullable column is derived
    // identically on both sides (value only on 'click' rows).
    QueryDef(
      "a60_ignore_nulls",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("click_value",
            when(col("event_type") === "click", col("value")))
          .select(col("event_id"), col("user_id"),
            lag(col("click_value"), 1, null, ignoreNulls = true).over(w)
              .as("prev_click"),
            lead(col("click_value"), 1, null, ignoreNulls = true).over(w)
              .as("next_click"))
      },
      Some("""SELECT event_id, user_id,
             |       lag(click_value, 1 IGNORE NULLS) OVER w AS prev_click,
             |       lead(click_value, 1 IGNORE NULLS) OVER w AS next_click
             |  FROM (SELECT event_id, user_id, ts,
             |               CASE WHEN event_type = 'click' THEN value END AS click_value
             |          FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // A61 (beyond the inventory): QUALIFY — filter on a window result
    // without a derived table (DuckDB/modern-SQL syntax). Spark
    // expresses it as window + filter; the plan is identical (one
    // WindowGroupLimit-able exchange), the oracle uses QUALIFY proper.
    QueryDef(
      "a61_qualify",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(LayerA1.cents("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_orderpriority"), col("o_orderkey"),
            (LayerA1.cents("o_totalprice").cast("double") / 100.0)
              .as("total"), col("rn").cast("long").as("rn"))
      },
      Some("""SELECT o_orderpriority, o_orderkey,
             |       CAST(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS total,
             |       CAST(row_number() OVER w AS BIGINT) AS rn
             |  FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) DESC, o_orderkey)
             |QUALIFY rn <= 3""".stripMargin)),

    // A62 (beyond the inventory): GROUPS window frame (SQL:2011 frame
    // mode Spark lacks). Composed: dense_rank numbers the peer groups,
    // then a RANGE frame over that rank IS the GROUPS frame — exact
    // semantics, one extra window column, both windows share the same
    // partitioning/ordering so Spark plans a single exchange+sort.
    QueryDef(
      "a62_groups_frame",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byDate = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_orderdate"))
        val byGroup = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("grp")).rangeBetween(-1, Window.currentRow)
        Tables.orders(s, d)
          .filter(col("o_orderkey") <= 4000)
          .withColumn("grp", dense_rank().over(byDate))
          .withColumn("grp_sum",
            (sum(LayerA1.cents("o_totalprice")).over(byGroup)
              .cast("double") / 100.0))
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("grp").cast("long").as("grp"), col("grp_sum"))
      },
      // DuckDB's parser rejects GROUPS mode too ("not implemented
      // yet", verified 2026-08) — the oracle re-derives the SQL:2011
      // semantics with the same dense_rank→RANGE peer-group identity.
      Some("""WITH g AS (
             |  SELECT o_orderkey, o_orderpriority,
             |         CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents,
             |         CAST(dense_rank() OVER (PARTITION BY o_orderpriority
             |                                 ORDER BY o_orderdate) AS BIGINT) AS grp
             |    FROM orders WHERE o_orderkey <= 4000)
             |SELECT o_orderkey, o_orderpriority, grp,
             |       CAST(SUM(cents) OVER (PARTITION BY o_orderpriority ORDER BY grp
             |                             RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |         / 100.0 AS grp_sum
             |  FROM g""".stripMargin)),

    // A63 (beyond the inventory): mode() + percentile_disc (DuckDB
    // quantile_disc). percentile_disc is DuckDB's builtin on the
    // oracle side — probed convention: the element at rank ceil(p·n),
    // 1-based, i.e. the smallest value whose cume_dist ≥ p — and
    // Spark re-derives exactly that rank with a window (no exact
    // grouped percentile_disc builtin exists). mode is the a54 call
    // repeated: SQL leaves mode ties implementation-defined, which a
    // distributed engine can't hash-match against a single-threaded
    // oracle, so BOTH sides pin the tie-break (count DESC, value ASC)
    // explicitly — the groupBy-count + max(struct) formulation below
    // IS the scalable distributed mode (two partial-agg shuffles, no
    // per-group value lists).
    QueryDef(
      "a63_mode_percentile_disc",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
        val mode = li.groupBy(col("l_returnflag"), col("l_quantity")).count()
          .groupBy(col("l_returnflag"))
          .agg(max(struct(col("count").as("c"), (-col("l_quantity")).as("nq"))).as("m"))
          .select(col("l_returnflag"), (-col("m.nq")).as("mode_qty"),
            col("m.c").as("n_mode"))
        val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        val disc = li
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("l_returnflag"))))
          .groupBy(col("l_returnflag"))
          .agg(
            min(when(col("rn") === ceil(col("n") * lit(0.5)).cast("long"),
              col("l_quantity"))).as("median_qty"),
            min(when(col("rn") === ceil(col("n") * lit(0.9)).cast("long"),
              col("l_quantity"))).as("p90_qty"))
        mode.join(disc, "l_returnflag")
          .select(col("l_returnflag"), col("mode_qty"), col("n_mode"),
            col("median_qty"), col("p90_qty"))
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, l_quantity AS mode_qty, COUNT(*) AS n_mode
             |    FROM lineitem GROUP BY 1, 2
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |                             ORDER BY COUNT(*) DESC, l_quantity) = 1),
             |q AS (
             |  SELECT l_returnflag,
             |         quantile_disc(l_quantity, 0.5) AS median_qty,
             |         quantile_disc(l_quantity, 0.9) AS p90_qty
             |    FROM lineitem GROUP BY 1)
             |SELECT m.l_returnflag, m.mode_qty, m.n_mode, q.median_qty, q.p90_qty
             |  FROM m JOIN q USING (l_returnflag)""".stripMargin)),

    // A64 (beyond the inventory): generate_series / range table
    // function as a date spine — the gaps-included monthly report
    // every BI layer on the reference relies on. Spark expresses the
    // table function as explode(sequence(start, stop, interval)); the
    // spine is rows-tiny so Spark broadcasts it and the month counts
    // arrive from ONE partial-aggregated exchange of the orders scan.
    QueryDef(
      "a64_generate_series",
      (s, d) => {
        val spine = Tables.orders(s, d).sparkSession.range(1)
          .select(explode(sequence(
            lit(java.sql.Date.valueOf("1992-01-01")),
            lit(java.sql.Date.valueOf("1998-12-01")),
            expr("interval 1 month"))).as("month"))
        val monthly = Tables.orders(s, d)
          .groupBy(trunc(col("o_orderdate"), "MM").as("month"))
          .agg(count(lit(1)).as("n_orders"),
            (sum(LayerA1.cents("o_totalprice")).cast("double") / 100.0)
              .as("revenue"))
        spine.join(monthly, Seq("month"), "left")
          // stringified like a34's ship_day: Spark writes date32,
          // DuckDB returns datetime64 — same VALUE, drifting physical
          // dtype under the driver's hash
          .select(date_format(col("month"), "yyyy-MM-dd").as("month"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("revenue"), lit(0.0)).as("revenue"))
      },
      Some("""WITH s AS (
             |  SELECT CAST(gs AS DATE) AS month
             |    FROM generate_series(DATE '1992-01-01', DATE '1998-12-01',
             |                         INTERVAL 1 MONTH) g(gs)),
             |c AS (
             |  SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_orders,
             |         CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS DOUBLE)
             |           / 100.0 AS revenue
             |    FROM orders GROUP BY 1)
             |SELECT CAST(s.month AS VARCHAR) AS month,
             |       COALESCE(c.n_orders, 0) AS n_orders,
             |       COALESCE(c.revenue, 0.0) AS revenue
             |  FROM s LEFT JOIN c USING (month)""".stripMargin)),

    // A65 (beyond the inventory): first_value / last_value / nth_value
    // over an explicit ROWS frame — same-name window builtins in both
    // engines; the unique o_orderkey ordering makes every value
    // deterministic (the repo's tie-free window rule).
    QueryDef(
      "a65_value_windows",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_orderkey")).rowsBetween(-2, 2)
        Tables.orders(s, d)
          .filter(col("o_orderkey") <= 4000)
          .withColumn("cents", LayerA1.cents("o_totalprice"))
          .select(col("o_orderkey"), col("o_orderpriority"),
            first(col("cents")).over(w).as("frame_first"),
            last(col("cents")).over(w).as("frame_last"),
            nth_value(col("cents"), 2).over(w).as("frame_second"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |       first_value(cents) OVER w AS frame_first,
             |       last_value(cents) OVER w AS frame_last,
             |       nth_value(cents, 2) OVER w AS frame_second
             |  FROM (SELECT o_orderkey, o_orderpriority,
             |               CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents
             |          FROM orders WHERE o_orderkey <= 4000)
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
             |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)""".stripMargin)),

    // A66 (beyond the inventory): Levenshtein edit distance — the
    // fuzzy-match scalar both engines ship natively (Spark
    // `levenshtein`, DuckDB `levenshtein`), exercised as a
    // fuzzy-dedup-style banding of nation names against a probe
    // string.
    QueryDef(
      "a66_levenshtein",
      (s, d) =>
        Tables.nation(s, d)
          .select(col("n_name"),
            levenshtein(col("n_name"), lit("UNITED STATES")).cast("long")
              .as("lev"))
          .withColumn("band",
            when(col("lev") <= 2, "exactish")
              .when(col("lev") <= 8, "near").otherwise("far")),
      Some("""SELECT n_name,
             |       CAST(levenshtein(n_name, 'UNITED STATES') AS BIGINT) AS lev,
             |       CASE WHEN levenshtein(n_name, 'UNITED STATES') <= 2 THEN 'exactish'
             |            WHEN levenshtein(n_name, 'UNITED STATES') <= 8 THEN 'near'
             |            ELSE 'far' END AS band
             |  FROM nation""".stripMargin)),

    // A67: width_bucket equi-width histogram. Spark's native
    // width_bucket (codegen'd) vs the oracle's re-derived arithmetic —
    // DuckDB lacks the function, so the SQL mirrors Spark's exact
    // evaluation order ((v−min)/((max−min)/n), both double ops, floor
    // to long, +1; <min → 0, ≥max → n+1) for bit-equal bucket ids.
    QueryDef(
      "a67_width_bucket_histogram",
      (s, d) =>
        Tables.orders(s, d)
          .select(expr("width_bucket(o_totalprice, 0.0, 600000.0, 12)")
            .as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_orders")),
      Some("""WITH b AS (
             |  SELECT CASE WHEN o_totalprice < 0.0 THEN 0
             |              WHEN o_totalprice >= 600000.0 THEN 13
             |              ELSE CAST(floor((o_totalprice - 0.0) / ((600000.0 - 0.0) / 12)) AS BIGINT) + 1
             |         END AS bucket
             |    FROM orders)
             |SELECT bucket, COUNT(*) AS n_orders FROM b GROUP BY bucket""".stripMargin)),

    // A68: regexp_extract_all → rows (pattern extraction as a table
    // shape, the log/scrape-parsing staple): every integer token in
    // the order comment, exploded with its position, filtered to
    // multi-digit. Spark regexp_extract_all + posexplode vs DuckDB
    // regexp_extract_all + unnest WITH ORDINALITY-equivalent.
    QueryDef(
      "a68_regexp_extract_rows",
      (s, d) =>
        Tables.documents(s, d)
          .filter(col("doc_id") < 200)
          .select(col("doc_id"),
            posexplode(expr("regexp_extract_all(text, '[a-z]{6,}', 0)"))
              .as(Seq("pos", "word")))
          .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
            col("word"))
          .filter(length(col("word")) >= 7),
      Some("""WITH m AS (
             |  SELECT doc_id, regexp_extract_all(text, '[a-z]{6,}') AS ws
             |    FROM documents WHERE doc_id < 200),
             |u AS (
             |  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS pos
             |    FROM m)
             |SELECT doc_id, CAST(pos AS BIGINT) AS pos, ws[pos] AS word
             |  FROM u WHERE length(ws[pos]) >= 7""".stripMargin)),

    // A69: string_agg with DISTINCT + ORDER BY (the reporting staple
    // SQL:2023 standardizes as LISTAGG). Spark has no ordered
    // string_agg — compose sort_array(collect_set) + concat_ws, which
    // pins the same deterministic (distinct, ascending) contract the
    // oracle's string_agg(DISTINCT ... ORDER BY) declares.
    QueryDef(
      "a69_string_agg_distinct",
      (s, d) =>
        Tables.customer(s, d)
          .groupBy(col("c_nationkey"))
          .agg(
            concat_ws(",", sort_array(collect_set(col("c_mktsegment"))))
              .as("segments"),
            countDistinct(col("c_mktsegment")).as("n_segments")),
      Some("""SELECT c_nationkey,
             |       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
             |       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
             |  FROM customer GROUP BY c_nationkey""".stripMargin)),

    // A70: bitwise scalar operators (&, |, xor, shifts) — the flag-
    // word manipulation surface (the reference leans on SAM flag bits;
    // this is the generic relational face of the same machinery).
    // Spark and DuckDB share two's-complement BIGINT semantics.
    QueryDef(
      "a70_bitwise_ops",
      (s, d) =>
        Tables.orders(s, d)
          .filter(col("o_orderkey") < 2000)
          .select(col("o_orderkey"),
            (col("o_orderkey").bitwiseAND(lit(255L))).as("low8"),
            (col("o_orderkey").bitwiseOR(lit(4096L))).as("with_flag"),
            (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("mixed"),
            shiftleft(col("o_orderkey"), 3).cast("long").as("shl3"),
            shiftright(col("o_orderkey"), 2).cast("long").as("shr2")),
      Some("""SELECT o_orderkey,
             |       o_orderkey & 255 AS low8,
             |       o_orderkey | 4096 AS with_flag,
             |       xor(o_orderkey, o_custkey) AS mixed,
             |       o_orderkey << 3 AS shl3,
             |       o_orderkey >> 2 AS shr2
             |  FROM orders WHERE o_orderkey < 2000""".stripMargin)),

    // A71: TRY_CAST — the safe-ingest casting semantics (malformed
    // input → NULL, never a failed job; the difference between one
    // bad row killing a 100 TB ingest and one NULL in a quality
    // column). Deterministic mixed-validity strings derived from keys;
    // decimal-string → int inputs deliberately avoided (DuckDB rounds
    // '12.5', Spark nulls it — a documented dialect corner outside
    // this row's contract).
    QueryDef(
      "a71_try_cast",
      (s, d) =>
        Tables.orders(s, d)
          .filter(col("o_orderkey") < 3000)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 3 === 0, col("o_orderkey").cast("string"))
              .when(col("o_orderkey") % 3 === 1,
                concat(lit("x"), col("o_orderkey").cast("string")))
              .otherwise(concat(lit("  "), col("o_orderkey").cast("string"),
                lit(" ")))
              .as("raw"))
          .select(col("o_orderkey"), col("raw"),
            expr("try_cast(raw AS BIGINT)").as("as_int"),
            expr("CAST(try_cast(CASE WHEN o_orderkey % 2 = 0 THEN '2024-01-15' " +
              "ELSE '2024-13-45' END AS DATE) AS STRING)").as("as_date")),
      Some("""WITH t AS (
             |  SELECT o_orderkey,
             |         CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey AS VARCHAR)
             |              WHEN o_orderkey % 3 = 1 THEN 'x' || CAST(o_orderkey AS VARCHAR)
             |              ELSE '  ' || CAST(o_orderkey AS VARCHAR) || ' ' END AS raw
             |    FROM orders WHERE o_orderkey < 3000)
             |SELECT o_orderkey, raw,
             |       TRY_CAST(raw AS BIGINT) AS as_int,
             |       CAST(TRY_CAST(CASE WHEN o_orderkey % 2 = 0 THEN '2024-01-15'
             |                          ELSE '2024-13-45' END AS DATE) AS VARCHAR) AS as_date
             |  FROM t""".stripMargin)),

    // A72: POSITIONAL JOIN — DuckDB's row-aligned zip, with the order
    // made EXPLICIT (a distributed engine has no physical row order;
    // the deterministic contract is "row i under sort key X pairs with
    // row i under sort key Y", which is also the only form an external
    // engine can re-derive). 25-row nation zipped against 5-row region
    // exercises the NULL padding of the shorter side. Spark shape:
    // two range-partitioned global row-number passes + one full-outer
    // equi-join — no 1-task sort (ScalableOps.positionalJoin).
    QueryDef(
      "a72_positional_join",
      (s, d) => graft.ops.ScalableOps.positionalJoin(
        Tables.nation(s, d).select("n_nationkey", "n_name"),
        Seq(col("n_nationkey")),
        Tables.region(s, d).select("r_regionkey", "r_name"),
        Seq(col("r_regionkey"))),
      Some("""SELECT n.n_nationkey, n.n_name, r.r_regionkey, r.r_name
             |  FROM (SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey) n
             |  POSITIONAL JOIN
             |       (SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey) r""".stripMargin)),

    // A73: COPY TO parquet PARTITION_BY + partition-pruned read-back —
    // at 100 TB the OUTPUT LAYOUT is the product (hive-partitioned
    // dirs are what every downstream reader prunes on). Write supplier
    // partitioned by nationkey, read back ONE partition: the scan must
    // prune at file listing (the same mechanism x16 serves through),
    // and the values must round-trip exactly. The oracle re-derives
    // the partition's content from the source table.
    QueryDef(
      "a73_copy_parquet_partitioned",
      (s, d) => {
        // sfDir-tagged path (r10 advice): a fixed shared path let two
        // concurrent runs (sf0.01 verify overlapping an sf0.1 sweep)
        // overwrite each other mid-read — flaky mismatches vs the
        // run's own oracle. Same tagging pattern as
        // ProductionChecks.cachedDir.
        val tag = new java.io.File(d).getAbsolutePath
          .replaceAll("[^A-Za-z0-9]", "_")
        val out = new java.io.File(
          sys.props("java.io.tmpdir"), s"graft_a73_parquet$tag").getAbsolutePath
        Tables.supplier(s, d)
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
          .write.mode("overwrite").partitionBy("s_nationkey").parquet(out)
        s.read.parquet(out)
          .filter(col("s_nationkey") === 3)
          .select(col("s_suppkey"), col("s_name"),
            col("s_nationkey").cast("long").as("s_nationkey"),
            col("s_acctbal"))
      },
      Some("""SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal
             |  FROM supplier WHERE s_nationkey = 3""".stripMargin)),

    // A74: GROUP BY ALL — the projection-derived grouping DuckDB users
    // lean on constantly (r10 verdict #9). Spark supports the same
    // syntax natively (3.4+), so the SAME text runs on both engines:
    // every non-aggregate select item becomes a grouping key.
    QueryDef(
      "a74_group_by_all",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(GroupByAllSql)
      },
      Some(GroupByAllSql)),

    // A75: the full 22-query TPC-H suite as ONE registration — see
    // TpchSuite's scaladoc for the schema adaptations and the
    // exact-arithmetic rules. One SQL text, both engines.
    QueryDef(
      "a75_tpch_suite",
      (s, d) => TpchSuite.run(s, d),
      Some(TpchSuite.Sql)),

    // A76: COUNT(DISTINCT x) OVER (PARTITION BY ...) — DuckDB supports
    // DISTINCT aggregates as window functions (duckdb window_executor);
    // Spark does not. The idiomatic composition is
    // size(collect_set(x)) over the same partition: collect_set
    // dedups and ignores NULLs exactly as COUNT(DISTINCT) does, and
    // the frameless partition aggregate stays one WindowExec pass.
    QueryDef(
      "a76_window_count_distinct",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          size(collect_set(col("l_suppkey")).over(w)).cast("bigint").as("n_supp"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       COUNT(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey) AS n_supp
             |  FROM lineitem""".stripMargin)),

    // A77: histogram(x) map-typed aggregate (DuckDB's histogram()
    // returns MAP(x, count)). Spark has no map-typed aggregate; the
    // composition is a two-level aggregate — groupBy(key, x) count,
    // then map_from_entries over the key-sorted entry list. The map
    // itself is built (the operator under test); the dumped comparison
    // column is a canonical "key:count,..." STRING — the r12 driver
    // checker's pandas sort_values dies on array-of-struct cells
    // (unhashable ndarray), so like a29/a45/b05 the nested value is
    // serialized on BOTH sides before the dump. Entry order is pinned
    // by an explicit sort of the entries list on each engine.
    QueryDef(
      "a77_histogram_agg",
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_linenumber"))
          .agg(count(lit(1)).as("value"))
          .groupBy(col("l_returnflag"))
          .agg(map_from_entries(sort_array(collect_list(
            struct(col("l_linenumber").as("key"), col("value"))))).as("h"))
          .select(col("l_returnflag"),
            array_join(transform(sort_array(map_entries(col("h"))),
              e => concat(e.getField("key"), lit(":"), e.getField("value"))),
              ",").as("hist"))
      },
      Some("""SELECT l_returnflag,
             |       array_to_string(list_transform(
             |           list_sort(map_entries(histogram(l_linenumber))),
             |           e -> e.key || ':' || e.value), ',') AS hist
             |  FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // A78: UNION (ALL) BY NAME — DuckDB matches union branches by
    // column NAME (filling absent columns with NULL); Spark's
    // unionByName(allowMissingColumns = true) is the same operator.
    // Branches deliberately swap column order and drop one column.
    QueryDef(
      "a78_union_by_name",
      (s, d) => {
        val x = Tables.customer(s, d).select(
          col("c_custkey").as("k"), col("c_nationkey").as("nk"),
          col("c_acctbal").as("bal"))
        val y = Tables.supplier(s, d).select(
          col("s_nationkey").as("nk"), col("s_suppkey").as("k"))
        x.unionByName(y, allowMissingColumns = true)
      },
      Some("""SELECT c_custkey AS k, c_nationkey AS nk, c_acctbal AS bal
             |  FROM customer
             |UNION ALL BY NAME
             |SELECT s_nationkey AS nk, s_suppkey AS k FROM supplier""".stripMargin)),

    // A79: named WINDOW clause (SQL:2003) — one SQL text, both
    // engines; two window functions share the same named spec, so the
    // planner evaluates them in a single window pass.
    QueryDef(
      "a79_named_window",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("a79_orders")
        s.sql(NamedWindowSql.replace("FROM orders", "FROM a79_orders"))
      },
      Some(NamedWindowSql))
  )

  /** Shared a79 text (dialect intersection). Lazy: referenced from the
    * `queries` val above, which initializes first in declaration order. */
  private lazy val NamedWindowSql: String =
    """SELECT o_custkey, o_orderkey,
      |       CAST(RANK() OVER w AS BIGINT) AS rnk,
      |       COUNT(*) OVER w AS running_n
      |  FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin

  /** Shared a74 text (dialect intersection, Spark ∩ DuckDB). Lazy:
    * referenced from the `queries` val above, which initializes first
    * in declaration order. */
  private lazy val GroupByAllSql: String =
    """SELECT l_returnflag, l_linestatus, year(l_shipdate) AS yr,
      |       CAST(SUM(CAST(ROUND(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
      |       COUNT(*) AS n
      |  FROM lineitem
      | GROUP BY ALL""".stripMargin
}
