package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bucketed-at-rest layout as a STANDING library path (r8 verdict
  * #1 — promoted from the BucketedLayoutBench probe so it cannot rot).
  *
  * This is the 100-TB deployment shape for the exchange-bound Layer-A
  * quartet: materialize the fact tables bucketed+sorted on their
  * join/partition keys ONCE (pay the shuffle at ingest), then every
  * downstream join/window/agg keyed on the bucket key runs with ZERO
  * runtime exchanges — the Spark equivalent of the reference engine's
  * no-network in-process pipeline (SURVEY.md §7.6). Measured at sf10
  * (SCALE.md round 8): a08 self-join 0.5–0.7× DuckDB, a16 window
  * 0.75–0.86×, a19 1.3–2.1×, a06 2.1–2.6×, all with zero exchanges.
  *
  * Two session settings are load-bearing and applied in ONE place
  * ([[configure]]):
  *   - `enableHiveSupport`: bucketing METADATA must persist across
  *     JVMs (in-memory catalog forgets the layout, so every new JVM
  *     would re-pay the ingest shuffle the layout exists to amortize);
  *   - `spark.sql.legacy.bucketedTableScan.outputOrdering=true`:
  *     reports the in-bucket sort order from one-file-per-bucket scans
  *     (off by default since 3.0 because it lists files at planning
  *     time); without it a sorted 60M-row table is re-sorted by a
  *     SortExec before every merge join / window.
  *
  * Correctness is gated every round: the k06/k08/k16/k19 registrations
  * below are layout twins of a06/a08/a16/a19 and share their DuckDB
  * oracles verbatim, so the driver's correctness run proves the
  * bucketed path end-to-end (it builds the layout with the plain
  * in-memory catalog — persistence is a perf property, not a
  * correctness one).
  */
object BucketedTables {
  /** Apply the layout-path session settings (see scaladoc). Hive's
    * derby metastore and the table warehouse live under tmp/ (both
    * gitignored); absolute paths so a differing CWD cannot scatter
    * catalogs.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    val tmp = new java.io.File("tmp").getAbsolutePath
    new java.io.File(tmp).mkdirs()
    b.config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir", s"$tmp/graft_warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$tmp/graft_metastore_db;create=true")
      .enableHiveSupport()
  }

  /** Per-sfDir table-name tag so layouts for different scale factors
    * coexist in one catalog (last path segment, catalog-safe chars).
    */
  private def tag(sfDir: String): String =
    sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
      .replaceAll("[^A-Za-z0-9_]", "_").toLowerCase

  private def tableName(sfDir: String, base: String): String =
    s"bk_${tag(sfDir)}_$base"

  /** Test hook: resolve the catalog name of a layout table. */
  private[graft] def testTableName(sfDir: String, base: String): String =
    tableName(sfDir, base)

  /** Materialize the three layout tables for `sfDir` if absent.
    * Returns build seconds (0.0 when the catalog already has them —
    * the amortized steady state under the persistent hive catalog).
    * repartition on the bucket key first so each bucket is exactly ONE
    * file: the scan then reports per-bucket sort order and SortExec is
    * elided wherever the in-bucket sort matches.
    */
  /** Once-per-(session, sfDir) memo for [[ensure]]: each accessor call
    * re-ran a tableExists metastore roundtrip PER LAYOUT TABLE during
    * query construction — harmless at 3 tables, but the r10 corpus
    * additions took it to 5 and the quartet's sub-second timings grew
    * ~1.3× from pure catalog RPC (k19 0.108 → 0.173 s, caught by the
    * bench canary retry). Same WeakHashMap-keyed shape as
    * Tables.cache; the value is the first call's build seconds.
    */
  private val ensured = new java.util.WeakHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]]()

  def ensure(spark: SparkSession, sfDir: String, buckets: Int = 32): Double = {
    val per = ensured.synchronized {
      Option(ensured.get(spark)).getOrElse {
        val fresh = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
        ensured.put(spark, fresh)
        fresh
      }
    }
    Option(per.get(sfDir)).map(_.doubleValue).getOrElse {
      val secs = ensureUncached(spark, sfDir, buckets)
      per.put(sfDir, secs)
      secs
    }
  }

  private def ensureUncached(spark: SparkSession, sfDir: String, buckets: Int): Double = {
    def build(base: String, src: => DataFrame, key: String,
        sortCols: Seq[String]): Double = {
      val t = tableName(sfDir, base)
      // A data dir may carry only the TPC-H fact tables — skip
      // layouts whose source parquet is absent so the quartet
      // (k06/k08/k16/k19) can use the same ensure path as the full
      // build (r12 verdict #4).
      if (!new java.io.File(s"$sfDir/$base.parquet").exists() &&
          !(base == "orders_ck" &&
            new java.io.File(s"$sfDir/orders.parquet").exists())) 0.0
      else if (spark.catalog.tableExists(t)) 0.0
      else {
        // a data directory left by a dead catalog (e.g. a previous
        // in-memory-catalog JVM) blocks the CTAS — clear it first
        val wh = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val stale = new java.io.File(s"$wh/$t")
        if (stale.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
          }
          rm(stale)
        }
        val t0 = System.nanoTime()
        src.repartition(buckets, col(key))
          .write.mode("overwrite")
          .bucketBy(buckets, key).sortBy(sortCols.head, sortCols.tail: _*)
          .saveAsTable(t)
        (System.nanoTime() - t0) / 1e9
      }
    }
    build("lineitem", Tables.lineitem(spark, sfDir),
        "l_orderkey", Seq("l_orderkey", "l_linenumber")) +
      build("orders", Tables.orders(spark, sfDir),
        "o_orderkey", Seq("o_orderkey")) +
      build("orders_ck", Tables.orders(spark, sfDir),
        "o_custkey", Seq("o_custkey")) +
      build("embeddings", Tables.embeddings(spark, sfDir),
        "vec_id", Seq("vec_id")) +
      build("documents", Tables.documents(spark, sfDir),
        "doc_id", Seq("doc_id"))
  }

  private def lineitem(s: SparkSession, d: String): DataFrame = {
    ensure(s, d); s.table(tableName(d, "lineitem"))
  }
  private def orders(s: SparkSession, d: String): DataFrame = {
    ensure(s, d); s.table(tableName(d, "orders"))
  }
  private def ordersCk(s: SparkSession, d: String): DataFrame = {
    ensure(s, d); s.table(tableName(d, "orders_ck"))
  }
  private def embeddings(s: SparkSession, d: String): DataFrame = {
    ensure(s, d); s.table(tableName(d, "embeddings"))
  }

  private def cents(name: String) = floor(col(name) * 100 + 0.5).cast("long")

  private def oracleOf(n: String): Option[String] =
    graft.queries.LayerA1.queries.find(_.name == n).flatMap(_.oracle)

  private def llmOracleOf(n: String): Option[String] =
    graft.queries.LlmPipeline.queries.find(_.name == n).flatMap(_.oracle)

  /** The bucketed quartet — layout twins of a06/a08/a16/a19 sharing
    * their oracles verbatim. With [[configure]] applied these plans
    * contain ZERO Exchange nodes (asserted by BucketedTablesSpec).
    */
  val queries: Seq[QueryDef] = Seq(
    // a06 shape: customer(BUILDING) broadcast-semi onto co-bucketed
    // orders, SHUFFLE_HASH with lineitem (both bucketed on orderkey →
    // no exchange; SHJ's per-bucket hash build beats MERGE's ok-side
    // sort, measured 1.03 vs 1.36 s at sf10).
    QueryDef(
      "k06_bucketed_join_agg",
      (s, d) => {
        val c = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ok = orders(s, d)
          .join(broadcast(c), col("c_custkey") === col("o_custkey"), "leftsemi")
          .select("o_orderkey")
        lineitem(s, d)
          .join(ok.hint("SHUFFLE_HASH"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg((sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
            .cast("double") / 10000.0).as("rev"))
      },
      oracleOf("a06_join_agg")),

    // a08 shape: merge self-join — both sides are the same bucketed
    // scan, sorted in-bucket on (l_orderkey, l_linenumber), so the
    // merge needs neither exchange nor sort.
    QueryDef(
      "k08_bucketed_self_join",
      (s, d) => {
        val l = lineitem(s, d).select("l_orderkey", "l_linenumber")
        l.as("a").join(l.as("b").hint("MERGE"),
            col("a.l_orderkey") === col("b.l_orderkey")
              && col("a.l_linenumber") < col("b.l_linenumber"))
          .select(col("a.l_orderkey").as("l_orderkey"),
            col("a.l_linenumber").as("ln_a"),
            col("b.l_linenumber").as("ln_b"))
      },
      oracleOf("a08_self_join")),

    // a16 shape: the frameless window consumes the bucketed
    // partitioning directly — no exchange before WindowExec.
    QueryDef(
      "k16_bucketed_window_count",
      (s, d) =>
        lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          count(lit(1)).over(Window.partitionBy(col("l_orderkey"))).as("cnt")),
      oracleOf("a16_window_count")),

    // a19 shape: both windows partition on o_custkey = the bucket key;
    // in-partition sorts remain (different ORDER BYs) but no exchange.
    QueryDef(
      "k19_bucketed_rank_frame",
      (s, d) => {
        val wRank = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc)
        val wSum = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey")).rowsBetween(-2, 0)
        ordersCk(s, d).select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          rank().over(wRank).cast("long").as("rnk"),
          (sum(cents("o_totalprice")).over(wSum).cast("double") / 100.0)
            .as("run_sum"))
      },
      oracleOf("a19_rank_frame")),

    // l71 shape, corpus-table layout twin (r9 verdict #5 — the
    // bucketed-at-rest path extended beyond the TPC-H quartet):
    // SemDeDup's (assignment ⋈ input) zipper join is the one corpus
    // workload exchange where BOTH sides are corpus-sized (neither
    // broadcastable at 100 TB) and both derive from the same source —
    // with embeddings bucketed on vec_id the two scans arrive
    // co-partitioned and the zipper needs no exchange (the candidate
    // join's (cluster, ti, tj) shuffle remains — that one is the
    // algorithm's semantic exchange, not layout-removable). Shares
    // l71's oracle verbatim; BucketedTablesSpec pins the elision.
    QueryDef(
      "k71_bucketed_semdedup",
      (s, d) => graft.ops.Clustering.semDedup(
        embeddings(s, d), "vec_id", "embedding",
        k = 4, iters = 2, tau = 0.3, scale = 1000),
      llmOracleOf("l71_semdedup"))
  )
}
