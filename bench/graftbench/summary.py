"""Turns the benchmark JVM's raw result into the reported metrics, and
checks the tpch_serving results against DuckDB.
"""
import os
import statistics

from . import stats

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
MIINT_KINDS = ("bam_filter_identity", "woltka_ogu", "genome_coverage", "fastq_stats",
               "align_minimap2", "rype_classify", "copy_bam_sharded", "copy_biom")
CORPUS_KINDS = ("gopher_rules", "minhash_pairs", "connected_components", "keep_best",
                "bm25_index", "bm25_topk")
TPCH_KINDS = tuple(f"tpch_q{i:02d}" for i in range(1, 23)) + (
    "a01_parquet_scan", "a04_filter", "a06_join_agg", "a08_self_join", "a11_groupby_agg",
    "a16_window_count", "a19_rank_frame")
RATIOS = ("align.mapped_ratio", "rype.classified_ratio", "minhash.pairs_per_planted")
SPAN_LAYERS = ("op", "sources", "functions", "ops", "queries", "spark", "verify")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"), "ops_per_s": ("1/s", "higher"), "op_p50_s": ("s", "lower"),
    "records_per_s": ("1/s", "higher"), "peak_rss_mb": ("MB", "lower"),
}
PER_LAYER = {
    "sources.alignments.scan_s": ("s", "lower"), "sources.alignments.recs_per_s": ("1/s", "higher"),
    "sources.fastx.scan_s": ("s", "lower"), "sources.fastx.recs_per_s": ("1/s", "higher"),
    "kernel.bam_decode_ns_per_rec": ("ns", "lower"), "kernel.fastx_parse_ns_per_rec": ("ns", "lower"),
    "kernel.bgzf_write_mb_per_s": ("MB/s", "higher"), "kernel.cigar_parse_ns": ("ns", "lower"),
    "kernel.seed_align_us_per_read": ("us", "lower"), "kernel.rype_minimizers_ns_per_bp": ("ns", "lower"),
    "kernel.minhash_us_per_doc": ("us", "lower"),
    "functions.cigar_exprs_s": ("s", "lower"),
    **{f"ops.{k}_s": ("s", "lower") for k in MIINT_KINDS + CORPUS_KINDS},
    **{f"ops.{r}": ("ratio", "higher") for r in RATIOS},
    **{f"queries.{k}_p50_s": ("s", "lower") for k in TPCH_KINDS},
    "plans.frameless_window_s": ("s", "lower"),
    "driver.plan_s": ("s", "lower"), "spark.sched_wait_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"), "spark.stages": ("count", "lower"), "spark.tasks": ("count", "lower"),
    "spark.task_run_s": ("s", "lower"), "spark.task_cpu_s": ("s", "lower"), "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"), "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"), "spark.task_retries": ("count", "lower"),
    "spark.slot_utilization": ("ratio", "higher"),
    **{f"self.{layer}_s": ("s", "lower") for layer in SPAN_LAYERS},
    "failed_ratio": ("ratio", "lower"), "out_bytes_per_record": ("B", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


def check_against_duckdb(result, tpch_dir, threads):
    """Fails every op whose result signature differs from the same
    signature computed by DuckDB over the oracle SQL. Untimed: runs
    after the JVM has exited."""
    sqls = result.get("oracle_sql")
    if not sqls:
        return
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tpch_dir, t + '.parquet')}')")
    expected = {k: [int(x) for x in con.execute(sql).fetchone()] for k, sql in sqls.items()}
    con.close()
    for op in all_ops(result):
        if op["signature"] and op["signature"] != expected[op["kind"]]:
            op["ok"] = False
            op["detail"] = f"result {op['signature']} differs from DuckDB {expected[op['kind']]}"


def all_ops(result):
    tr = result.get("trace", {})
    return result["warm_ops"] + result["ops"] + tr.get("other_ops", [])


def counted_ops(result):
    """The ops failed_ratio counts: the timed loop, plus the traced
    pass over the other workloads' kinds in a traced run."""
    return result["ops"] + result.get("trace", {}).get("other_ops", [])


def end_to_end(result):
    """Throughput and latency from per-kind medians of the timed loop,
    so one op slowed by a burst on the machine moves no figure."""
    ops = result["ops"]
    ops_per_s, records_per_s = stats.closed_loop_rates(ops, result["clients"])
    return {
        "setup_s": result["setup_s"],
        "ops_per_s": ops_per_s,
        "op_p50_s": stats.typical_latency(ops),
        "records_per_s": records_per_s,
        "peak_rss_mb": result["peak_rss_mb"],
    }


def failed_ratio(result):
    ops = counted_ops(result)
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def out_bytes_per_record(ops):
    written = [o for o in ops if o["out_records"] > 0]
    if not written:
        return None
    return sum(o["out_bytes"] for o in written) / sum(o["out_records"] for o in written)


def report_lines(result, metrics):
    """Human-readable report: every metric by name and unit, plus the
    figures that do not apply to every workload."""
    ops = result["ops"]
    durs = [o["dur_s"] for o in ops]
    lines = [f"{k} = {v:.6g} {END_TO_END[k][0]}" for k, v in metrics.items()]
    ph = result["setup_phases_s"]
    lines.append(f"set-up: session {ph['session']:.3f} s, indexes {ph['indexes']:.3f} s, "
                 f"warm-up pass {ph['warm_up']:.3f} s")
    wall = (max(o["start_ns"] + o["dur_s"] * 1e9 for o in ops) - result["loop_start_ns"]) / 1e9
    per_kind = {}
    for o in ops:
        per_kind[o["kind"]] = per_kind.get(o["kind"], 0) + 1
    lines.append(f"timed loop: {len(ops)} ops of {len(per_kind)} kinds in {wall:.3f} s wall "
                 f"({len(ops) / wall:.4g} ops/s), {min(per_kind.values())} to {max(per_kind.values())} per kind; "
                 "ops_per_s, op_p50_s and records_per_s are taken from per-kind medians")
    lines.append(f"failed_ratio = {failed_ratio(result):.6g} ({sum(1 for o in counted_ops(result) if not o['ok'])}"
                 f"/{len(counted_ops(result))} ops)")
    if len(durs) >= 100:
        lines.append(f"op_p90_s = {stats.percentile(durs, 90):.6g} s (n = {len(durs)})")
    else:
        lines.append(f"op_p90_s not reported: {len(durs)} ops, fewer than 100")
    obr = out_bytes_per_record(ops)
    if obr is not None:
        lines.append(f"out_bytes_per_record = {obr:.6g} B")
    for o in all_ops(result):
        if not o["ok"]:
            lines.append(f"FAILED {o['kind']}: {o['detail']}")
    return lines


def per_layer(result):
    tr = result["trace"]
    m = dict(tr["layers"])
    loop_traced = [o for o in result["ops"] if o["traced"]]
    traced = loop_traced + tr["other_ops"]
    by_kind = {}
    for o in traced:
        by_kind.setdefault(o["kind"], []).append(o)

    def med(kind):
        return statistics.median(o["dur_s"] for o in by_kind[kind])

    for k in MIINT_KINDS + CORPUS_KINDS:
        m[f"ops.{k}_s"] = med(k)
    for k in TPCH_KINDS:
        m[f"queries.{k}_p50_s"] = med(k)
    m["plans.frameless_window_s"] = med("a16_window_count") + med("a19_rank_frame")
    for r in RATIOS:
        m[f"ops.{r}"] = statistics.median(o["ratios"][r] for o in traced if r in o["ratios"])

    # per-op Spark work of this workload's own traced ops
    spark = tr["spark"]
    per_op = [(o, spark[str(o["id"])]) for o in loop_traced if str(o["id"]) in spark]
    n = len(per_op)
    cores = result["cores"]

    def mean(f):
        return sum(f(s) for _, s in per_op) / n

    m["driver.plan_s"] = statistics.median(
        (s["first_job_ms"] - o["start_ms"]) / 1e3 for o, s in per_op if s["first_job_ms"] is not None)
    m["spark.sched_wait_s"] = statistics.median(w / 1e3 for _, s in per_op for w in s["sched_wait_ms"])
    m["spark.jobs"] = mean(lambda s: s["jobs"])
    m["spark.stages"] = mean(lambda s: s["stages"])
    m["spark.tasks"] = mean(lambda s: s["tasks"])
    m["spark.task_run_s"] = mean(lambda s: s["task_run_ms"] / 1e3)
    m["spark.task_cpu_s"] = mean(lambda s: s["task_cpu_ns"] / 1e9)
    m["spark.gc_s"] = mean(lambda s: s["gc_ms"] / 1e3)
    m["spark.shuffle_write_mb"] = mean(lambda s: s["shuffle_write_bytes"] / 2 ** 20)
    m["spark.shuffle_read_mb"] = mean(lambda s: s["shuffle_read_bytes"] / 2 ** 20)
    m["spark.spill_mb"] = mean(lambda s: s["spill_bytes"] / 2 ** 20)
    m["spark.task_retries"] = sum(s["retries"] for _, s in per_op)
    m["spark.slot_utilization"] = (sum(s["task_run_ms"] for _, s in per_op) / 1e3
                                   / (sum(o["dur_s"] for o, _ in per_op) * cores))

    # self time per layer in one pass over every op kind: per kind, the
    # median over its traced ops of the layer's summed self time
    spans = tr["spans"]
    self_ns = stats.self_times(spans)
    op_kind = {o["id"]: o["kind"] for o in traced}
    per_op_layer = {}
    for s in spans:
        if s["op"] in op_kind:
            key = (s["op"], s["name"].split(".")[0])
            per_op_layer[key] = per_op_layer.get(key, 0) + self_ns[s["id"]]
    for layer in SPAN_LAYERS:
        total = 0.0
        for kind, ops in by_kind.items():
            total += statistics.median(per_op_layer.get((o["id"], layer), 0) for o in ops) / 1e9
        m[f"self.{layer}_s"] = total

    m["failed_ratio"] = failed_ratio(result)
    m["out_bytes_per_record"] = out_bytes_per_record(traced)
    m["trace.overhead_ratio"] = stats.tracing_overhead(result["ops"])
    return {k: m[k] for k in PER_LAYER}
