"""Workload plans and metric arithmetic for the benchmark.

Pure functions only: `run.py` builds and launches the JVM side
(`jvm/`), this module decides what it runs (from the seed) and turns
its JSON-lines records into metrics.
"""
import math
import random
import statistics

CORE_QUERIES = [
    "q01_sum_first_col", "q02_count_sum_nulls", "q03_filter_revenue",
    "q04_groupby_pricing", "q05_minmax_count", "q06_join_revenue_by_nation",
    "q07_window_topk", "q08_distinct_segments", "q09_orders_by_date",
    "q10_distinct_types_per_brand", "q11_dedup_exact_count", "q12_text_stats",
    "q13_topk_cosine", "q14_events_agg",
]
# five of nine heavy LLM-pipeline entries (the others: q20, q22, q88,
# q101), each once a pass: the nine-entry pass (about 21 s warm, 38 s
# cold) does not fit a run's budget
LLM_OPERATORS = [
    "q38_neardup_groups", "q98_bm25", "q139_jaccard_join",
    "q189_dedup_index_compaction", "q190_rrf_fusion",
]
# the stream section of a traced core_queries run: a stateful entry,
# then the stateless control that bypasses the state store
STREAM_ENTRIES = ["q207_stream_sessions", "q188_stream_ingest_dedup"]
STREAM_WORKLOAD = "core_queries"
# each workload's ops in one pass (before the seeded shuffle)
ENTRY_WORKLOADS = {
    "core_queries": CORE_QUERIES,
    "llm_operators": LLM_OPERATORS,
}
ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]

# orc_io: one pass holds each read path three times and one write, so
# writes are a tenth of the ops.
ORC_PASS = ["native"] * 3 + ["dataframe"] * 3 + ["sarg"] * 3 + ["write"]
ORC_TYPES = ["native", "dataframe", "sarg", "write"]
SARG_POOL = 6
WORKLOADS = ["orc_io"] + list(ENTRY_WORKLOADS)
# warm-up passes run in set-up before the timed passes. core_queries'
# small queries keep getting faster for several passes as the JIT
# compiles their generated code (a pass takes 9.6 s cold, then 4.8, 4.5,
# 3.7 s); with fewer warm-up passes the timed passes ran in that drift
# and op_p50_s spread more from run to run.
WARMUP_PASSES = {"orc_io": 1, "core_queries": 3, "llm_operators": 1}

# per-layer counters summed per op by the JVM side's listeners, reported
# as a mean per timed op
COUNTERS = [
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.sched_delay_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.pre_action_jobs", "exec.pre_action_s",
    "exchange.shuffle_write_mb", "exchange.shuffle_read_mb",
    "exchange.fetch_wait_s", "exchange.spill_mb",
]


def unit_of(name):
    """Unit of a metric, from its name's suffix."""
    for suffix, unit in [("_ms", "ms"), ("ops_per_s", "1/s"), ("rows_s", "rows/s"),
                         ("mb_s", "MB/s"), ("_mb", "MB"), ("_mb_after_op", "MB"),
                         ("bytes_per_row", "B/row"), ("_frac", "fraction"),
                         ("_share", "fraction"), ("_s", "s")]:
        if name.endswith(suffix):
            return unit
    return "count"


def op_types(workload):
    return ORC_TYPES if workload == "orc_io" else list(dict.fromkeys(ENTRY_WORKLOADS[workload]))


def plan_ops(workload, seed, passes, copies=0, copy_k=0):
    """The seeded part of a plan: warm-up passes, timed passes, sarg ranges.

    Each warm-up pass runs the workload's ops in their listed order; each
    timed pass runs the same ops in its own seeded order. For
    orc_io the seed also draws a pool of key ranges for the sarg ops and
    the copy each write op rewrites.
    """
    rng = random.Random(f"{workload}:{seed}")
    ranges = []
    if workload == "orc_io":
        domain = copies * copy_k
        for _ in range(SARG_POOL):
            width = int(domain * rng.uniform(0.05, 0.25))
            lo = rng.randrange(0, domain - width)
            ranges.append([lo, lo + width - 1])

    def op(kind):
        if kind in ORC_TYPES:
            spec = {"kind": kind}
            if kind == "sarg":
                spec["lo"], spec["hi"] = rng.choice(ranges)
            elif kind == "write":
                spec["copy"] = rng.randrange(copies)
            return spec
        return {"kind": "entry", "name": kind}

    base = ORC_PASS if workload == "orc_io" else ENTRY_WORKLOADS[workload]
    warmup = [op(k) for _ in range(WARMUP_PASSES[workload]) for k in base]
    timed = []
    for _ in range(passes):
        order = list(base)
        rng.shuffle(order)
        timed.append([op(k) for k in order])
    return {"warmup": warmup, "passes": timed, "ranges": ranges}


def tail(values):
    """Highest percentile that leaves at least ten samples beyond it.

    With the n samples sorted ascending, the k-th (1-based) has n - k
    samples beyond it; the highest k with n - k >= 10 is n - 10, the
    100·k/n-th percentile. Below 22 samples that rank would not be above
    the median, so there the nearest-rank 90th percentile, the
    ceil(0.9·n)-th sample, stands in (fewer than ten samples lie beyond
    it). The value is the Harrell-Davis estimate of that percentile (see
    `hd_quantile`). Returns (value, percentile, samples beyond).
    """
    n = len(values)
    if n == 0:
        return (0.0, 0.0, 0)
    k = n - 10 if n >= 22 else math.ceil(0.9 * n)
    return (hd_quantile(values, k / n), 100.0 * k / n, n - k)


def _beta_cdf(x, a, b):
    """The regularized incomplete beta function I_x(a, b), by its
    continued fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - _beta_cdf(1.0 - x, b, a)
    front = math.exp(a * math.log(x) + b * math.log1p(-x) + math.lgamma(a + b)
                     - math.lgamma(a) - math.lgamma(b)) / a
    f, c, d = 1.0, 1.0, 0.0
    for i in range(1000):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > 1e-30 else 1e-30)
        c = 1.0 + num / c
        c = c if abs(c) > 1e-30 else 1e-30
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def hd_quantile(values, p):
    """Harrell-Davis estimate of the p-quantile: a weighted mean of all
    the sorted samples, the i-th (1-based) of n weighted by the
    Beta(p(n+1), (1-p)(n+1)) probability of ((i-1)/n, i/n]. Where the
    ops' latencies bunch into clusters with a gap between them, a single
    sorted sample jumps across the gap as one op lands on one side or
    the other; this estimate of the same percentile moves smoothly with
    it. At p = 1 it is the largest sample."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0
    if p >= 1.0:
        return xs[-1]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    counted once). `spans` are dicts with id, parent, start_ns, end_ns.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def failed_frac(ops):
    """Failed or wrong-output ops over ops attempted: the JVM side marks an
    op not ok when it raised or when its output missed the check."""
    return sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 0.0


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def split(records):
    by = {}
    for r in records:
        by.setdefault(r["type"], []).append(r)
    return by


def timed_ops(records, window="main"):
    return [r for r in records
            if r["type"] == "op" and r["pass"] >= 0 and r.get("window", "main") == window]


def end_to_end(records, launch_s):
    """Every end-to-end metric of one untraced run, plus the facts that
    go into the run record beside them (not metrics: some are zero by
    design, or exist only on some workloads). `launch_s` is the epoch
    time the JVM was launched: set-up runs from then to the first timed
    op."""
    by = split(records)
    ops = timed_ops(records)
    measure = [m for m in by["measure"] if m.get("window", "main") == "main"][0]
    lat = [o["latency_s"] for o in ops]
    t_value, t_pct, t_beyond = tail(lat)
    metrics = {
        "setup_s": measure["start_ms"] / 1e3 - launch_s,
        "ops_per_s": len(ops) / measure["elapsed_s"],
        "op_p50_s": hd_quantile(lat, 0.5),
        "op_tail_s": t_value,
        "peak_rss_mb": measure["peak_rss_mb"],
    }
    facts = {
        "failed_frac": failed_frac(ops),
        "op_tail_percentile": t_pct,
        "op_tail_beyond": t_beyond,
        "ops": len(ops),
        "passes": measure["passes"],
        "measured_s": measure["elapsed_s"],
        "steal_avg": measure["steal_avg"],
        "host_loaded": measure["host_loaded"],
        "nproc": measure["nproc"],
        "cpus": measure["cpus"],
    }
    facts.update(workload_rates(ops))
    return metrics, facts


def workload_rates(ops):
    """The orc_io scan and write rates; zero on other workloads."""
    reads = [o for o in ops if o["name"] in ("native", "dataframe", "sarg")]
    full = [o for o in reads if o["name"] != "sarg"]
    writes = [o for o in ops if o["name"] == "write"]

    def rate(num, den):
        return num / den if den > 0 else 0.0
    return {
        "scan_rows_s": rate(sum(o["rows_scanned"] for o in reads),
                            sum(o["latency_s"] for o in reads)),
        "scan_mb_s": rate(sum(o["bytes"] for o in full) / 1e6,
                          sum(o["latency_s"] for o in full)),
        "write_rows_s": rate(sum(o["write_rows"] for o in writes),
                             sum(o["build_s"] for o in writes)),
    }


STREAM_METRICS = ["stream.batches", "stream.add_batch_ms", "stream.commit_ms",
                  "stream.wal_commit_ms", "stream.state_rows", "stream.batch_p50_s",
                  "stream.rows_s"]


def stream_metrics(batches):
    """Stream metrics of one entry's micro-batches: per-batch medians of
    the phase times, the state rows after the last batch, the median
    batch time and input rows per second of batch time."""
    trigger_s = sum(b["trigger_ms"] for b in batches) / 1e3
    return {
        "stream.batches": len(batches),
        "stream.add_batch_ms": _median([b["add_batch_ms"] for b in batches]),
        "stream.commit_ms": _median([b["commit_ms"] for b in batches]),
        "stream.wal_commit_ms": _median([b["wal_commit_ms"] for b in batches]),
        "stream.state_rows": batches[-1]["state_rows"] if batches else 0,
        "stream.batch_p50_s": _median([b["trigger_ms"] / 1e3 for b in batches]),
        "stream.rows_s": sum(b["input_rows"] for b in batches) / trigger_s if trigger_s else 0.0,
    }


def stream_layer(batches):
    """The stream.* metrics of the stream section's measured round: the
    stateful entry's as stream.*, the stateless control's as
    stream.control.*."""
    measured = [b for b in batches if b["window"] == "stream"]
    out = {}
    for entry, prefix in zip(STREAM_ENTRIES, ["stream.", "stream.control."]):
        for k, v in stream_metrics([b for b in measured if b["name"] == entry]).items():
            out[prefix + k[len("stream."):]] = v
    out.pop("stream.control.state_rows")
    return out


def per_layer_names():
    """Every per-layer metric name, in BENCHMARK.json order."""
    names = ["session.start_s", "session.tune_s", "tables.load_s"]
    names += COUNTERS[:3] + ["plan.op_share"] + COUNTERS[3:11] + ["exec.non_job_s"]
    names += COUNTERS[11:]
    names += ["scan.io_mb_s", "scan.decode_s", "scan.decompress_snappy_s",
              "scan.decompress_zstd_s", "scan.sum_s", "scan.native_task_s",
              "scan.sarg_rows_frac", "write.rows_s", "write.bytes_per_row",
              "reuse.persisted_rdds_after_op", "reuse.cached_mb_after_op",
              "scan_rows_s", "scan_mb_s", "write_rows_s", "trace.overhead_frac"]
    names += STREAM_METRICS + ["stream.control." + k[len("stream."):] for k in STREAM_METRICS
                               if k != "stream.state_rows"]
    for w in WORKLOADS:
        for t in op_types(w):
            if w == "orc_io" and t != "write":
                names.append(f"op.{t}.action_s")
            else:
                names += [f"op.{t}.build_s", f"op.{t}.action_s"]
    return names


def per_layer(records, workload):
    """Every per-layer metric of one traced run; zero where a layer has
    no work on this workload."""
    by = split(records)
    ops = timed_ops(records)
    m = dict.fromkeys(per_layer_names(), 0.0)
    spans = by.get("span", [])
    for name in ("session.start", "session.tune", "tables.load"):
        m[name + "_s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                             if s["name"] == name)
    for k in COUNTERS:
        m[k] = _mean([o["counters"].get(k, 0.0) for o in ops])
    # time inside an op's build and action spans not covered by a Spark job
    selfs = self_times(spans)
    ids = {o["id"] for o in ops}
    m["exec.non_job_s"] = sum(selfs[s["id"]] for s in spans if s["op"] in ids and
                              s["name"] in ("op.build", "op.action")) / max(1, len(ops))
    plan = sum(m[k] for k in COUNTERS[:3])
    lat = _mean([o["latency_s"] for o in ops])
    m["plan.op_share"] = plan / lat if lat > 0 else 0.0
    m["reuse.persisted_rdds_after_op"] = _mean([o["reuse"]["persisted_rdds"] for o in ops])
    m["reuse.cached_mb_after_op"] = _mean([o["reuse"]["cached_mb"] for o in ops])
    native = [o for o in ops if "native_task_s" in o]
    m["scan.native_task_s"] = _mean([o["native_task_s"] for o in native])
    sarg = [o for o in ops if o["name"] == "sarg"]
    m["scan.sarg_rows_frac"] = _mean([o["rows_scanned"] / o["table_rows"] for o in sarg])
    writes = [o for o in ops if o["name"] == "write" and o["ok"]]
    rows = sum(o["write_rows"] for o in writes)
    if rows:
        m["write.rows_s"] = rows / sum(o["build_s"] for o in writes)
        m["write.bytes_per_row"] = sum(o["write_bytes"] for o in writes) / rows
    for ladder in by.get("ladder", []):
        nb = ladder["next_batch_s"]
        m["scan.io_mb_s"] = ladder["io_mb_s"]
        m["scan.decode_s"] = nb["none"]
        m["scan.decompress_snappy_s"] = nb["snappy"] - nb["none"]
        m["scan.decompress_zstd_s"] = nb["zstd"] - nb["none"]
        m["scan.sum_s"] = ladder["sum_stripes_s"] - ladder["first_col_next_batch_s"]
    m.update(workload_rates(ops))
    m.update(stream_layer(by.get("batch", [])))
    base = [x for x in by["measure"] if x.get("window") == "baseline"]
    main = [x for x in by["measure"] if x.get("window", "main") == "main"]
    if base and main:
        untraced = len(timed_ops(records, "baseline")) / base[0]["elapsed_s"]
        traced = len(ops) / main[0]["elapsed_s"]
        m["trace.overhead_frac"] = 1.0 - traced / untraced
    for t in op_types(workload):
        of_type = [o for o in ops if o["name"] == t]
        if f"op.{t}.build_s" in m:
            m[f"op.{t}.build_s"] = _median([o["build_s"] for o in of_type])
        m[f"op.{t}.action_s"] = _median([o["action_s"] for o in of_type])
    return m
