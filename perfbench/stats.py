"""The benchmark's arithmetic: from one run's raw record (raw.json, written by
the Scala harness) to its end-to-end and per-layer metrics. Self-tests are in
test_stats.py.
"""
import math
import statistics

BEYOND = 10


def tail(values):
    """(percentile, value): the highest percentile with at least BEYOND
    samples above it, i.e. the sample of rank n - BEYOND. Below the median
    (n <= 2 * BEYOND) the sample supports no tail and the median is
    returned, so the tail never claims more than the data supports."""
    n = len(values)
    if n <= 2 * BEYOND:
        return 50.0, statistics.median(values)
    k = n - BEYOND
    return 100.0 * k / n, sorted(values)[k - 1]


def tally(records, mismatches):
    """(attempted, failed) over a run's raw records; every fingerprint
    mismatch turns one attempted op into a failed one."""
    attempted = sum(r["attempted"] for r in records)
    if attempted < 1:
        raise ValueError("no op was attempted")
    return attempted, sum(r["failed"] for r in records) + len(mismatches)


def busy_ms(intervals, start, end):
    """Length of the union of [s, e] intervals, clipped to [start, end]."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_ms(intervals, start, end):
    """Wall time in [start, end] with no Spark job running."""
    return (end - start) - busy_ms(intervals, start, end)


def skew_max(stage_tasks):
    """Worst stage's max/median task time (stages of 2+ tasks; a median under
    1 ms counts as 1 ms, so sub-millisecond stages cannot blow the ratio up)."""
    worst = 1.0
    for ts in stage_tasks:
        if len(ts) >= 2:
            worst = max(worst, max(ts) / max(1.0, statistics.median(ts)))
    return worst


def fingerprint_mismatches(got, expected):
    """got: [(entry, rows, hash)]; expected: {entry: {"rows": n, "hash": h}}.
    Returns one message per output whose fingerprint differs or is unknown."""
    bad = []
    for name, rows, digest in got:
        want = expected.get(name)
        if want is None:
            bad.append(f"{name}: no committed fingerprint")
        elif (int(rows), str(digest)) != (int(want["rows"]), str(want["hash"])):
            bad.append(f"{name}: got rows={rows} hash={digest}, "
                       f"expected rows={want['rows']} hash={want['hash']}")
    return bad


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def class_p50(samples):
    """Geometric mean, over op classes (request classes or entries), of each
    class's median latency. Classes differ up to fivefold in latency, so the
    median of all samples pooled falls between two classes and jumps from one
    to the other with small changes; this does not depend on the mix."""
    by_cls = {}
    for cls, ms in samples:
        by_cls.setdefault(cls, []).append(ms)
    if not by_cls:
        raise ValueError("no op completed in the timed window")
    logs = [math.log(statistics.median(v)) for v in by_cls.values()]
    return math.exp(sum(logs) / len(logs))


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(raw):
    ms = [s[1] for s in raw["samples"]]
    if not ms:
        raise ValueError("no op completed in the timed window")
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "class_ms_p50": class_p50(raw["samples"]),
        "cpu_ms_per_op": raw["window_cpu_ms"] / len(ms),
        "ops_per_s": len(ms) / ((raw["window_end_ms"] - raw["window_start_ms"]) / 1000.0),
        "store_bytes_per_user_byte": raw["store_bytes"] / raw["user_bytes"],
    }


SESSION_OPS = ("select", "fetch", "join", "agg", "math", "tuple", "print",
               "load", "insert", "update", "delete")
SERVER_CLASSES = ("point", "range", "scan", "join", "insert", "update", "delete")
FAMILIES = ("ann", "text", "stream")
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "triggerExecution")
PER_OP = ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
          "spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
          "spark.spill_bytes", "catalyst.actions", "catalyst.analysis_ms",
          "catalyst.optimization_ms", "catalyst.planning_ms")


def overhead_pct(raw):
    """Tracing overhead: the traced window's class_ms_p50 against the
    untraced window run before it in the same JVM."""
    return 100.0 * (class_p50(raw["samples"]) / class_p50(raw["baseline_samples"]) - 1.0)


def per_layer(raw):
    """Every per-layer metric; a layer that did no work reads 0. Spark and
    Catalyst counts are per op of the timed window."""
    c = raw["counters"]
    lists = raw["lists"]
    samples = raw["samples"]
    ops = max(1, len(samples))
    m = {"op_ms_tail": tail([s[1] for s in samples])[1] if samples else 0.0,
         "lang.parse_us_per_line": _mean(lists.get("lang.parse_us", []))}
    for op in SESSION_OPS:
        m[f"session.eval_ms.{op}"] = _mean(lists.get(f"session.eval_ms.{op}", []))
    for op in ("tuple", "print"):
        m[f"session.drain_ms.{op}"] = _mean(lists.get(f"session.drain_ms.{op}", []))
    for k in PER_OP:
        m[k] = c.get(k, 0.0) / ops
    m["spark.idle_ms"] = idle_ms(raw["job_intervals"], raw["window_start_ms"],
                                 raw["window_end_ms"]) / ops
    m["spark.task_skew_max"] = skew_max(raw["stage_tasks"])
    load_ms = c.get("storage.load_ms", 0.0)
    m["storage.versions_written"] = c.get("storage.versions_written", 0.0)
    m["storage.compactions"] = c.get("storage.compactions", 0.0)
    m["storage.part_files"] = c.get("storage.part_files", 0.0)
    m["storage.db_bytes"] = c.get("storage.db_bytes", 0.0)
    m["storage.load_rows_per_s"] = (c.get("storage.load_rows", 0.0) / (load_ms / 1000.0)
                                    if load_ms else 0.0)
    by_cls = {}
    for cls, ms in samples:
        by_cls.setdefault(cls, []).append(ms)
    for cls in SERVER_CLASSES:
        m[f"server.request_ms.{cls}"] = statistics.median(by_cls[cls]) if cls in by_cls else 0.0
    scan_ms = c.get("server.scan_ms", 0.0)
    m["server.data_lines_per_s"] = c.get("server.scan_lines", 0.0) / (scan_ms / 1000.0) \
        if scan_ms else 0.0
    m["server.err_responses"] = c.get("server.err_responses", 0.0)
    m["server.refusals"] = c.get("server.refusals", 0.0)
    for fam in FAMILIES:
        runs = len(lists.get(f"entry.construct_ms.{fam}", []))
        for phase in ("construct", "plan", "materialize"):
            m[f"entry.{phase}_ms.{fam}"] = _mean(lists.get(f"entry.{phase}_ms.{fam}", []))
        for phase in ("construct", "materialize"):
            m[f"entry.{phase}_jobs.{fam}"] = (c.get(f"entry.{phase}_jobs.{fam}", 0.0) / runs
                                              if runs else 0.0)
    stream_runs = len(lists.get("entry.construct_ms.stream", []))
    m["stream.batches"] = c.get("stream.batches", 0.0) / stream_runs if stream_runs else 0.0
    for k in STREAM_PHASES:
        m[f"stream.batch_ms.{k}"] = (c.get(f"stream.batch_ms.{k}", 0.0) / c["stream.batches"]
                                     if c.get("stream.batches") else 0.0)
    m["trace.overhead_pct"] = overhead_pct(raw)
    return m
