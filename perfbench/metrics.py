"""Turns the JVM runner's raw observations into the benchmark's metrics.

Pure functions over JSON-like data, so the rules (tail percentile,
freshness attribution, the gold correctness check, span self time) are
unit-tested in test_bench.py without a JVM.
"""
import bisect
import datetime
import json
import os
import statistics

SENTINEL = "ZZ_WM_FLUSH"
HOPS = ("bronze", "silver", "gold")
QUERY_CLASSES = ("scan", "point")

E2E = [  # (name, unit); every workload reports all of them
    ("setup_s", "s"), ("trades_per_s", "1/s"),
    ("freshness_p50_ms", "ms"), ("freshness_tail_ms", "ms"),
    ("scan_p50_ms", "ms"), ("scan_tail_ms", "ms"),
    ("point_p50_ms", "ms"), ("point_tail_ms", "ms"),
    ("heap_retained_mb", "MB"),
]


# ------------------------------------------------------------ statistics

def p50(values):
    return float(statistics.median(values)) if values else 0.0


def tail(values):
    """The highest percentile that has at least ten samples beyond it.

    Returns (value, percentile, n). With n <= 10 no percentile qualifies;
    the maximum is returned with percentile 100 so the gap is visible.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return float(s[-1]), 100.0, n
    i = n - 11  # exactly ten samples lie above index n - 11
    return float(s[i]), 100.0 * (i + 1) / n, n


def iso_ms(s):
    """Spark progress timestamps ('2024-06-10T00:00:59.123Z') to epoch ms."""
    dt = datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000 + 0.5)


# ------------------------------------------------------------ freshness

def gold_visibility(progress):
    """(end_ms, running max of eventTime.max) per gold batch that saw data,
    in batch order: a trade is visible at the end of the first batch whose
    eventTime.max reaches its creation time."""
    ends, maxes = [], []
    running = None
    for p in progress:
        et = (p.get("eventTime") or {}).get("max")
        if et is None:
            continue
        m = iso_ms(et)
        running = m if running is None else max(running, m)
        ends.append(iso_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0))
        maxes.append(running)
    return ends, maxes


def freshness(dues, ends, maxes):
    """Per trade, ms from its due time until visible; None if never."""
    out = []
    for d in dues:
        i = bisect.bisect_left(maxes, d)
        out.append(ends[i] - d if i < len(ends) else None)
    return out


def visible_rate(window, fresh, t_from):
    """Trades per second gold made visible: the window's trades over the
    time from the window's start until gold made the last of them visible,
    the live counterpart of a drain's trades over bronze start to gold end.
    `fresh` is `freshness(window, ...)`; 0 if a trade never became visible."""
    if not window or None in fresh:
        return 0.0
    last = max(d + f for d, f in zip(window, fresh))
    return len(window) / ((last - t_from) / 1000.0)


def backlog_grew(ends, maxes, t_from, t_to):
    """True if the gold lag (batch end minus newest event) at the end of
    the window exceeds the lag at its start by more than 2 s and more
    than the starting lag itself: the input rate is above capacity."""
    lags = [e - m for e, m in zip(ends, maxes) if t_from <= e <= t_to]
    if len(lags) < 2:
        return True  # gold finished fewer than two batches: it stalled
    k = max(1, len(lags) // 3)
    first, last = statistics.median(lags[:k]), statistics.median(lags[-k:])
    return last > first + max(2000.0, first)


# ------------------------------------------------------------ correctness

def read_bars(path):
    rows = []
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if line:
                rows.append(line.split(","))
    return rows


def check_bars(dump_rows, expected_rows):
    """Problems found comparing a gold sink dump with the expected bars.

    Both are rows of (symbol, bar_start_ms, open, high, low, close,
    volume, vwap, trades); doubles compare exactly.
    """
    problems = []

    def key_val(r):
        return ((r[0], int(r[1])),
                tuple(float(x) for x in r[2:8]) + (int(r[8]),))

    got = {}
    for r in dump_rows:
        if not r[0] or not r[1]:
            problems.append("bar from a malformed row: %s" % ",".join(r))
            continue
        if r[0] == SENTINEL:
            problems.append("sentinel bar in gold: %s" % ",".join(r))
            continue
        k, v = key_val(r)
        if k in got:
            problems.append("duplicate bar %s %d" % k)
        got[k] = v
    want = dict(key_val(r) for r in expected_rows)
    for k in sorted(want.keys() - got.keys())[:5]:
        problems.append("missing bar %s %d" % k)
    for k in sorted(got.keys() - want.keys())[:5]:
        problems.append("unexpected bar %s %d" % k)
    bad = [k for k in sorted(want.keys() & got.keys()) if want[k] != got[k]]
    for k in bad[:5]:
        problems.append("wrong bar %s %d: got %s want %s" % (k + (got[k], want[k])))
    n_missing = len(want.keys() - got.keys())
    n_extra = len(got.keys() - want.keys())
    if n_missing > 5 or n_extra > 5 or len(bad) > 5:
        problems.append("%d missing, %d unexpected, %d wrong bars in total"
                        % (n_missing, n_extra, len(bad)))
    return problems


# ------------------------------------------------------------ spans

def self_times(spans):
    """Each span's duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        end = s["end_ms"] if s["end_ms"] >= 0 else s["start_ms"]
        ivs = sorted((max(c["start_ms"], s["start_ms"]),
                      min(c["end_ms"] if c["end_ms"] >= 0 else end, end))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(dict(s, duration_ms=end - s["start_ms"],
                        self_ms=end - s["start_ms"] - covered))
    return out


# ------------------------------------------------------------ per layer

def hop_layer(name, progress, wall_ms, counters, sink_dir):
    """Per-layer metrics of one hop over the given micro-batches."""
    d = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
    n = len(progress)
    ops = [o for p in progress for o in p.get("stateOperators", [])]
    busy = sum(d(p, "triggerExecution") for p in progress)
    c = counters.get(name, {})
    files, size = walk_sink(sink_dir)
    m = {
        "batches": n,
        "nodata_batch_share": (sum(1 for p in progress if p.get("numInputRows", 0) == 0)
                               / n) if n else 0.0,
        "rows_in": sum(p.get("numInputRows", 0) for p in progress),
        "rows_out": c.get("records_written", 0),
        "busy_ms": busy,
        "add_batch_ms": sum(d(p, "addBatch") for p in progress),
        "overhead_ms": sum(d(p, k) for p in progress for k in (
            "latestOffset", "getBatch", "queryPlanning", "walCommit",
            "commitOffsets")),
        "planning_ms": sum(d(p, "queryPlanning") for p in progress),
        "batch_p50_ms": p50([d(p, "triggerExecution") for p in progress]),
        "idle_ms": max(0.0, wall_ms - busy),
        "task_ms": c.get("task_ms", 0),
        "shuffle_write_bytes": c.get("shuffle_write_bytes", 0),
        "spill_bytes": c.get("spill_bytes", 0),
        "files_written": files,
        "bytes_written": size,
    }
    if name != "bronze":
        m.update({
            "state_rows": max([o.get("numRowsTotal", 0) for o in ops] or [0]),
            "state_bytes": max([o.get("memoryUsedBytes", 0) for o in ops] or [0]),
            "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
            "rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0)
                                             for o in ops),
        })
    if name == "gold":
        updated = sum(o.get("numRowsUpdated", 0) for o in ops)
        m["bars_updated"] = updated
        m["rewrite_bytes_per_bar"] = (c.get("bytes_written", 0) / updated
                                      if updated else 0.0)
    return {"%s.%s" % (name, k): v for k, v in m.items()}


def walk_sink(path):
    """Data files and their bytes under a sink directory."""
    files = size = 0
    if not path or not os.path.isdir(path):
        return 0, 0
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for n in names:
            if n.startswith(("_", ".")) or n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


# ------------------------------------------------------------ evaluation

def load_json(path):
    with open(path) as f:
        return json.load(f)


def _progress(hop):
    return [json.loads(p) if isinstance(p, str) else p for p in hop["progress"]]


def drain_wall(dr):
    hops = {h["name"]: h for h in dr["hops"]}
    return hops["gold"]["end_ms"] - hops["bronze"]["start_ms"]


def drain_rate(dr, trades):
    """Valid trades per second of one drain (bronze start to gold end)."""
    return trades / (drain_wall(dr) / 1000.0) if dr["ok"] else 0.0


class Ledger:
    """Attempted and failed operations (batches, queries, checks)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def op(self, ok, problem=None):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if problem:
                self.problems.append(problem)


def evaluate(workload, raw, inputs, base, trace, cores):
    """Metrics, the correctness verdict and a detail record for one run."""
    led = Ledger()
    detail = {"workload": workload, "trace": trace, "cores": cores}
    notes = []
    e2e = {}

    # --- pipeline runs: drains (backfill) or the live window
    hist = inputs.get("history")
    gen_rep = load_json(os.path.join(hist, "report.json")) if hist else None
    rate_samples, fresh_samples = {}, {}
    for dr in raw.get("drains", []):
        for h in dr["hops"]:
            for p in _progress(h):
                led.op(True)
        if not dr["ok"]:
            led.op(False, dr.get("error"))
            continue
        if "gold_dump" in dr:
            probs = check_bars(read_bars(dr["gold_dump"]),
                               read_bars(os.path.join(hist, "expected.csv")))
            led.op(not probs, "; ".join(probs[:3]))
        wall = drain_wall(dr)
        rate_samples.setdefault(dr["traced"], []).append(
            drain_rate(dr, gen_rep["valid_trades"]))
        # every trade of a drain becomes visible when gold's drain ends, so
        # on backfill freshness repeats the drain wall
        fresh_samples.setdefault(dr["traced"], []).extend(
            [wall] * gen_rep["valid_trades"])

    live = raw.get("live")
    if live:
        gen_rep = load_json(live["gen_report"])
        hops = {h["name"]: h for h in live["hops"]}
        for h in live["hops"]:
            for p in _progress(h):
                led.op(True)
        ends, maxes = gold_visibility(_progress(hops["gold"]))
        t0, per_ms = gen_rep["t0_ms"], gen_rep["rate"] / 1000.0
        warm_end = raw["warm_done_ms"]
        sched_end = t0 + gen_rep["files"] * gen_rep["interval_ms"]
        split = raw.get("trace_from_ms", sched_end) if trace else sched_end
        dues = [t0 + int(j / per_ms) for j in range(gen_rep["slots"])]
        for traced, lo, hi in ((False, warm_end, split), (True, split, sched_end)):
            window = [d for d in dues if lo <= d < hi]
            if not window:
                continue
            f = freshness(window, ends, maxes)
            never = sum(1 for x in f if x is None)
            led.op(never == 0, "%d trades never became visible in gold" % never)
            vis = [x for x in f if x is not None]
            fresh_samples[traced] = vis
            rate_samples[traced] = [visible_rate(window, f, lo)]
        grew = backlog_grew(ends, maxes, warm_end, sched_end)
        led.op(not grew, "live: backlog grew during the schedule (rate above capacity)")
        probs = check_bars(read_bars(live["gold_dump"]),
                           read_bars(os.path.join(inputs["live"], "expected.csv")))
        led.op(not probs, "; ".join(probs[:3]))
        detail["live"] = {"gen": {k: v for k, v in gen_rep.items() if k != "writes"}}

    # --- analyst queries
    qs = [q for q in raw.get("queries", []) if q.get("round") == 1]
    lat = {}
    for q in qs:
        led.op(q["ok"], "%s(%s) failed or differed" % (q["cls"], q["symbol"]))
        lat.setdefault((q["cls"], q["traced"]), []).append(q["ms"])

    for e in raw.get("errors", []):
        led.op(False, e)

    # --- end-to-end metrics (untraced samples; a traced run reports
    #     its traced half separately as overhead)
    def pick(d, k):
        return d.get(k) or d.get(not k) or []
    setup_end = raw["warm_done_ms"]
    e2e["setup_s"] = (setup_end - raw["setup_start_ms"]) / 1000.0
    e2e["trades_per_s"] = p50(pick(rate_samples, False))
    fs = pick(fresh_samples, False)
    e2e["freshness_p50_ms"] = p50(fs)
    ft, fpct, fn = tail(fs)
    e2e["freshness_tail_ms"] = ft
    detail["tails"] = {"freshness_tail_ms": {"percentile": fpct, "samples": fn}}
    notes.append("freshness_tail_ms is p%.3f of %d samples" % (fpct, fn))
    for c in QUERY_CLASSES:
        v = pick({k[1]: x for k, x in lat.items() if k[0] == c}, False)
        e2e["%s_p50_ms" % c] = p50(v)
        t, pct, n = tail(v)
        e2e["%s_tail_ms" % c] = t
        detail["tails"]["%s_tail_ms" % c] = {"percentile": pct, "samples": n}
        notes.append("%s_tail_ms is p%.1f of %d samples%s" % (
            c, pct, n, " (their minimum)" if n == 11 else ""))
    e2e["heap_retained_mb"] = raw["heap_retained_mb"]
    detail["e2e"] = e2e
    detail["failed_ratio"] = led.failed / max(1, led.attempted)
    detail["problems"] = led.problems
    notes.append("failed_ratio = %d / %d = %.4f" % (
        led.failed, led.attempted, detail["failed_ratio"]))
    for p in led.problems[:10]:
        notes.append("problem: %s" % p)

    if trace:
        metrics = per_layer(workload, raw, base, cores, gen_rep,
                            rate_samples, fresh_samples, lat, detail)
        units = {k: u for k, u in PER_LAYER_UNITS}
        out = {k: {"value": metrics[k], "unit": units[k]} for k, _ in PER_LAYER_UNITS}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    result = {"correct": led.failed == 0, "attempted": led.attempted,
              "failed": led.failed, "metrics": out}
    return {"result": result, "notes": notes, "detail": detail}


def _layer_units():
    units = []
    hop_keys = [("batches", "count"), ("nodata_batch_share", "ratio"),
                ("rows_in", "count"), ("rows_out", "count"),
                ("busy_ms", "ms"), ("add_batch_ms", "ms"),
                ("overhead_ms", "ms"), ("planning_ms", "ms"),
                ("batch_p50_ms", "ms"), ("idle_ms", "ms"),
                ("task_ms", "ms"), ("shuffle_write_bytes", "bytes"),
                ("spill_bytes", "bytes"), ("files_written", "count"),
                ("bytes_written", "bytes"), ("span_self_ms", "ms")]
    state_keys = [("state_rows", "count"), ("state_bytes", "bytes"),
                  ("state_commit_ms", "ms"),
                  ("rows_dropped_by_watermark", "count")]
    for h in HOPS:
        units += [("%s.%s" % (h, k), u) for k, u in hop_keys]
        if h != "bronze":
            units += [("%s.%s" % (h, k), u) for k, u in state_keys]
    units += [("gold.bars_updated", "count"), ("gold.rewrite_bytes_per_bar", "bytes")]
    for c in QUERY_CLASSES:
        units += [("analytics.%s.%s" % (c, k), u) for k, u in (
            ("task_ms", "ms"), ("bytes_read", "bytes"), ("files_read", "count"),
            ("planning_ms", "ms"), ("shuffle_bytes", "bytes"))]
    units += [("spark.cpu_busy_share", "ratio"), ("spark.gc_ms", "ms"),
              ("spark.tasks", "count"), ("spark.task_failures", "count"),
              ("gen.trades", "count"), ("gen.files", "count"),
              ("gen.late_ms_p50", "ms"), ("gen.late_ms_max", "ms"),
              ("pipeline.residual_ms", "ms"), ("pipeline.residual_share", "ratio"),
              ("trace.overhead_pct", "%"),
              ("baseline.local1_trades_per_s", "1/s"),
              ("baseline.scaling_x", "ratio")]
    return units


PER_LAYER_UNITS = _layer_units()


# hop metrics that add up over micro-batches (a drain reports them per drain)
PER_DRAIN_TOTALS = {"batches", "rows_in", "rows_out", "busy_ms", "add_batch_ms",
                    "overhead_ms", "planning_ms", "idle_ms", "task_ms",
                    "shuffle_write_bytes", "spill_bytes", "state_commit_ms",
                    "rows_dropped_by_watermark", "bars_updated", "span_self_ms"}


def per_layer(workload, raw, base, cores, gen_rep, rate_samples,
              fresh_samples, lat, detail):
    counters = raw.get("counters", {})
    spans = self_times(raw.get("spans", []))
    detail["spans"] = spans
    detail["counters"] = counters
    m = {}
    # the measured pipeline: traced drains, or the traced live window
    if raw.get("live"):
        hops = {h["name"]: h for h in raw["live"]["hops"]}
        t_from = raw.get("trace_from_ms", 0)
        sinks = raw["live"]["sinks"]
        prog = {n: [p for p in _progress(h) if iso_ms(p["timestamp"]) >= t_from]
                for n, h in hops.items()}
        walls = {n: hops[n]["end_ms"] - max(hops[n]["start_ms"], t_from) for n in hops}
        residual = [0.0]
        n_per = 1
    else:
        traced = [dr for dr in raw.get("drains", []) if dr["traced"] and dr["ok"]]
        prog = {n: [] for n in HOPS}
        walls = {n: 0 for n in HOPS}
        residual = []
        sinks = traced[-1]["sinks"] if traced else {}
        for dr in traced:
            busy = 0
            for h in dr["hops"]:
                pp = _progress(h)
                prog[h["name"]] += pp
                walls[h["name"]] += h["end_ms"] - h["start_ms"]
                busy += sum(p["durationMs"].get("triggerExecution", 0) for p in pp)
            residual.append(drain_wall(dr) - busy)
        n_per = max(1, len(traced))
        detail["drain_walls_ms"] = [drain_wall(dr) for dr in traced]
    for h in HOPS:
        layer = hop_layer(h, prog[h], walls[h], counters, sinks.get(h))
        layer["%s.span_self_ms" % h] = sum(s["self_ms"] for s in spans if s["name"] == h)
        for k in list(layer):
            # drains report per drain: totals over the traced drains / count
            if k.split(".", 1)[1] in PER_DRAIN_TOTALS:
                layer[k] = layer[k] / n_per
        m.update(layer)
    drains = [drain_wall(dr) for dr in raw.get("drains", []) if dr["traced"] and dr["ok"]]
    m["pipeline.residual_ms"] = p50(residual)
    m["pipeline.residual_share"] = (p50(residual) / p50(drains)) if drains else 0.0

    qs = [q for q in raw.get("queries", []) if q.get("round") == 1 and q["traced"]]
    for c in QUERY_CLASSES:
        mine = [q for q in qs if q["cls"] == c]
        n = max(1, len(mine))
        cnt = counters.get("analytics.%s" % c, {})
        m["analytics.%s.task_ms" % c] = cnt.get("task_ms", 0) / n
        m["analytics.%s.bytes_read" % c] = sum(q["bytes_read"] for q in mine) / n
        m["analytics.%s.files_read" % c] = sum(q["files_read"] for q in mine) / n
        m["analytics.%s.planning_ms" % c] = sum(q["planning_ms"] for q in mine) / n
        m["analytics.%s.shuffle_bytes" % c] = cnt.get("shuffle_write_bytes", 0) / n

    task_ms = sum(c.get("task_ms", 0) for c in counters.values())
    if spans:
        t_lo = min(s["start_ms"] for s in spans)
        t_hi = max(s["end_ms"] for s in spans)
        m["spark.cpu_busy_share"] = task_ms / max(1.0, (t_hi - t_lo) * cores)
    else:
        m["spark.cpu_busy_share"] = 0.0
    m["spark.gc_ms"] = raw.get("gc_ms_total", 0)
    m["spark.tasks"] = sum(c.get("tasks", 0) for c in counters.values())
    m["spark.task_failures"] = (sum(c.get("task_failures", 0) for c in counters.values())
                                + len(raw.get("harness_warnings", [])))
    g = gen_rep or {}
    m["gen.trades"] = g.get("trades", 0)
    m["gen.files"] = g.get("files", 0)
    m["gen.late_ms_p50"] = g.get("late_ms_p50", 0.0)
    m["gen.late_ms_max"] = g.get("late_ms_max", 0.0)

    # tracing overhead: the traced half against the untraced half
    def headline(traced):
        if workload == "live":
            return p50(fresh_samples.get(traced, []))
        r = p50(rate_samples.get(traced, []))
        return 1.0 / r if r else 0.0
    un, tr = headline(False), headline(True)
    m["trace.overhead_pct"] = (tr / un - 1.0) * 100.0 if un and tr else 0.0
    # traced minus untraced, for every end-to-end value both halves have
    halves = {"trades_per_s": rate_samples, "freshness_p50_ms": fresh_samples}
    halves.update({"%s_p50_ms" % c: {t: lat.get((c, t), []) for t in (False, True)}
                   for c in QUERY_CLASSES})
    detail["trace_overhead"] = {
        k: {"untraced": p50(v[False]), "traced": p50(v[True]),
            "traced_minus_untraced": p50(v[True]) - p50(v[False])}
        for k, v in halves.items() if v.get(False) and v.get(True)}

    if base:
        m["baseline.local1_trades_per_s"] = base["local1"]
        m["baseline.scaling_x"] = base["localN"] / base["local1"] if base["local1"] else 0.0
    else:
        m["baseline.local1_trades_per_s"] = 0.0
        m["baseline.scaling_x"] = 0.0
    return m
