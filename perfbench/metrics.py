"""Turns the raw record of one benchmark run into its metrics.

The raw record (written by perfbench.Main) holds every timed unit (one
query, request or operation) with its phases, and, for a traced run, every
Spark job, stage and query execution. The pure helpers at the top are unit
tested in perfbench/tests.
"""
import math
import statistics

LAYERS = ("queries", "graph", "analytics", "pipeline", "store")
LAYER_METRICS = (("build_ms", "ms"), ("plan_ms", "ms"), ("codegen_compiles", "count"),
                 ("codegen_ms", "ms"), ("jobs", "count"), ("single_task_stages", "count"),
                 ("driver_gap_ms", "ms"), ("executor_cpu_ms", "ms"), ("cpu_ms", "ms"))
CATALYST_PHASES = ("analysis", "optimization", "planning")
BUILD_PHASES = ("build", "ops")


# ------------------------------------------------------------ pure helpers

def percentile(values, p):
    """Linear-interpolated p-th percentile (0 <= p <= 100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, min_beyond=10):
    """The highest whole percentile with at least `min_beyond` of `n`
    samples beyond it, or None when there are too few samples."""
    if n <= min_beyond:
        return None
    return math.floor(100.0 * (n - min_beyond) / n)


def tail_or_median(n):
    """The tail percentile of `n` samples, or the median (50) when too
    few samples put the tail below it."""
    return max(50, tail_percentile(n) or 50)


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, each clipped
    to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_ms(start, end, job_intervals):
    """Wall time of [start, end] spent outside every Spark job."""
    return (end - start) - union_ms(job_intervals, start, end)


def self_times(spans):
    """Self time of each span: its length minus the union of its
    children's intervals. `spans` are dicts with id, parent, start_ms and
    end_ms; returns {id: self ms}."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - union_ms(kids, s["start_ms"], s["end_ms"])
    return out


def merge_fingerprints(fps):
    """Merge order-free fingerprints (rows, hash_sum) of parts of one
    result into the fingerprint of the whole. Hash sums wrap as signed
    64-bit integers, like Spark's long arithmetic."""
    rows = sum(int(f[0]) for f in fps)
    h = sum(int(f[1]) for f in fps) & (2 ** 64 - 1)
    if h >= 2 ** 63:
        h -= 2 ** 64
    return rows, h


# -------------------------------------------------------------- summaries

def _m(value, unit):
    return {"value": float(value), "unit": unit}


def _tail(ms_values, p):
    """The p-th percentile of latencies, with p and the sample count n
    beside it (summarize moves them out of the result line)."""
    return {"value": float(percentile(ms_values, p)), "unit": "ms", "p": p,
            "n": len(ms_values)}


def check_units(raw, expected):
    """Marks wrong outputs on the units; returns (attempted, failed)."""
    units = raw["units"]
    if raw["workload"] == "suite_sweep":
        for u in units:
            if u["error"] is None and u["wrong"] is None:
                want = expected.get(u["name"])
                got = [u["extra"]["rows"], u["extra"]["hash_sum"]]
                if want is None:
                    u["wrong"] = "no committed fingerprint"
                elif list(merge_fingerprints([got])) != want:
                    u["wrong"] = f"fingerprint {got}, want {want}"
    # the untimed warm-up requests are checked too
    attempted = len(units) + raw.get("warmup_units", 0)
    failed = (sum(1 for u in units if u["error"] is not None or u["wrong"] is not None)
              + raw.get("warmup_failed", 0))
    if raw["workload"] == "graph_txn":
        attempted += 1  # the recovery check
        failed += 0 if raw["extra"]["recovery_ok"] else 1
    return attempted, failed


def end_to_end(raw):
    """The metrics bounded from run to run. Wall-clock latency moves with
    the CPU time the host takes from a shared virtual machine (steal) by
    far more than the bounds allow, so the bounded cost of a unit is the
    CPU time the JVM spent on the loop, per unit; wall latency and
    throughput are reported by the traced run (see `wall_clock`)."""
    units = raw["units"]
    recall = sum(1 for u in units if u["error"] is None and u["wrong"] is None) / len(units)
    return {
        "setup_s": _m((raw["session_ms"] + statistics.median(raw["prepare_ms"])) / 1000.0, "s"),
        "cpu_ms_per_op": _m(raw["loop_cpu_ms"] / len(units), "ms"),
        "answer_recall": _m(recall, "ratio"),
    }


def wall_clock(raw):
    """Wall-clock latency (median and tail) and throughput of the loop's
    units."""
    units = raw["units"]
    ms = [u["ms"] for u in units]
    return {
        "run.latency_p50_ms": _m(percentile(ms, 50), "ms"),
        "run.latency_tail_ms": _tail(ms, tail_or_median(len(ms))),
        "run.throughput_per_s": _m(len(units) / (raw["loop_ms"] / 1000.0), "1/s"),
    }


def _attribute(raw):
    """Per unit of a traced run: its jobs, stages and query executions."""
    tr = raw["trace"]
    by_group = {u["group"]: u for u in raw["units"]}
    jobs, stages, qes = {}, {}, {}
    for j in tr["jobs"]:
        if j["group"] in by_group:
            jobs.setdefault(j["group"], []).append(j)
    for s in tr["stages"]:
        if s["group"] in by_group:
            stages.setdefault(s["group"], []).append(s)
    ordered = sorted(raw["units"], key=lambda u: u["start_ms"])
    for q in tr["qes"]:
        starts = [v[0] for k, v in q["phases"].items() if k in CATALYST_PHASES]
        if not starts:
            continue
        t = min(starts)
        for u in ordered:
            if u["start_ms"] <= t <= u["end_ms"]:
                qes.setdefault(u["group"], []).append(q)
                break
    return jobs, stages, qes


def _plan_ms(u, qes):
    total = 0.0
    for q in qes:
        total += sum(v[1] - v[0] for k, v in q["phases"].items() if k in CATALYST_PHASES)
    if u["extra"].get("qe") not in {q["qe"] for q in qes}:
        total += sum(v[1] - v[0] for k, v in u["plan_phases"].items() if k in CATALYST_PHASES)
    return total


def spans_of(raw):
    """Span tree unit -> phase -> Spark job, with self time per span and
    per layer."""
    jobs, _, _ = _attribute(raw)
    spans = []
    for u in raw["units"]:
        uid = f"u{u['idx']}"
        spans.append({"id": uid, "parent": None, "name": u["name"], "layer": u["layer"],
                      "start_ms": u["start_ms"], "end_ms": u["end_ms"]})
        phase_ids = []
        for i, p in enumerate(u["phases"]):
            pid = f"{uid}.p{i}"
            phase_ids.append((pid, p))
            spans.append({"id": pid, "parent": uid, "name": p["name"], "layer": u["layer"],
                          "start_ms": p["start_ms"], "end_ms": p["end_ms"]})
        for j in jobs.get(u["group"], []):
            parent = next((pid for pid, p in phase_ids
                           if p["start_ms"] <= j["start_ms"] <= p["end_ms"]), uid)
            spans.append({"id": f"j{j['job']}", "parent": parent, "name": "job",
                          "layer": "spark", "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    selfs = self_times(spans)
    by_layer = {}
    for s in spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + selfs[s["id"]]
        s["self_ms"] = selfs[s["id"]]
    return {"spans": spans, "self_ms_by_layer": by_layer}


def per_layer(raw, untraced_ms):
    """Per-layer metrics of a traced run. `untraced_ms` are the unit
    latencies of an untraced run of the same workload (same seed when
    there is one), for the cost of tracing; None when there is none."""
    units = raw["units"]
    jobs, stages, qes = _attribute(raw)
    out = wall_clock(raw)
    for layer in LAYERS:
        us = [u for u in units if u["layer"] == layer]
        vals = {k: 0.0 for k, _ in LAYER_METRICS}
        for u in us:
            g = u["group"]
            js = jobs.get(g, [])
            ss = stages.get(g, [])
            vals["build_ms"] += sum(p["ms"] for p in u["phases"] if p["name"] in BUILD_PHASES)
            vals["plan_ms"] += _plan_ms(u, qes.get(g, []))
            vals["codegen_compiles"] += u["compiles"]
            vals["codegen_ms"] += u["compile_ms"]
            vals["jobs"] += len(js)
            vals["single_task_stages"] += sum(1 for s in ss if s["tasks"] == 1)
            vals["driver_gap_ms"] += driver_gap_ms(
                u["start_ms"], u["end_ms"], [(j["start_ms"], j["end_ms"]) for j in js])
            vals["executor_cpu_ms"] += sum(s["cpu_ms"] for s in ss)
            vals["cpu_ms"] += u["cpu_ms"]
        for k, unit in LAYER_METRICS:
            out[f"{layer}.{k}"] = _m(vals[k] / len(us) if us else 0.0, unit)
    all_stages = [s for g in stages.values() for s in g]
    n = max(len(units), 1)
    out["run.shuffle_bytes_per_unit"] = _m(sum(s["shuffle_bytes"] for s in all_stages) / n, "bytes")
    out["run.spill_bytes_per_unit"] = _m(sum(s["spill_bytes"] for s in all_stages) / n, "bytes")
    # varies by about 40% from run to run, too much to bound end to end
    out["run.heap_live_mb"] = _m(raw["heap_live_mb"], "MB")

    # graph_txn: writes and reads apart, WAL volume, recovery
    for layer, kind, name in (("store", "write", "write"), ("graph", "read", "read")):
        ms = [u["ms"] for u in raw["units"]
              if u["kind"] == kind and raw["workload"] == "graph_txn"]
        out[f"{layer}.{name}_p50_ms"] = _m(percentile(ms, 50) if ms else 0.0, "ms")
        out[f"{layer}.{name}_tail_ms"] = (
            _tail(ms, tail_or_median(len(ms))) if ms else _m(0.0, "ms"))
    out["store.wal_bytes_per_op"] = _m(raw["extra"].get("wal_bytes_per_op", 0.0), "bytes")
    out["store.recover_ms"] = _m(raw["extra"].get("recover_ms", 0.0), "ms")

    # share of the loop's CPU time the host took from this machine
    out["run.cpu_steal_frac"] = _m(raw["cpu_steal_frac"] or 0.0, "ratio")
    # the cost of tracing: mean unit latency of this run against an
    # untraced run's
    mean_tr = statistics.mean(u["ms"] for u in units)
    out["trace_overhead_frac"] = _m(
        mean_tr / statistics.mean(untraced_ms) - 1.0 if untraced_ms else 0.0, "ratio")
    return out


def summarize(raw, expected, untraced_ms=None):
    """(result line, tails, span tree or None) of one run's raw record.
    Each metric of the result line holds only its value and unit; `tails`
    holds the percentile p and sample count n of each tail metric."""
    attempted, failed = check_units(raw, expected)
    if raw["traced"]:
        metrics = per_layer(raw, untraced_ms)
        metrics["failed_frac"] = _m(failed / attempted, "ratio")
        spans = spans_of(raw)
    else:
        metrics = end_to_end(raw)
        spans = None
    tails = {k: {"p": v.pop("p"), "n": v.pop("n")} for k, v in metrics.items() if "p" in v}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, tails, spans
