"""Metric arithmetic for perfbench: percentiles, span self times, the
attribution of Spark listener records to spans, and the per-layer metrics of
a traced run. Pure functions over the raw record the engine side writes, so
the self-tests can drive them with synthetic data."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def ptail(samples, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it
    (nearest rank), as (percentile, value, sample count); None when the
    sample is too small to support a tail above the median."""
    n = len(samples)
    if n < 2 * beyond:
        return None
    p = math.floor(100 * (n - beyond) / n)
    xs = sorted(samples)
    k = math.ceil(p * n / 100)
    assert n - k >= beyond
    return p, xs[k - 1], n


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part of its interval its children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        [(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
        for s in spans}


def subtree(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    by_id = {s["id"]: s for s in spans}
    while todo:
        i = todo.pop()
        out.append(by_id[i])
        todo += [c["id"] for c in kids.get(i, [])]
    return out


def attribute_jobs(spans, jobs, slack_ms=1.0):
    """{span id: [jobs]}: each job goes to the innermost span open when it
    was submitted. Listener times are whole milliseconds, hence the slack."""
    out = {}
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] - slack_ms <= j["start"] <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        if best is not None:
            out.setdefault(best["id"], []).append(j)
    return out


def spark_layer(wall_ms, jobs, stages, cores):
    """spark.* metrics for one call boundary: its jobs (with their stages'
    task records) inside a span of `wall_ms`."""
    st = [stages[s] for j in jobs for s in j["stages"] if s in stages]
    task_ms = sum(s["run_ms"] for s in st)
    busy = union_length([(j["start"], j["end"] if j["end"] >= 0 else j["start"]) for j in jobs])
    skews = [max(s["durations"]) / max(median(s["durations"]), 1) for s in st if len(s["durations"]) >= 2]
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(s["tasks"] for s in st),
        "spark.task_ms": task_ms,
        "spark.driver_gap_ms": max(0.0, wall_ms - busy),
        "spark.core_util": task_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
        "spark.input_bytes": sum(s["input"] for s in st),
        "spark.output_bytes": sum(s["output"] for s in st),
        "spark.gc_ms": sum(s["gc_ms"] for s in st),
        "spark.task_skew": median(skews) if skews else 1.0,
    }


def span_dur(spans, name):
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def durs(spans, name):
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


def in_spans(at, spans, slack_ms=1.0):
    """Whether an event stamped `at` (a query's end, whole milliseconds)
    falls inside one of `spans`: after its start, and at most the stamp's
    rounding past its end."""
    return any(s["start"] < at <= s["end"] + slack_ms for s in spans)


# The span around each workload's program call: the spark.* layer is taken
# over its jobs only, not over the breakdown passes a traced op adds.
CALL_SPAN = {"anon_copy": "graft.run", "corpus_dedup": "dedup.corpus", "index_ingest": "op"}


def traced_ops(raw, spans):
    """[(op record, root span, spans of its subtree)] for every traced op,
    matched by request id."""
    roots = {s["req"]: s for s in spans if s["name"] == "op"}
    if raw["workload"] == "index_ingest":
        ops = {o["check"].get("batch_id"): o for o in raw["ops"] if o["traced"]}
    else:
        ops = {i: o for i, o in enumerate(raw["ops"]) if o["traced"]}
    return [(ops[r], roots[r], subtree(spans, roots[r]["id"])) for r in sorted(roots) if r in ops]


def per_layer(raw, declared):
    """Per-layer metrics of a traced run: each is the median over traced
    operations of that operation's value; layers a workload does not reach
    read 0. Also returns the per-span report (self time, attributed
    counts) and the tracing overhead."""
    tr = raw["trace_record"]
    cores = raw["cores"]
    stages = {s["stage"]: s for s in tr["stages"]}
    spans_all = [s for s in tr["spans"] if not math.isnan(s["end"])]
    by_span = attribute_jobs(spans_all, tr["jobs"])
    selfs = self_times(spans_all)
    ops = traced_ops(raw, spans_all)
    rows = []
    for op, _, sp in ops:
        jobs_in = lambda names: [j for s in sp if s["name"] in names for j in by_span.get(s["id"], [])]
        call = next(s for s in sp if s["name"] == CALL_SPAN[raw["workload"]])
        call_jobs = [j for s in subtree(sp, call["id"]) for j in by_span.get(s["id"], [])]
        m = dict(spark_layer(call["end"] - call["start"], call_jobs, stages, cores))
        c = op["check"]
        if raw["workload"] == "anon_copy":
            counts = c["counts"]
            # Anonymizing minus bare pass over the same cached columns, the
            # median over the op's pairs.
            anon_ms = median([a - b for a, b in zip(durs(sp, "functions.anon_noop"), durs(sp, "functions.scan_noop"))])
            m.update({
                "plans.plan_ms": span_dur(sp, "plans.plan"),
                "plans.plan_jobs": len(jobs_in({"plans.plan"})),
                "plans.propagate_ms": span_dur(sp, "plans.propagate"),
                "plans.kept_row_frac": sum(counts.values()) / c["source_rows"],
                "functions.anon_ms": anon_ms,
                "functions.anon_rows_per_s": c["func_rows"] / (anon_ms / 1e3) if anon_ms > 0 else 0.0,
                "sinks.write_ms": span_dur(sp, "graft.run") - span_dur(sp, "sinks.frames_noop"),
                "sinks.files_out": c["files_out"],
                "sinks.bytes_out": c["bytes_out"],
            })
        elif raw["workload"] == "corpus_dedup":
            m.update({
                "text.quality_ms": span_dur(sp, "text.quality"),
                "dedup.exact_ms": span_dur(sp, "dedup.exact"),
                "dedup.pairs_ms": span_dur(sp, "dedup.pairs"),
                "dedup.cluster_ms": span_dur(sp, "dedup.cluster"),
                "dedup.keep_ms": span_dur(sp, "dedup.keep"),
                "dedup.pairs_out": c.get("pairs_out", 0),
                "dedup.clusters_out": c.get("clusters_out", 0),
            })
        else:
            probe = [s for s in sp if s["name"] == "index.probe"]
            scans = [x for x in tr["scans"] if in_spans(x["at"], probe)]
            written = sum(stages[s]["output"] for j in jobs_in({"index.append", "index.delete", "index.maintain"})
                          for s in j["stages"] if s in stages)
            d = c["durations"]
            m.update({
                "index.append_ms": span_dur(sp, "index.append"),
                "index.delete_ms": span_dur(sp, "index.delete"),
                "index.maintain_ms": span_dur(sp, "index.maintain"),
                "index.compactions": c["compactions"],
                "index.bytes_written_per_doc": written / max(1, op["rows"]),
                "index.probe_ms": span_dur(sp, "index.probe"),
                "index.probe_files_read": sum(x["files"] for x in scans),
                "index.probe_bytes_read": sum(x["bytes"] for x in scans),
                "index.segments": c["segments"],
                "stream.trigger_ms": d.get("triggerExecution", 0),
                "stream.add_batch_ms": d.get("addBatch", 0),
                "stream.boundary_ms": d.get("triggerExecution", 0) - d.get("addBatch", 0),
                "stream.planning_ms": d.get("queryPlanning", 0),
                "stream.wal_commit_ms": d.get("walCommit", 0),
            })
        rows.append(m)
    metrics = {}
    for d in declared:
        vals = [r[d["name"]] for r in rows if d["name"] in r]
        metrics[d["name"]] = {"value": float(median(vals)) if vals else 0.0, "unit": d["unit"]}
    untraced = [o["core_ms"] for o in raw["ops"] if o["ok"] and not o["traced"]]
    traced = [o["core_ms"] for o in raw["ops"] if o["ok"] and o["traced"]]
    if raw["workload"] == "index_ingest":
        # Every batch is traced; the tracing work inside each was timed.
        overhead = median([o["check"]["trace_ms"] for o in raw["ops"] if o["ok"] and o["traced"]])
    else:
        overhead = median(traced) - median(untraced) if traced and untraced else 0.0
    metrics["trace.overhead_ms"] = {"value": float(overhead), "unit": "ms"}
    report = [dict(s, self_ms=selfs[s["id"]], jobs=len(by_span.get(s["id"], [])),
                   tasks=sum(stages[x]["tasks"] for j in by_span.get(s["id"], []) for x in j["stages"] if x in stages))
              for s in spans_all]
    return metrics, report, {"overhead_ms": overhead, "traced_ops": len(traced), "untraced_ops": len(untraced),
                             "traced_median_ms": median(traced), "untraced_median_ms": median(untraced)}
