#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <anon_copy|index_ingest|corpus_dedup> \\
        --seed <n> --seconds <s> --trace <0|1>

It builds the program and the benchmark's engine side from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs one closed loop with a single caller for `seconds`
of operation time in one Spark process at local[<cores>], checks every
operation's output against the repository's DuckDB oracles, and prints each
metric by name and unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones
(the span report is written to .bench_build/traces/).
"""
import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

DEADLINE_S = 170
JAVA_OPTS = ["-Xmx3g", "-Xss8m", "-Dspark.ui.enabled=false"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def declared():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def run_engine(args, classpath, data, work, out, started):
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", os.pathsep.join(classpath),
           "graft.perfbench.PerfBench", args.workload, data, work, str(args.seconds),
           str(args.trace), str(cores), out])
    log_path = os.path.join(work, "engine.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: engine run failed ({rc})")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- oracles

def duck(data, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


CTE_RE = re.compile(r"(^|\n|,\s*|WITH RECURSIVE |WITH )(\w+) AS \(")


def materialized(sql):
    """The oracle with each named CTE marked MATERIALIZED: the same query,
    evaluated once per CTE instead of once per reference (a recursive CTE
    otherwise re-runs its inputs on every iteration)."""
    return CTE_RE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def check_anon_copy(raw, data):
    """Every copy's per-table row counts, and the full per-table summary
    (rows, checksum over key and anonymized columns, decimal sum) of the
    last copy, must equal q_graft_e2e's oracle on the generated catalog."""
    con = duck(data, "region nation customer supplier part orders lineitem".split())
    want = sorted(tuple(r) for r in con.sql(materialized(raw["oracle_sql"]["q_graft_e2e"])).fetchall())

    def same_summary(rows):
        got = sorted(tuple(r) for r in rows)
        return len(got) == len(want) and all(
            g[:3] == w[:3] and math.isclose(g[3], w[3], rel_tol=1e-12, abs_tol=1e-6) for g, w in zip(got, want))

    ok = [o for o in raw["ops"] if o["ok"]]
    bad = sum(not all(o["check"]["counts"].get(w[0]) == w[1] for w in want) for o in ok)
    last = raw["extra"].get("last_summary")
    return bad + (last is None or not same_summary(last))


def digest(ids):
    return [len(ids), sum(ids), sum(i * i for i in ids)]


def check_corpus_dedup(raw, data):
    """Kept ids must equal deduplicateCorpus's documented stages replayed
    with the repository's oracles: q_quality_filter, then the exact-copy
    collapse to the min id per text (as q_dedup_corpus_dupheavy's oracle
    does it), then q_dedup_corpus over the survivors. q_dedup_corpus alone
    has no collapse stage, so an exact copy that shares no rare shingle
    with its original would survive it."""
    con = duck(data, ["documents"])
    kept_q = [r[0] for r in con.sql(raw["oracle_sql"]["q_quality_filter"]).fetchall()]
    con.sql("DROP VIEW documents")
    con.sql(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{data}/documents.parquet') WHERE doc_id IN ("
            f"SELECT min(doc_id) FROM read_parquet('{data}/documents.parquet') "
            f"WHERE doc_id IN (SELECT unnest({kept_q}::BIGINT[])) GROUP BY md5(text))")
    want = digest([r[0] for r in con.sql(materialized(raw["oracle_sql"]["q_dedup_corpus"])).fetchall()])
    bad = 0
    for o in raw["ops"]:
        if not o["ok"]:
            continue
        c = o["check"]
        bad += c["kept"] != want or ("staged_kept" in c and c["staged_kept"] != want)
    return bad


def check_index_ingest(raw, data):
    """Batches that failed, plus the final probe if it differs from the same
    probe on a fresh build over the surviving documents."""
    return 0 if raw["extra"].get("final_probe_ok") else 1


CHECKS = {"anon_copy": check_anon_copy, "index_ingest": check_index_ingest, "corpus_dedup": check_corpus_dedup}


# ---------------------------------------------------------------- metrics

def rate(ok):
    """Median over operations of rows per second of the program call: a
    single stalled operation moves it no more than it moves the median."""
    return M.median([o["rows"] / (o["core_ms"] / 1e3) for o in ok])


def end_to_end(raw, gen_s):
    ok = [o for o in raw["ops"] if o["ok"]]
    core = [o["core_ms"] for o in ok]
    setup = raw["setup"]
    return {
        "setup_s": gen_s + setup["session_s"] + setup["setup_s"],
        "op_p50_ms": M.median(core),
        "rows_per_s": rate(ok),
    }


def tail_of(prefix, samples):
    t = M.ptail(samples)
    if t is None:
        return [(f"{prefix}_ptail_ms", float("nan"), f"ms (n={len(samples)}: too few samples for a tail)")]
    p, v, n = t
    return [(f"{prefix}_ptail_ms", v, f"ms (p{p}, n={n})")]


def workload_lines(raw):
    """The workload's own figures, printed by name and unit beside the
    declared metrics (ptail with its percentile and sample count)."""
    ok = [o for o in raw["ops"] if o["ok"]]
    core = [o["core_ms"] for o in ok]
    lines = []
    w = raw["workload"]
    if w == "anon_copy":
        lines.append(("copy_rows_per_s", rate(ok), "rows/s"))
        if ok:
            c = ok[-1]["check"]
            lines.append(("copy_bytes_ratio", c["bytes_out"] / c["source_bytes"], "B/B"))
    elif w == "index_ingest":
        lines.append(("ingest_docs_per_s", rate(ok), "docs/s"))
        lines.append(("batch_p50_ms", M.median(core), "ms"))
        lines += tail_of("batch", core)
        probe = [o["check"]["probe_ms"] for o in ok]
        lines.append(("probe_p50_ms", M.median(probe), "ms"))
        lines += tail_of("probe", probe)
        e = raw["extra"]
        if "live_bytes" in e:
            lines.append(("index_bytes_per_doc", e["live_bytes"] / max(1, e["survivors"]), "B/doc"))
    else:
        lines.append(("dedup_docs_per_s", rate(ok), "docs/s"))
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    spec = declared()
    classpath = build.build()

    run_dir = os.path.abspath(os.path.join(build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    try:
        t = time.monotonic()
        gen.generate(args.workload, args.seed, data)
        gen_s = time.monotonic() - t
        t = time.monotonic()
        raw = run_engine(args, classpath, data, work, os.path.join(run_dir, "raw.json"), started)
        engine_s = time.monotonic() - t
        t = time.monotonic()
        attempted = len(raw["ops"]) + (1 if args.workload == "index_ingest" else 0)
        failed = sum(not o["ok"] for o in raw["ops"]) + CHECKS[args.workload](raw, data)
        print(f"wall: generate {gen_s:.1f} s, engine {engine_s:.1f} s (session {raw['setup']['session_s']:.1f} s, "
              f"set-up {raw['setup']['setup_s']:.1f} s, {len(raw['ops'])} ops), "
              f"oracle check {time.monotonic() - t:.1f} s")

        if args.trace:
            layer, report, overhead = M.per_layer(raw, spec["per_layer"])
            os.makedirs(os.path.join(build.BUILD, "traces"), exist_ok=True)
            trace_path = os.path.join(build.BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "run_id": raw["trace_record"]["run_id"],
                           "metrics": layer, "overhead": overhead, "spans": report,
                           "scans": raw["trace_record"]["scans"], "progress": raw["progress"]}, f, indent=1)
            out = {k: layer[k] for k in (d["name"] for d in spec["per_layer"])}
            print(f"trace: {len(report)} spans -> {trace_path}; overhead {overhead['overhead_ms']:.1f} ms over "
                  f"{overhead['traced_ops']} traced and {overhead['untraced_ops']} untraced ops")
        else:
            e2e = end_to_end(raw, gen_s)
            out = {d["name"]: {"value": e2e[d["name"]], "unit": d["unit"]} for d in spec["end_to_end"]}
            for name, value, unit in workload_lines(raw):
                print(f"{name} {value:.6g} {unit}")
            print("op_ms " + " ".join(f"{o['core_ms']:.0f}" for o in raw["ops"] if o["ok"]))
        print(f"op_fail_frac {failed / attempted:.6g} (failed {failed} of {attempted} attempted)")
        for name, m in out.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        for err in [o["error"] for o in raw["ops"] if o["error"]] + [raw["extra"].get("finish_error")]:
            if err:
                print(f"error: {err}", file=sys.stderr)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
