#!/usr/bin/env python3
"""The benchmark's one command. From the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source (perfbench/build.py), makes
the inputs from the seed, runs one workload in a fresh JVM, checks the
outputs, and prints a report followed by one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark's directory free of build output

import build  # noqa: E402

RUN_BUDGET_S = 170  # a run ends within 180 s once built
HEAP = "3g"  # fixed, so that rss_peak_mb compares like with like
STATIONS = "src/test/resources/golden_dashboard.txt"
# the tables of the repository's sf0.1 test corpus that the sampled queries
# read, copied byte for byte (see README.md)
CORPUS = "perfbench/data/sf0.1"
WORKLOADS = ("transit_live", "suite_read", "suite_commit")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def num(v):
    """A measured value for the report; the JVM writes null when there were no samples."""
    return "n/a" if v is None else f"{v:.6g}"


def load_spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def oracle_check(corpus, checks, cache_dir):
    """Compare each query's Spark output with its DuckDB oracle the way the
    repository's oracle gate does: columns sorted by name, values rendered
    as strings, rows sorted. The corpus is fixed, so each oracle result is
    computed once per (query, SQL, corpus content) and kept in `cache_dir`.
    Returns the mismatches and the seconds each check took."""
    import hashlib
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    corpus_hash = hashlib.sha256()
    for f in sorted(os.listdir(corpus)):
        corpus_hash.update(f.encode() + b"\0" + open(os.path.join(corpus, f), "rb").read())

    def normalized(df):
        df = df.reindex(sorted(df.columns), axis=1).astype(str)
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    con = None
    os.makedirs(cache_dir, exist_ok=True)
    bad, took = [], {}
    for q, c in checks.items():
        t0 = time.monotonic()
        key = hashlib.sha256((corpus_hash.hexdigest() + "\0" + c["sql"]).encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{q}-{key}.pkl")
        try:
            s = normalized(pq.read_table(c["dir"]).to_pandas())
            if os.path.exists(cached):
                d = pd.read_pickle(cached)
            else:
                if con is None:
                    con = duckdb.connect()
                    for f in os.listdir(corpus):
                        if f.endswith(".parquet"):
                            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                        f"'{os.path.join(corpus, f)}'")
                d = normalized(con.execute(c["sql"]).df())
                d.to_pickle(cached)
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append(f"{q}: oracle check could not run: {str(e)[:200]}")
            continue
        if list(s.columns) != list(d.columns):
            bad.append(f"{q}: columns differ: spark={list(s.columns)} oracle={list(d.columns)}")
        elif len(s) != len(d):
            bad.append(f"{q}: rows differ: spark={len(s)} oracle={len(d)}")
        elif not s.equals(d):
            bad.append(f"{q}: {int((s != d).any(axis=1).sum())}/{len(s)} rows differ from the oracle")
        took[q] = time.monotonic() - t0
    return bad, took


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala")) or \
            not os.path.isfile(os.path.join(root, STATIONS)) or \
            not os.path.isdir(os.path.join(root, CORPUS)):
        print("perfbench: run from the repository root (library sources, "
              f"{STATIONS} and {CORPUS} are needed)", file=sys.stderr)
        return 2
    spec = load_spec()
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    log_path = os.path.join(build_dir, f"{args.workload}.log")
    with open(log_path, "w") as log:
        cp = build.build(log)
        suite = args.workload != "transit_live"
        corpus = os.path.join(root, CORPUS) if suite else ""
        t_start = time.monotonic()
        work = os.path.join(build_dir, "runs", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(work, "result.json")
        cmd = [build.java()] + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] + [
            f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--work", work, "--corpus", corpus,
            "--stations", os.path.join(root, STATIONS)]
        try:
            r = subprocess.run(cmd, stdout=log, stderr=log, timeout=RUN_BUDGET_S - 10)
        except subprocess.TimeoutExpired:
            print(f"perfbench: the run did not finish in time; see {log_path}", file=sys.stderr)
            return 1
        if r.returncode != 0 or not os.path.exists(out):
            print(f"perfbench: the run failed (exit {r.returncode}); see {log_path}", file=sys.stderr)
            return 1
        res = json.load(open(out))
        t_check = time.monotonic()
        mismatches, took = ([], {}) if not suite else \
            oracle_check(corpus, res["oracle_checks"], os.path.join(build_dir, "oracle"))
        if suite:
            slow = ", ".join(f"{q} {s:.1f} s" for q, s in sorted(took.items(), key=lambda x: -x[1])[:3])
            res["report"].append(f"oracle check: {len(res['oracle_checks'])} queries against DuckDB "
                                 f"in {time.monotonic() - t_check:.1f} s ({slow}), "
                                 f"{len(mismatches)} mismatches")
        res["report"].append(f"JVM ended {t_check - t_start:.1f} s after it started")
        if args.trace == 1 and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(build_dir, f"spans-{args.workload}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    attempted = res["attempted"] + len(res["oracle_checks"])
    failed = res["failed"] + len(mismatches)
    failures = res["failures"] + mismatches
    for line in res["report"]:
        print(line)
    print(f"{args.workload}: seed {args.seed}, {args.seconds} s, trace {args.trace}, "
          f"run {time.monotonic() - t_start:.1f} s")
    for k, m in res["end_to_end"].items():
        print(f"  {m['label']:<32} {num(m['value']):<12} {m['unit']:<4} n={m['n']:<8} [{k}]")
    print(f"  {'error_rate':<32} {failed / max(1, attempted):<12.6g} {'':<4} n={attempted:<8} "
          f"({failed} failed)")
    for f in failures:
        print(f"  FAILED: {f}")

    e2e_names = [m["name"] for m in spec["end_to_end"]]
    untraced = os.path.join(build_dir, f"untraced-{args.workload}.json")
    if args.trace == 0:
        json.dump({k: res["end_to_end"][k]["value"] for k in e2e_names}, open(untraced, "w"))
        wanted, source = e2e_names, res["end_to_end"]
    else:
        wanted, source = [m["name"] for m in spec["per_layer"]], res["per_layer"]
        if os.path.exists(untraced):
            base = json.load(open(untraced))
            for k in ("p50_s", "tail_s", "ops_per_s"):
                t, u = res["end_to_end"][k]["value"], base.get(k)
                if u and t is not None:
                    print(f"  tracing overhead on {k}: untraced {u:.4g}, traced {t:.4g} "
                          f"({100 * (t - u) / u:+.1f}%, previous untraced run vs this one)")
        for k, m in source.items():
            print(f"  {k:<46} {num(m['value'])} {m['unit']}" + (f" n={m['n']}" if m["n"] else ""))

    # an end-to-end metric without samples (the JVM writes null) means every
    # operation failed: no result line then
    missing = [k for k in wanted if args.trace == 0 and source[k]["value"] is None]
    if missing:
        print(f"perfbench: no samples for {', '.join(missing)}", file=sys.stderr)
        return 1
    # a layer the workload does not exercise, or a stream without triggers in
    # the window, reports 0
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics = {k: {"value": source[k]["value"] if source.get(k, {}).get("value") is not None
                   else 0.0, "unit": units[k]} for k in wanted}
    print(json.dumps({"correct": not mismatches and res["failed"] == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
