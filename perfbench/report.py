#!/usr/bin/env python3
"""Repeat-run report for the graft benchmark.

Usage, from the root of a graft checkout:

    python3 perfbench/report.py --workloads rag_serve vector_ingest \
        --seeds 1-10 --traced-seeds 1,2

For each workload it runs perfbench/run.py untraced once per seed; right
after the untraced run of a traced seed it runs that seed traced (the first
traced seed twice), so that each overhead pair runs under the same host
conditions. Then it prints, as markdown:
  - each end-to-end metric's median, quartiles and spread (the distance
    between the quartiles as a share of the median) against its bound;
  - held-out seed: the median of --repeats runs of the second traced seed
    against that of the first, the runs alternating between the two seeds;
  - tracing overhead: traced against untraced runs of the same seed;
  - whether the count metrics repeat exactly for one seed.
With --untraced-only it makes only the untraced runs and the spreads.
Every run's full record is kept under .bench_build/perfbench/results/, and
all of them together in the --out file (default
.bench_build/perfbench/report.json).

To check that two sets of runs of the same code agree, give the --out file
of an earlier set as --against: each metric's median in this set is printed
against the earlier one, with the change as a share of the earlier median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

COUNTS = ("operators.build_jobs", "exec.jobs", "exec.tasks",
          "indexstore.artifacts_built", "indexstore.append_jobs")


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(workload, seed, trace, seconds):
    """One benchmark run; returns its full record (both metric sets)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)
    if proc.returncode != 0:
        sys.exit(f"run failed: {' '.join(cmd)}\n{proc.stdout}\n{proc.stderr}")
    work = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench", "results", f"{workload}-s{seed}-t{trace}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def heldout(w, t1, t2, repeats, secs, bounds):
    """Markdown table: median of `repeats` untraced runs of seed t2 against
    seed t1, the runs alternating so that both see the same host."""
    runs = {t1: [], t2: []}
    for _ in range(repeats):
        for s in (t1, t2):
            runs[s].append(run(w, s, 0, secs))
    med = lambda s, k: statistics.median(r["end_to_end"][k]["value"] for r in runs[s])
    rows = [f"\nHeld-out seed: median of {repeats} runs of seed {t2} against"
            f" seed {t1}\n", f"| metric | seed {t1} | seed {t2} | change | bound |",
            "|---|---|---|---|---|"]
    for k, bound in bounds.items():
        x, y = med(t1, k), med(t2, k)
        rows.append(f"| {k} | {x:.4g} | {y:.4g} | {y / x - 1:+.3f} | {bound} |")
    return "\n".join(rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seeds", default="1,2",
                    help="two seeds from --seeds")
    ap.add_argument("--repeats", type=int, default=3,
                    help="untraced runs per seed for the held-out comparison")
    ap.add_argument("--untraced-only", action="store_true")
    ap.add_argument("--out", default=os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench",
        "report.json"))
    ap.add_argument("--against", help="--out file of an earlier set")
    a = ap.parse_args()
    earlier = None
    if a.against:
        with open(a.against) as f:
            earlier = json.load(f)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    secs = bench["run_seconds"]
    t1, t2 = seeds(a.traced_seeds)[:2]
    raw = {}
    for w in a.workloads:
        plain, traced = {}, {t1: [], t2: []}
        for s in seeds(a.seeds):
            plain[s] = run(w, s, 0, secs)
            for _ in range(0 if a.untraced_only else {t1: 2, t2: 1}.get(s, 0)):
                traced[s].append(run(w, s, 1, secs))
        traced = traced[t1] + traced[t2]
        raw[w] = {"untraced": plain, "traced": traced}
        print(f"\n### {w}: {len(plain)} untraced runs, seeds {a.seeds}\n")
        print("| metric | median | Q1 | Q3 | spread | bound |")
        print("|---|---|---|---|---|---|")
        for k, bound in bounds.items():
            v = [r["end_to_end"][k]["value"] for r in plain.values()]
            q1, med, q3 = statistics.quantiles(v, n=4)
            print(f"| {k} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                  f"| {(q3 - q1) / med:.3f} | {bound} |")
        if earlier and w in earlier:
            print("\nAgainst the earlier set: medians of the untraced runs\n")
            print("| metric | earlier | this set | change | bound |")
            print("|---|---|---|---|---|")
            for k, bound in bounds.items():
                x, y = (statistics.median(r["end_to_end"][k]["value"]
                                          for r in runs["untraced"].values())
                        for runs in (earlier[w], raw[w]))
                print(f"| {k} | {x:.4g} | {y:.4g} | {y / x - 1:+.3f} | {bound} |")
        if a.untraced_only:
            continue
        print(heldout(w, t1, t2, a.repeats, secs, bounds))
        print("\nTracing overhead: traced against the untraced run just before"
              " it, same seed\n")
        print("| metric | untraced | traced | overhead |")
        print("|---|---|---|---|")
        for k in ("cold_pass_s", "warm_pass_s", "read_p50_s"):
            x = statistics.mean(plain[s]["end_to_end"][k]["value"] for s in (t1, t2))
            y = statistics.mean(traced[i]["end_to_end"][k]["value"] for i in (0, 2))
            print(f"| {k} | {x:.4g} | {y:.4g} | {y / x - 1:+.3f} |")
        print(f"\nCount metrics, two traced runs of seed {t1}\n")
        for k in COUNTS:
            x, y = (traced[0]["per_layer"][k]["value"],
                    traced[1]["per_layer"][k]["value"])
            print(f"- {k}: {x:g} and {y:g}: {'repeats' if x == y else 'DIFFERS'}")
        print("\nPer-layer metrics, traced run of seed %d\n" % t1)
        for k, m in traced[0]["per_layer"].items():
            print(f"- {k}: {m['value']:.4g} {m['unit']}")
    with open(a.out, "w") as f:
        json.dump(raw, f)


if __name__ == "__main__":
    main()
