#!/usr/bin/env python3
"""Repeat runs of the benchmark and summarise them.

    # ten seeds of one workload: median and IQR/median per metric
    python3 e2ebench/spread.py run --workload nightly_batch --seeds 1-10 --seconds 5

    # markdown summary of every run record left under .bench_build:
    # untraced medians and spreads, traced per-layer medians, tracing
    # overhead, heaviest spans by self time, and local[1] baselines
    python3 e2ebench/spread.py report > e2ebench/TRACED_RUN.md

Run from the repository root, like run.py.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    """(median, IQR / median) with Python's default quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def cmd_run(a):
    rows = []
    for s in seeds(a.seeds):
        args = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                "--seed", str(s), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.cores:
            args += ["--cores", str(a.cores)]
        p = subprocess.run(args, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        r = json.loads(last)
        rows.append(r)
        print("seed %d rc=%d correct=%s %s" % (s, p.returncode, r.get("correct"),
              " ".join("%s=%.4g" % (k, v["value"]) for k, v in r.get("metrics", {}).items()
                       if not a.trace)), flush=True)
    ok = [r for r in rows if r.get("correct")]
    print("%d/%d runs correct" % (len(ok), len(rows)))
    if len(ok) >= 2:
        for name in ok[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in ok]
            med, sp = spread(vals)
            print("%-28s median=%-12.5g iqr/median=%.4f" % (name, med, sp))


def cmd_report(a):
    recs = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(a.records, "*.json")))]
    out = ["# Traced run", "",
           "Summary of run records written by `e2ebench/run.py` (one per workload,",
           "seed, trace flag and core count). Medians over seeds; spread is",
           "IQR/median of the untraced runs. Tracing overhead is the traced median",
           "minus the untraced one; the two come from different runs, so an",
           "overhead smaller than the spread (or negative) is host noise, not a",
           "measured cost. Generated by `python3 e2ebench/spread.py report`.", ""]
    for w in sorted({r["workload"] for r in recs}):
        mine = [r for r in recs if r["workload"] == w and r["correct"]]
        plain = [r for r in mine if r["trace"] == 0 and r["cores"] != 1]
        traced = [r for r in mine if r["trace"] == 1 and r["cores"] != 1]
        single = [r for r in mine if r["cores"] == 1]
        cores = sorted({r["cores"] for r in plain + traced})
        out += ["## %s" % w, "",
                "%d untraced and %d traced runs at local%s; %d at local[1]."
                % (len(plain), len(traced), cores, len(single)), ""]
        if plain:
            cal = statistics.median(r["calibration"]["cpu_ms"] for r in plain)
            scal = statistics.median(r["calibration"]["spark_ms"] for r in plain)
            out += ["Calibration (median): CPU loop %.1f ms, spark.range aggregation %.1f ms."
                    % (cal, scal), "", "| end-to-end metric | untraced median | spread |"
                    + (" traced median | tracing overhead |" if traced else ""),
                    "|---|---|---|" + ("---|---|" if traced else "")]
            for name in plain[0]["end_to_end"]:
                vals = [r["end_to_end"][name] for r in plain]
                u = statistics.median(vals)
                sp = "%.3f" % spread(vals)[1] if len(vals) >= 4 else ""
                row = "| %s | %.4g | %s |" % (name, u, sp)
                if traced and name == "work_s":
                    t = statistics.median(r["per_layer"]["trace.work_s"] for r in traced)
                    row += " %.4g | %+.4g (%+.1f%%) |" % (t, t - u, 100 * (t - u) / u)
                elif traced:
                    row += " | |"
                out.append(row)
            for m in plain[0]["named"]:
                u = statistics.median(x["value"] for r in plain for x in r["named"]
                                      if x["name"] == m["name"])
                out.append("| %s (%s, %s is better) | %.4g | |%s" % (
                    m["name"], m["unit"], m["better"], u, " | |" if traced else ""))
            out.append("")
        if traced:
            out += ["Per-layer (traced, median; 0 = layer idle in this workload):", "",
                    "| metric | median |", "|---|---|"]
            for name in sorted(traced[0]["per_layer"]):
                v = statistics.median(r["per_layer"].get(name, 0.0) for r in traced)
                if v:
                    out.append("| %s | %.4g |" % (name, v))
            spans = {}
            for r in traced:
                for s in r["spans"]:
                    spans.setdefault(s["name"], []).append(s)
            out += ["", "Spans (traced; summed per run, averaged over runs; spans that",
                    "overlap in time, such as concurrent micro-batches, count the same",
                    "jobs and tasks):", "",
                    "| span | wall s | self s | jobs | task run s | planning ms | outside jobs s |",
                    "|---|---|---|---|---|---|---|"]
            per_run = len(traced)
            rows = []
            for name, ss in spans.items():
                def tot(k):
                    return sum(s[k] for s in ss) / per_run
                rows.append((tot("self_s"), "| %s | %.3f | %.3f | %.0f | %.3f | %.0f | %.3f |" % (
                    name, tot("wall_s"), tot("self_s"), tot("jobs"), tot("task_run_s"),
                    tot("planning_ms"), tot("outside_jobs_s"))))
            out += [r for _, r in sorted(rows, reverse=True)]
            out.append("")
        if single:
            out += ["Single-thread baseline, local[1] (median over %d runs):" % len(single), ""]
            for name in single[0]["end_to_end"]:
                v = statistics.median(r["end_to_end"][name] for r in single)
                out.append("- %s = %.4g" % (name, v))
            out.append("")
    print("\n".join(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=float, default=5)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--cores", type=int)
    p = sub.add_parser("report")
    p.add_argument("--records", default=os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "e2ebench", "records"))
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_report(a)


if __name__ == "__main__":
    main()
