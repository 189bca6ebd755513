"""Steadiness check of the medbench benchmark.

    python3 medbench/steady.py                       # all workloads, seeds 1..10
    python3 medbench/steady.py --workloads txlog_upkeep --seeds 5

Two checks, both from runs of run.py:

1. Spread. Each workload runs untraced once per seed. For every end-to-end
   metric the spread is the distance between the first and third quartile
   of the values (statistics.quantiles, n=4) as a share of their median. It
   must stay within the metric's bound in BENCHMARK.json (setup_s is
   reported, not judged); the target is a third of the bound.
2. Repeat. Seed 1 runs traced twice (and untraced once, from check 1).
   Every count metric (unit count or bytes, except the INEXACT ones) must be
   identical in both traced runs, and the workload's result fingerprints
   (gold content hashes, file counts) in all three. The tracing overhead is traced run_s
   minus the untraced run_s of seed 1.
3. Critical path (medallion_daily). runner.critical_path_s plus
   runner.slot_wait_s of the traced runs must come within TRACE_TOLERANCE
   of the untraced run_s (medians of both). Within one traced run the two
   add up to its wall by construction, so this checks that the path
   measured under tracing accounts for the time of the runs without it.

Prints one JSON summary and exits non-zero if any check fails.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
# Byte counts that differed by under 0.1% between two runs of one seed, so
# they are not judged for exact repeats: shuffle bytes (compressed blocks
# depend on the order rows reach a reduce task), TxLog log records, and the
# files a range read scans after mergeDV/updateWhereDV rewrites.
INEXACT = {"bronze.shuffle_bytes", "silver.shuffle_bytes", "gold.shuffle_bytes",
           "gold.dq.shuffle_bytes", "gold.txlog.log_bytes_per_commit",
           "gold.txlog.range_read_bytes"}


def exact(fingerprint):
    """A fingerprint without the INEXACT entries and the ratios built on them."""
    if isinstance(fingerprint, dict):
        return {k: v for k, v in fingerprint.items()
                if k not in INEXACT and k not in ("space_amp", "gold.txlog.data_bytes_per_user_byte")}
    return fingerprint
ROOT = BENCH_DIR.parent
TRACE_TOLERANCE = 0.10


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {out.returncode}")
    result = json.loads(lines[-1])
    context = next((json.loads(l[len("# context "):]) for l in lines if l.startswith("# context ")), {})
    return result, context


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf"), med


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    names = {0: [m["name"] for m in bench["end_to_end"]], 1: list(units)}
    ok = True

    def checked(w, seed, trace):
        nonlocal ok
        res, context = run(w, seed, bench["run_seconds"], trace)
        if list(res["metrics"]) != names[trace]:
            print(f"[steady] {w}: metric names differ from BENCHMARK.json", file=sys.stderr)
            ok = False
        ok &= bool(res["correct"])
        return res, context

    summary = {}
    for w in args.workloads.split(","):
        report = summary.setdefault(w, {})
        untraced = {}
        values = {}
        for seed in range(1, args.seeds + 1):
            res, context = checked(w, seed, 0)
            untraced[seed] = res
            if seed == 1:
                first_context = context
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"[steady] {w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr)
        for k, vs in values.items():
            s, med = spread(vs)
            judged = k != "setup_s"
            within = s <= bounds[k]
            report[k] = {"median": med, "spread": round(s, 4), "bound": bounds[k],
                         "within_bound": within, "within_third": s <= bounds[k] / 3}
            ok &= within or not judged

        (a, ca), (b, cb) = checked(w, 1, 1), checked(w, 1, 1)
        counts = [k for k, u in units.items() if u in ("count", "bytes") and k not in INEXACT]
        differing = {k: (a["metrics"][k]["value"], b["metrics"][k]["value"]) for k in counts
                     if a["metrics"][k]["value"] != b["metrics"][k]["value"]}
        fingerprints = [k for k in ("gold_hashes", "table_counts")
                        if k in ca and not exact(ca[k]) == exact(cb.get(k)) == exact(first_context.get(k))]
        run_s = untraced[1]["metrics"]["run_s"]["value"]
        traced_s = a["metrics"]["trace.run_s"]["value"]
        rep = {"counts_differing": differing, "fingerprints_differing": fingerprints,
               "trace_overhead_s": traced_s - run_s, "untraced_run_s": run_s,
               "traced_run_s": traced_s}
        ok &= not differing and not fingerprints
        if w == "medallion_daily":
            def traced_median(k):
                return statistics.median(r["metrics"][k]["value"] for r in (a, b))
            path_s = traced_median("runner.critical_path_s")
            accounted = path_s + traced_median("runner.slot_wait_s")
            untraced_s = statistics.median(values["run_s"])
            rep["critical_path_s"] = path_s
            rep["critical_path_plus_slot_wait_s"] = accounted
            rep["untraced_run_s_median"] = untraced_s
            rep["accounts_for_run_s"] = abs(accounted - untraced_s) <= TRACE_TOLERANCE * untraced_s
            ok &= rep["accounts_for_run_s"]
        report["repeat"] = rep
    print(json.dumps({"ok": ok, "workloads": summary}, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
