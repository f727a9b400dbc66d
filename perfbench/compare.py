"""Compare two sets of benchmark records, workload by workload.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a record file written by run.py, or a directory of
them (every *.json inside). Untraced records give the end-to-end metrics
(the gated ones and the workload-specific detail), traced ones the
per-layer metrics. A traced and an untraced record of the same workload
and seed in one set give the tracing overhead, trace.overhead_ms_per_op:
the traced run's op_p50_ms minus the untraced run's (the median over
seeds). For each workload the first row sums
up its verdicts; then every metric gets a row with the base median, the
new median, their ratio with its base, and each side's run-to-run spread
(quartile distance over median).

An end-to-end metric is "worse" when the new median is worse than the
base median by more than the metric's bound in BENCHMARK.json,
"unresolved" when either side's spread is wider than that bound (unless
every new run beats every base run), and "ok" otherwise. Per-layer
and detail metrics have no bound and get no verdict.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def load(arg: str) -> dict:
    """{(workload, traced): {metric: [values]}} from a file or directory."""
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    out = defaultdict(lambda: defaultdict(list))
    op_ms = defaultdict(dict)  # (workload, traced) -> {seed: op_p50_ms}
    for f in files:
        r = json.loads(f.read_text())
        key = (r["workload"], bool(r["trace"]))
        section = r["per_layer"] if r["trace"] else {**r["end_to_end"], **r["detail"]}
        for name, m in section.items():
            out[key][name].append(m["value"])
        if "op_p50_ms" in r["detail"]:
            op_ms[key][r["seed"]] = r["detail"]["op_p50_ms"]["value"]
    for (workload, traced), by_seed in list(op_ms.items()):
        plain = op_ms.get((workload, False), {})
        for seed in sorted(set(by_seed) & set(plain)) if traced else []:
            out[(workload, True)]["trace.overhead_ms_per_op"].append(by_seed[seed] - plain[seed])
    return out


def spread(xs: list) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def verdict(name: str, base: list, new: list) -> str:
    spec = BOUNDS.get(name)
    if spec is None:
        return "-"
    lower = spec["better"] == "lower"
    b, n = statistics.median(base), statistics.median(new)
    worse_by = ((n - b) if lower else (b - n)) / abs(b) if b else 0.0
    beats_all = (max(new) < min(base)) if lower else (min(new) > max(base))
    if max(spread(base), spread(new)) > spec["bound"] and not beats_all:
        return "unresolved"
    return "worse" if worse_by > spec["bound"] else "ok"


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for workload in sorted({w for w, _ in base} | {w for w, _ in new}):
        rows = []
        for traced in (False, True):
            bm, nm = base.get((workload, traced), {}), new.get((workload, traced), {})
            for name in sorted(set(bm) & set(nm)):
                b, n = statistics.median(bm[name]), statistics.median(nm[name])
                ratio = f"{n / b:.3f}x of {b:.4g}" if b else "base 0"
                rows.append((name, f"{b:.4g}", f"{n:.4g}", ratio, f"{spread(bm[name]):.3f}",
                             f"{spread(nm[name]):.3f}", verdict(name, bm[name], nm[name])))
        counts = defaultdict(int)
        for r in rows:
            counts[r[-1]] += 1
        summary = ", ".join(f"{k} {v}" for k, v in sorted(counts.items()) if k != "-")
        print(f"== {workload}: {summary or 'no end-to-end metrics in both sets'}")
        print(f"  {'metric':44} {'base':>10} {'new':>10} {'ratio':>22} {'spr_b':>6} {'spr_n':>6}  verdict")
        for r in rows:
            print(f"  {r[0]:44} {r[1]:>10} {r[2]:>10} {r[3]:>22} {r[4]:>6} {r[5]:>6}  {r[6]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
