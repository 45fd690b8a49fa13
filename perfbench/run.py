"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Prints the run conditions and each metric
as ``name value unit`` lines, then, as the last line, one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics. Writes only under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _on_term(*_) -> None:
    """A TERM signal unwinds through ``bench.close()`` like any other way
    out; a second one does not cut that short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signal.SIGTERM)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "img2table_spark").is_dir():
        print(f"img2table_spark not found under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads
    from harness import Bench, adopt_orphans, conditions

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        p.error(f"unknown workload {args.workload!r}")
    fn = getattr(workloads, args.workload)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    signal.signal(signal.SIGTERM, _on_term)
    adopt_orphans()
    bench = Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = fn(bench)
        cond = conditions(bench)
        bench.phase("close")
    finally:
        bench.close()
    bench.phase(None)

    if args.trace:
        idle = sorted(set(declared) - set(result.metrics))
        result.notes.append("layers this workload does not run, reported as 0: " + " ".join(idle))
        result.metrics.update({k: (0, declared[k]) for k in idle})
    missing = sorted(set(declared) - set(result.metrics))
    wrong_unit = sorted(k for k, u in declared.items() if k in result.metrics and result.metrics[k][1] != u)
    if missing or wrong_unit:
        print(f"declared metrics missing: {missing}; with another unit: {wrong_unit}", file=sys.stderr)
        return 3
    print("conditions " + json.dumps(cond, sort_keys=True))
    for note in result.notes:
        print(note)
    print("phases_s " + json.dumps({k: round(v, 2) for k, v in bench.phases.items()}))
    for name, (value, unit) in sorted({**result.metrics, **result.extras}.items()):
        print(f"{name} {value:.6g} {unit}")
    failed = len(result.failures)
    print(f"failed_frac {failed / max(result.attempted, 1):.6g} fraction")
    for f in result.failures[:50]:
        print("FAILED " + " ".join(str(x) for x in f))
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "conditions": cond,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.metrics.items()},
        "extras": {k: {"value": v, "unit": u} for k, (v, u) in result.extras.items()},
        "failures": [list(map(str, f)) for f in result.failures],
        "notes": result.notes,
    }
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(bench.work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": max(result.attempted, 1),
                "failed": failed,
                "metrics": {k: {"value": result.metrics[k][0], "unit": u} for k, u in declared.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
