#!/usr/bin/env python3
"""Per-layer report: where each workload's traced pass time goes.

    python3 perfbench/report.py [--seed 1] [--seconds N] [--workload NAME ...]

Runs ``run.py --trace 1`` for each workload (all by default) and prints,
per workload, the self time of every layer split into the part spent
inside Spark stage spans and the driver-side part outside them, then
``spark.driver_gap_s`` (all driver-side time) and the traced wall time.
Layer self times add up to the traced wall time; any difference larger
than a tenth of it is printed as ``remainder``. ``--from-results`` reads
the last saved traced results instead of running.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from layertrace import ALL_LAYERS
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
RESULTS = HERE.parent / ".perfbench-work" / "results"


def table(record: dict) -> str:
    m = record["trace"]["metrics"]
    wall = m["trace.pass_s"]
    lines = [
        f"## {record['workload']}  (seed {record['seed']}, cpus {record['cpus']}, "
        f"spark {record['spark_version']}, loadavg {record['loadavg_start']})",
        f"traced pass {wall:.3f} s, untraced pass {m['trace.untraced_pass_s']:.3f} s, "
        f"tracing overhead {m['trace.overhead_s']:+.3f} s "
        f"({record['trace']['traced_passes']} traced / {record['trace']['untraced_passes']} untraced passes)",
        "",
        f"| {'layer':<22} | {'self_s':>8} | {'in_stages_s':>11} | {'driver_s':>8} | {'share':>6} |",
        f"|{'-' * 24}|{'-' * 10}|{'-' * 13}|{'-' * 10}|{'-' * 8}|",
    ]
    total = 0.0
    for layer in ALL_LAYERS:
        self_s = m[f"self.{layer}_s"]
        driver = m[f"self.{layer}.driver_s"]
        total += self_s
        share = self_s / wall if wall else 0.0
        lines.append(
            f"| {layer:<22} | {self_s:8.3f} | {self_s - driver:11.3f} | {driver:8.3f} | {share:6.1%} |"
        )
    lines.append(f"| {'sum of layers':<22} | {total:8.3f} | {'':>11} | {'':>8} | {'':>6} |")
    lines.append(
        f"| {'spark.driver_gap_s':<22} | {'':>8} | {'':>11} | {m['spark.driver_gap_s']:8.3f} | "
        f"{m['spark.driver_gap_s'] / wall if wall else 0.0:6.1%} |"
    )
    lines.append(f"| {'traced wall':<22} | {wall:8.3f} | {'':>11} | {'':>8} | {'':>6} |")
    remainder = wall - total
    if wall and abs(remainder) > 0.1 * wall:
        lines.append(f"| {'remainder':<22} | {remainder:8.3f} | {'':>11} | {'':>8} | {remainder / wall:6.1%} |")
    lines.append("")
    lines.append(
        "spark: "
        + ", ".join(
            f"{k.split('.', 1)[1]}={m[k]:.4g}"
            for k in sorted(m)
            if k.startswith("spark.") and k != "spark.driver_gap_s"
        )
    )
    lines.append(
        "streaming: "
        + ", ".join(f"{k.split('.', 1)[1]}={m[k]:.4g}" for k in sorted(m) if k.startswith("streaming."))
    )
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument(
        "--seconds",
        type=float,
        default=json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"],
    )
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    ap.add_argument("--from-results", action="store_true")
    args = ap.parse_args(argv)

    for name in args.workload or sorted(WORKLOADS):
        if not args.from_results:
            cmd = [
                sys.executable, str(HERE / "run.py"),
                "--workload", name, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", "1",
            ]
            if subprocess.run(cmd, stdout=subprocess.DEVNULL).returncode != 0:
                print(f"{name}: traced run failed", file=sys.stderr)
                return 1
        record = json.loads((RESULTS / f"{name}-seed{args.seed}-trace1.json").read_text())
        print(table(record))
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
