#!/usr/bin/env python3
"""Benchmark of the echem_dft_etl_spark engine: one workload per run.

    python3 perfbench/run.py --workload etl_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run is one closed-loop batch
client: it submits the workload's queries one after another on
``local[4]``, forcing each with the noop sink and releasing leftover
persisted RDDs and caches between queries.

A run starts fresh worker processes (``worker.py``), one after another:

1. a set-up probe that only sets the program up and exits;
2. the main worker, which sets up, runs one untimed pass that collects
   every query and compares it with its DuckDB oracle, two untimed
   warm-up passes, then measures warm passes for ``--seconds``.

``setup_s`` is the median set-up time of the two processes (process
start to inputs ready: JVM launch, ``session.get_session``, registry
import and seeded input generation). With ``--trace 1`` no probe runs;
the main worker alternates untraced and traced passes and the result
holds the per-layer metrics instead (see ``layertrace.py``).

``setup_s``, ``pass_s`` and ``query_geomean_s`` are scaled to a
reference host speed measured between queries (``worker.host_speed``);
the unscaled times are printed and kept in the record.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The lines before
it name every failed query and record the provenance of the run (cpus,
seed, input size, Spark version, loadavg). The full result is kept in
``.perfbench-work/results/``.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM = ROOT / "echem_dft_etl_spark" / "__init__.py"
WORK_ROOT = ROOT / ".perfbench-work"

CPUS = 4
#: Driver heap for local[4] on a 15 GiB host (the session default is 24g).
DRIVER_MEM = "2g"
SETUP_PROBES = 1
#: The main worker is ended this many seconds after the run started.
RUN_LIMIT_S = 175.0


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def run_worker(args, role: str, work: Path, out: Path, timeout: float) -> dict | None:
    """Run one worker in its own process group; kill what it leaves behind."""
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        # the launcher JVM that spark-submit starts before the driver JVM
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    cwd = work / f"cwd-{role}-{out.stem}"
    cwd.mkdir(parents=True, exist_ok=True)
    cmd = [
        sys.executable,
        str(HERE / "worker.py"),
        "--role", role,
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", str(work),
        "--out", str(out),
    ]
    log = work / f"{out.stem}.log"
    started = time.monotonic()
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            cmd, cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            rc = proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM and its Python workers share the worker's process
            # group; nothing in it holds state worth a graceful shutdown
            if _group_alive(proc.pid):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            deadline = time.monotonic() + 10
            while _group_alive(proc.pid) and time.monotonic() < deadline:
                time.sleep(0.05)
    if rc != 0 or not out.exists():
        why = "timed out" if rc is None else f"exited with {rc}"
        tail = log.read_text(errors="replace")[-3000:]
        print(f"perfbench: {role} worker {why}\n{tail}", file=sys.stderr)
        return None
    result = json.loads(out.read_text())
    result["wall_s"] = time.monotonic() - started
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still ends its workers (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not PROGRAM.is_file():
        print(f"perfbench: the program is missing ({PROGRAM.relative_to(ROOT)})", file=sys.stderr)
        return 2

    t0 = time.monotonic()
    # one fixed work directory per workload (see worker.Run.setup); a
    # second run of the workload in this checkout waits for the first
    WORK_ROOT.mkdir(exist_ok=True)
    lock = open(WORK_ROOT / f"{args.workload}.lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    work = WORK_ROOT / args.workload
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    results = WORK_ROOT / "results"
    results.mkdir(parents=True, exist_ok=True)
    load_start = loadavg()
    try:
        setups, raw_setups, walls = [], [], []
        if not args.trace:
            for i in range(SETUP_PROBES):
                probe = run_worker(args, "probe", work, work / f"probe{i}.json", 60.0)
                if probe is None:
                    return 1
                setups.append(probe["setup_s"])
                raw_setups.append(probe["raw.setup_s"])
                walls.append(probe["wall_s"])
        main_res = run_worker(
            args, "main", work, work / "main.json", RUN_LIMIT_S - (time.monotonic() - t0)
        )
        if main_res is None:
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setups.append(main_res["setup_s"])
    raw_setups.append(main_res["raw.setup_s"])
    failures = main_res["failures"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": CPUS,
        "driver_mem": DRIVER_MEM,
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "setup_samples_s": setups,
        "raw.setup_samples_s": raw_setups,
        "worker_walls_s": walls + [main_res["wall_s"]],
        **main_res,
    }
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1)
    )

    if args.trace:
        values = main_res["trace"]["metrics"]
        metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units("per_layer").items()}
        samples = f"{main_res['trace']['traced_passes']} traced + {main_res['trace']['untraced_passes']} untraced passes"
    else:
        values = {
            "setup_s": statistics.median(setups),
            "pass_s": main_res["pass_s"],
            "query_geomean_s": main_res["query_geomean_s"],
            "peak_rss_mb": main_res["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units("end_to_end").items()}
        samples = (
            f"{len(main_res['passes'])} timed passes, {len(setups)} set-ups; "
            f"unscaled: setup_s={statistics.median(raw_setups):.3f} "
            f"pass_s={main_res['raw.pass_s']:.3f} "
            f"query_geomean_s={main_res['raw.query_geomean_s']:.4f} "
            f"at host speed {main_res['speed']:.2f}"
        )
    size = main_res["input_size"]
    print(
        f"perfbench: workload={args.workload} seed={args.seed} cpus={CPUS} "
        f"spark={main_res['spark_version']} loadavg={load_start} "
        f"input={sum(size['rows'].values())} rows/{size['bytes']} bytes "
        f"queries={len(main_res['queries'])} samples=({samples}) "
        f"first_pass_s={main_res['warmup.first_pass_s']:.3f}"
    )
    for f in failures:
        print(f"perfbench: FAILED {f['query']} (pass {f['pass']}): {f['reason']}")
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": main_res["attempted"],
                "failed": len(failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
