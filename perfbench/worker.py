"""One benchmark process: set up the program, check it, measure it.

Started by ``run.py`` in a fresh interpreter (so every sample pays the
JVM launch a user pays) and writes one JSON result file:

- ``--role probe``: set up and stop; the result holds only ``setup_s``.
- ``--role main``: set up, run one untimed pass that collects every
  query and compares it with its DuckDB oracle, ``WARM_PASSES`` untimed
  warm-up passes, then warm passes until ``--seconds`` have been
  measured. With ``--trace 1`` the warm passes alternate untraced and
  traced, so the result carries the per-layer split and the tracing
  overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np

from layertrace import REGISTRY_LAYER, ROOT_LAYER, Tracer
from workloads import TABLES, WORKLOADS, make_inputs, pass_order

ROOT = Path(__file__).resolve().parent.parent


def process_age() -> float:
    """Seconds since this process was created (before the interpreter ran)."""
    with open("/proc/self/stat") as fh:
        start_ticks = float(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def release_leftovers(spark) -> None:
    """Drop persisted RDDs and cached plans a query left behind (untimed)."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    spark.catalog.clearCache()


# ------------------------------------------------------------ output check


def check_output(df, rows, oracle_sql: str, duck) -> str | None:
    """Compare collected Spark rows with the DuckDB oracle; None if equal.

    The comparison of ``scripts/verify_local.py``: type families of the
    columns (Spark schema against DuckDB's arrow schema), then column
    names, row count and values, order-insensitively.
    """
    from tests.test_oracle_parity import _arrow_family, _normalize_rows, _spark_family

    cur = duck.sql(oracle_sql)
    d_cols = [c.lower() for c in cur.columns]
    d_rows = [tuple(r) for r in cur.fetchall()]
    s_fams = {f.name.lower(): _spark_family(f.dataType) for f in df.schema.fields}
    d_fams = {f.name.lower(): _arrow_family(f.type) for f in duck.sql(oracle_sql).arrow().schema}
    fam_diffs = {
        c: (s_fams.get(c), d_fams.get(c))
        for c in set(s_fams) | set(d_fams)
        if s_fams.get(c) != d_fams.get(c)
    }
    if fam_diffs:
        return f"type-family mismatch (spark, oracle) {fam_diffs}"
    sc, sn = _normalize_rows([c.lower() for c in df.columns], [tuple(r) for r in rows])
    dc, dn = _normalize_rows(d_cols, d_rows)
    if sc != dc:
        return f"columns {sc} vs oracle {dc}"
    if len(sn) != len(dn):
        return f"{len(sn)} rows vs oracle {len(dn)}"
    bad = [(a, b) for a, b in zip(sn, dn) if a != b]
    if bad:
        return f"{len(bad)} rows differ from oracle, first {bad[0]!r:.300}"
    return None


# ------------------------------------------------------------------ runner

#: Untimed passes between the checked pass and the timed ones: the JIT
#: and Spark's code generation keep speeding the first passes up.
WARM_PASSES = 2


#: Host speed, in ``host_speed`` units (GB/s), that reported times are
#: scaled to: a time measured while the host ran at ``speed`` is
#: reported as ``time * speed / REF_SPEED``.
REF_SPEED = 25.0


def host_speed(seconds: float = 0.1) -> float:
    """How fast the host runs right now: the GB/s that one forked process
    per CPU reads together, each summing its own 64 MB array over and over.

    A virtual machine on a host shared with other tenants can run
    1.5-2x faster or slower for a minute at a time: its CPUs are taken
    away (steal time) and the shared cache and memory are contended.
    Wall-clock read rate over every CPU at once sees both, and the
    queries slow down with it far more closely than with the CPU-time
    rate of a pure loop, so times scaled by it compare across runs.
    Taken between queries, while Spark is idle.
    """
    r, w = os.pipe()
    pids = []
    for _ in range(int(os.environ["SPARK_GRAFT_CPUS"])):
        pid = os.fork()
        if pid == 0:  # child: read, report, leave without any clean-up
            os.close(r)
            a = np.ones(8_000_000)
            start, n = time.perf_counter(), 0
            while time.perf_counter() - start < seconds:
                a.sum()
                n += 1
            os.write(w, f"{n * a.nbytes / (time.perf_counter() - start)}\n".encode())
            os._exit(0)
        pids.append(pid)
    os.close(w)
    for pid in pids:
        os.waitpid(pid, 0)
    with os.fdopen(r) as fh:
        return sum(float(x) for x in fh.read().split()) / 1e9


def scaled(seconds: float, speed: float) -> float:
    return seconds * speed / REF_SPEED


class Run:
    """One worker's session, inputs, and the failures and attempts it counted."""

    def __init__(self, args) -> None:
        self.args = args
        self.failures: list[dict] = []
        self.attempted = 0
        self.tracer = Tracer()  # records nothing until it is made active

    def fail(self, query: str, pass_no: int, reason: str) -> None:
        self.failures.append({"query": query, "pass": pass_no, "reason": reason[:500]})

    def setup(self) -> dict:
        born = time.perf_counter() - process_age()
        sys.path.insert(0, str(ROOT))
        from echem_dft_etl_spark.session import get_session

        work = Path(self.args.work)
        t = time.perf_counter()
        spark = get_session(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # temp files stay in the work area; the initial heap equals
                # the maximum so peak RSS does not depend on when the
                # collector chose to grow the heap
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                    f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                ),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t

        t = time.perf_counter()
        from echem_dft_etl_spark.registry import all_queries

        specs = all_queries()
        registry_import_s = time.perf_counter() - t

        self.workload = WORKLOADS[self.args.workload]
        self.queries = self.workload.queries
        unchecked = [q for q in self.queries if specs[q].oracle is None]
        if unchecked:
            raise ValueError(f"queries without a DuckDB oracle cannot be checked: {unchecked}")
        t = time.perf_counter()
        # one fixed path per workload: the program stages stream sources
        # in a directory named after it, which later runs then reuse
        self.sf_dir = work / "inputs"
        self.input_size = make_inputs(self.workload, self.args.seed, self.sf_dir)
        inputs_s = time.perf_counter() - t
        setup_s = time.perf_counter() - born

        self.spark = spark
        self.specs = specs
        speed = statistics.median(host_speed() for _ in range(3))
        return {
            "setup_s": scaled(setup_s, speed),
            "setup_speed": speed,
            "raw.setup_s": setup_s,
            "session.start_s": session_start_s,
            "session.registry_import_s": registry_import_s,
            "session.inputs_s": inputs_s,
        }

    def order(self, pass_no: int) -> list[str]:
        return pass_order(self.queries, self.args.seed, pass_no)

    def checked_pass(self) -> tuple[dict[str, float], dict[str, int]]:
        """Untimed first pass: collect each query, compare with its oracle."""
        import duckdb

        duck = duckdb.connect()
        try:
            for t in TABLES:
                duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            elapsed: dict[str, float] = {}
            result_rows: dict[str, int] = {}
            for name in self.order(0):
                spec = self.specs[name]
                self.attempted += 1
                try:
                    t = time.perf_counter()
                    df = spec.fn(self.spark, str(self.sf_dir))
                    rows = df.collect()
                    elapsed[name] = time.perf_counter() - t
                    result_rows[name] = len(rows)
                    problem = check_output(df, rows, spec.oracle, duck)
                except Exception as exc:  # a raising query is a failed execution
                    problem = f"{type(exc).__name__}: {exc}"
                if problem:
                    self.fail(name, 0, problem)
                release_leftovers(self.spark)
            return elapsed, result_rows
        finally:
            duck.close()

    def run_query(self, name: str, pass_no: int, traced: bool = False) -> float | None:
        """Run one query to completion with the noop sink; seconds or None.

        When ``traced``, the query and its ``QuerySpec.fn`` call are
        recorded as spans, and so are the calls of the wrapped layers.
        """
        tracer = self.tracer
        self.attempted += 1
        tracer.query, tracer.active = name, traced
        try:
            t = time.perf_counter()
            with tracer.span(name, ROOT_LAYER):
                with tracer.span(name, REGISTRY_LAYER):
                    df = self.specs[name].fn(self.spark, str(self.sf_dir))
                df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t
        except Exception as exc:
            self.fail(name, pass_no, f"{type(exc).__name__}: {exc}")
            return None
        finally:
            tracer.active = False
            release_leftovers(self.spark)

    def warm_up(self) -> None:
        for pass_no in range(1, WARM_PASSES + 1):
            for name in self.order(pass_no):
                self.run_query(name, pass_no)

    def timed_passes(self) -> dict:
        deadline = time.perf_counter() + self.args.seconds
        passes: list[float] = []
        per_query: dict[str, list[float]] = {n: [] for n in self.queries}
        speeds: list[float] = []
        pass_no = WARM_PASSES + 1
        while True:
            total = 0.0
            for name in self.order(pass_no):
                dt = self.run_query(name, pass_no)
                speeds.append(host_speed())
                if dt is not None:
                    per_query[name].append(dt)
                    total += dt
            passes.append(total)
            pass_no += 1
            if time.perf_counter() >= deadline:
                break
        medians = [statistics.median(v) for v in per_query.values() if v]
        pass_s = statistics.median(passes)
        geomean = math.exp(sum(math.log(m) for m in medians) / len(medians))
        speed = statistics.median(speeds)
        return {
            "pass_s": scaled(pass_s, speed),
            "query_geomean_s": scaled(geomean, speed),
            "speed": speed,
            "raw.pass_s": pass_s,
            "raw.query_geomean_s": geomean,
            "passes": passes,
            "speeds": speeds,
            "query_median_s": {n: statistics.median(v) for n, v in per_query.items() if v},
        }

    def traced_passes(self, result_rows: dict[str, int]) -> dict:
        from layertrace import SparkCounters, StreamProgress, pass_metrics

        replaced = self.tracer.install()
        counters = SparkCounters(self.spark)
        listener = StreamProgress()
        self.spark.streams.addListener(listener)

        deadline = time.perf_counter() + self.args.seconds
        untraced: list[float] = []
        traced: list[dict] = []
        pass_no = WARM_PASSES + 1
        while True:
            # untraced/traced in ABBA order, so the rest of the warm-up
            # trend does not fall on one side only
            if (pass_no - WARM_PASSES) % 4 in (0, 1):
                untraced.append(
                    sum(self.run_query(name, pass_no) or 0.0 for name in self.order(pass_no))
                )
            else:
                traced.append(self._traced_pass(pass_no, counters, listener))
            pass_no += 1
            # stop only after a whole ABBA block, so both sides are balanced
            if time.perf_counter() >= deadline and (pass_no - WARM_PASSES) % 4 == 1:
                break
        self.spark.streams.removeListener(listener)

        per_pass = [pass_metrics(tp["spans"], tp, result_rows) for tp in traced]
        metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        metrics["trace.untraced_pass_s"] = statistics.median(untraced)
        metrics["trace.overhead_s"] = metrics["trace.pass_s"] - metrics["trace.untraced_pass_s"]
        last = traced[-1]
        return {
            "metrics": metrics,
            "traced_passes": len(traced),
            "untraced_passes": len(untraced),
            "wrapped_attributes": replaced,
            "per_query": last["per_query"],
            # spans of the last traced pass: name, layer, start, end, parent, query
            "spans": [[s.name, s.layer, s.start, s.end, s.parent, s.query] for s in last["spans"]],
        }

    def _traced_pass(self, pass_no, counters, listener) -> dict:
        """One traced pass: spans, plus Spark counters and stream progress per query."""
        spark_tot: dict[str, float] = {}
        stream_tot: dict[str, float] = {}
        stage_spans: list = []
        max_join_rows: dict[str, int] = {}
        per_query: dict[str, dict] = {}
        counters.collect()
        listener.take()
        self.tracer.take()
        for name in self.order(pass_no):
            self.run_query(name, pass_no, traced=True)
            c = counters.collect()
            s = listener.take()
            stage_spans.extend(c.pop("stage_spans"))
            max_join_rows[name] = c.pop("max_join_rows")
            per_query[name] = {**c, **{f"streaming.{k}": v for k, v in s.items()}}
            for k, v in c.items():
                spark_tot[k] = spark_tot.get(k, 0) + v
            for k, v in s.items():
                stream_tot[k] = stream_tot.get(k, 0) + v
        return {
            "spans": self.tracer.take(),
            "spark": spark_tot,
            "stream": stream_tot,
            "stage_spans": stage_spans,
            "max_join_rows": max_join_rows,
            "per_query": per_query,
        }

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb("self") + vm_hwm_mb(jvm)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("probe", "main"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    run = Run(args)
    result: dict = {"role": args.role, **run.setup()}
    if args.role == "main":
        from pyspark.version import __version__ as spark_version

        result["spark_version"] = spark_version
        result["input_size"] = run.input_size
        result["queries"] = list(run.queries)
        first, result_rows = run.checked_pass()
        first_s = sum(first.values())
        result["warmup.first_pass_s"] = first_s
        result["first_pass_query_s"] = first
        result["result_rows"] = result_rows
        run.warm_up()
        if args.trace:
            result["trace"] = run.traced_passes(result_rows)
            result["trace"]["metrics"]["warmup.first_pass_s"] = first_s
            for k in ("session.start_s", "session.registry_import_s", "session.inputs_s"):
                result["trace"]["metrics"][k] = result[k]
        else:
            result.update(run.timed_passes())
        result["peak_rss_mb"] = run.peak_rss_mb()
        result["attempted"] = run.attempted
        result["failures"] = run.failures
    Path(args.out).write_text(json.dumps(result, indent=1, default=str))
    return 0


if __name__ == "__main__":
    try:
        rc = main()
    except Exception:
        traceback.print_exc()
        rc = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # Skip stopping Spark: nothing is measured after this point, the JVM
    # exits when this process closes its stdin, and run.py ends whatever
    # is left of the process group.
    os._exit(rc)
