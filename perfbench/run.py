"""End-to-end and per-layer benchmark of skrub_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload skrub_tabular --seed 1 \
        --seconds 10 --trace 0

One client issues the workload's calls back to back on
``local[<cores>]`` (see ``workloads.py``). A run:

1. writes the workload's inputs from ``--seed`` under
   ``.bench_build/perfbench/``;
2. starts the session with ``skrub_spark.get_session``, takes the
   expected row counts of registry queries from their DuckDB oracles
   (untimed), and runs one untimed warm-up pass at the timed scale,
   checking every output;
3. repeats whole passes until ``--seconds`` have elapsed (at least
   ``MIN_PASSES``), timing each call and checking its output again;
4. prints one JSON object as the last line of stdout: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1`` (each call under a Spark job group, read after its
   timer stops; see ``sparktrace.py``).

Progress and diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Timed passes per run at least. The JIT keeps speeding calls up for
# a few passes after the warm-up, so each call is scored by its best
# pass (a third pass did not narrow the run-to-run spread).
MIN_PASSES = 2
# Spark driver heap. The package default is 8g; the inputs here are a
# few MB, and a 1g heap keeps a run light on a shared host.
DRIVER_MEMORY = "1g"

END_TO_END = {
    "wall_s": "s",
    "op_p50_s": "s",
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
MEASURES = {
    "wall_s": "s",
    "build_s": "s",
    "jobs": "count",
    "tasks": "count",
    "job_s": "s",
    "gap_s": "s",
    "cores_used": "cores",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}
# per-layer metric prefixes: every call of every workload, plus
# "queries", the sum over a workload's registry-query calls
LAYER_CALLS = [
    "table_vectorizer.fit",
    "table_vectorizer.transform",
    "operators.agg_joiner",
    "operators.fuzzy_join",
    "report.table_report",
    "queries",
    "dedup.minhash_pairs",
    "operators.score_quality",
    "operators.dsir_resample",
    "operators.repetition_filter",
    "dedup.exact",
]
SCALARS = {
    "dedup.minhash_pairs.recall": "ratio",
    "session.cached_rdds": "count",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "host.ref_loop_s": "s",
    "host.ref_loop_end_s": "s",
    "bench.traced_wall_s": "s",
    "bench.failed_op_share": "ratio",
}


def ref_loop() -> float:
    """A fixed pure-Python CPU loop: a host-speed reading, reported
    next to the metrics and never used to normalize them."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of this
    process and every process below it: the Spark JVM and its Python
    workers. Unlike wall time it excludes time the host's hypervisor
    takes away (steal)."""
    parent = {}
    ticks = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[pid] = fields[1]
        ticks[pid] = sum(int(x) for x in fields[11:15])
    me = str(os.getpid())
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p in parent and p != me:
            p = parent[p]
        if p == me:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def write_inputs(workload: str, seed: int, data_dir: str) -> dict[str, int]:
    """Write the workload's input files; returns rows per table."""
    import datagen
    import workloads

    if workload == "llm_curation":
        corpus = datagen.curation_corpus(seed, workloads.CURATION_DOCS)
        datagen.write_parquet_parts(
            corpus, os.path.join(data_dir, "corpus"), workloads.CORPUS_FILES
        )
        return {}
    return datagen.write_star_schema(data_dir, seed, workloads.SF)


def start_session(work: str):
    from skrub_spark import get_session

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    return get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, spark, calls, tracer):
        self.spark = spark
        self.calls = calls
        self.tracer = tracer
        self.errors: list[str] = []
        self.attempted = 0
        self.cached_rdds = 0
        self.recall = None

    def call(self, c) -> dict:
        """One timed call: build (the public call itself) then, for a
        DataFrame, the noop write. Checks and trace reads happen after
        the timer stops."""
        from pyspark.sql import DataFrame, Observation
        from pyspark.sql import functions as F

        self.attempted += 1
        group = self.tracer.begin(c.name) if self.tracer else None
        rec = {"name": c.name}
        err = None
        t0 = time.perf_counter()
        try:
            out = c.run()
            t1 = time.perf_counter()
            obs = None
            if isinstance(out, DataFrame):
                obs = Observation()
                out.observe(
                    obs, F.count(F.lit(1)).alias("rows"), *c.observe
                ).write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec.update(wall_s=t2 - t0, build_s=t1 - t0)
            got = obs.get if obs is not None else {}
            if c.expect_rows is not None and got.get("rows") != c.expect_rows:
                err = f"{got.get('rows')} rows, want {c.expect_rows}"
            elif c.check is not None:
                err = c.check(out, got)
            if c.name == "dedup.minhash_pairs" and "planted" in got:
                self.recall = got["planted"] / c.expect_rows
        except Exception as e:  # noqa: BLE001 - a failed call is counted
            rec.update(wall_s=time.perf_counter() - t0, build_s=0.0)
            err = f"{type(e).__name__}: {str(e)[:300]}"
            traceback.print_exc(file=sys.stderr)
        finally:
            if self.tracer:
                self.tracer.end()
        if err:
            self.errors.append(f"{c.name}: {err}")
            print(f"# FAILED {c.name}: {err}", file=sys.stderr)
        # what a user would do between calls; no other cleanup, so
        # persisted blocks clearCache() misses stay visible
        self.spark.catalog.clearCache()
        self.cached_rdds = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        if group is not None:
            rec.update(self.tracer.collect(group))
        return rec

    def run_pass(self) -> list[dict]:
        return [self.call(c) for c in self.calls]


def layer_metrics(passes: list[list[dict]]) -> dict[str, float]:
    """Median over passes of each call's measures; "queries" sums the
    registry-query calls of a pass before the median."""
    per_pass = []
    for recs in passes:
        groups: dict[str, list[dict]] = {}
        for r in recs:
            key = "queries" if r["name"].startswith("queries.") else r["name"]
            groups.setdefault(key, []).append(r)
        row = {}
        for key, rs in groups.items():
            tot = {
                k: sum(r[k] for r in rs)
                for k in ("wall_s", "build_s", "jobs", "tasks", "job_s",
                          "task_s", "shuffle_write_mb", "spill_mb")
            }
            tot["gap_s"] = tot["wall_s"] - tot["job_s"]
            task_s = tot.pop("task_s")
            tot["cores_used"] = task_s / tot["job_s"] if tot["job_s"] else 0.0
            for k, v in tot.items():
                row[f"{key}.{k}"] = v
        per_pass.append(row)
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["skrub_tabular", "llm_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "skrub_spark", "__init__.py")):
        print(f"perfbench: no skrub_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(
        ROOT, ".bench_build", "perfbench",
        f"{args.workload}-{args.seed}-{os.getpid()}",
    )
    # Python UDF workers import skrub_spark: put the sources on their
    # path; keep every temporary file inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    import workloads

    ref_start = ref_loop()
    data_dir = os.path.join(work, "data")
    t = time.perf_counter()
    rows = write_inputs(args.workload, args.seed, data_dir)
    print(f"# inputs {time.perf_counter() - t:.2f}s {rows}", file=sys.stderr)

    # session start includes importing the package, as for a user
    t0 = time.perf_counter()
    spark = start_session(work)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        calls = workloads.WORKLOADS[args.workload](spark, data_dir, rows)
        tracer = None
        if args.trace:
            from sparktrace import Tracer

            tracer = Tracer(spark)
        runner = Runner(spark, calls, tracer)
        t1 = time.perf_counter()
        warm = runner.run_pass()
        warmup_s = time.perf_counter() - t1

        passes, pass_cpu = [], []
        t2 = time.perf_counter()
        while (
            len(passes) < MIN_PASSES
            or time.perf_counter() - t2 < args.seconds
        ):
            cpu0 = tree_cpu_s()
            passes.append(runner.run_pass())
            pass_cpu.append(tree_cpu_s() - cpu0)
        timed_s = time.perf_counter() - t2
        rss = vm_hwm_mb("self") + vm_hwm_mb(_jvm_pid())
    finally:
        stop_session(spark)
    ref_end = ref_loop()

    best = [min(p[i]["wall_s"] for p in passes) for i in range(len(calls))]
    wall_s = sum(best)
    failed = len(runner.errors)
    print(
        f"# {args.workload} seed={args.seed}: {len(passes)} passes of "
        f"{len(calls)} calls in {timed_s:.1f}s; start {start_s:.2f}s "
        f"warm-up {warmup_s:.2f}s; ref loop {ref_start:.3f}s/{ref_end:.3f}s; "
        f"cached RDDs after the last clearCache(): {runner.cached_rdds}",
        file=sys.stderr,
    )
    for c_i, c in enumerate(calls):
        ts = [p[c_i]["wall_s"] for p in [warm] + passes]
        print(f"#   {c.name}: " + " ".join(f"{x:.3f}" for x in ts), file=sys.stderr)

    if args.trace:
        metrics = {
            f"{call}.{m}": (0.0, unit)
            for call in LAYER_CALLS
            for m, unit in MEASURES.items()
        }
        metrics.update(
            (k, (v, MEASURES[k.rsplit(".", 1)[1]]))
            for k, v in layer_metrics(passes).items()
        )
        scalars = {
            "dedup.minhash_pairs.recall": runner.recall or 0.0,
            "session.cached_rdds": runner.cached_rdds,
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "host.ref_loop_s": ref_start,
            "host.ref_loop_end_s": ref_end,
            "bench.traced_wall_s": wall_s,
            "bench.failed_op_share": failed / runner.attempted,
        }
        metrics.update((k, (v, SCALARS[k])) for k, v in scalars.items())
    else:
        values = {
            "wall_s": wall_s,
            "op_p50_s": statistics.median(best),
            "cpu_s": min(pass_cpu),
            "setup_s": start_s + warmup_s,
            "peak_rss_mb": rss,
        }
        metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
    return {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


if __name__ == "__main__":
    sys.exit(main())
