"""In-session half of the benchmark: one fresh process that starts the
engine's session, runs one workload as a closed loop with one client, checks
every query's output and reports to the launcher through a pipe.

``run.py`` starts it with the run's environment (scratch dirs, cpus, driver
memory, event log) and times the set-up from outside: the worker writes
``ready`` once the session and the registry are up, then one ``result`` line.

Closed loop: one thread runs the workload's queries in turn, each through
``registry.load_all()[name].fn(spark, sf_dir)`` and a noop write; every
pass runs each query once, in the workload's order. Pass 1 is the first
pass of a fresh session; warm passes follow until ``--seconds`` of warm
time have elapsed, at least one.
With ``--trace 1`` both the first pass and one warm pass are traced.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from spec import WORKLOADS
from tracing import Tracer, eventlog_by_group, plan_shape

MB = 1024.0 * 1024.0


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--report-fd", type=int, required=True)
    p.add_argument("--event-dir", required=True)
    p.add_argument("--spans-out", required=True)
    return p.parse_args()


def _file_stats(root: str) -> list[os.stat_result]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                out.append(os.stat(os.path.join(dirpath, f)))
            except OSError:  # removed while walking
                pass
    return out


def _jvm_hwm_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _retained_heap_mb(spark) -> tuple[float, list[float]]:
    """Driver JVM heap still in use after full collections, once the caller
    has dropped its DataFrames: what a long-lived session keeps holding.
    Spark's ContextCleaner frees blocks only after a collection has found
    their owners dead, so the lowest reading of several spaced collections
    is taken."""
    rt = spark._jvm.Runtime.getRuntime()
    readings = []
    for _ in range(5):
        gc.collect()
        spark._jvm.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / MB)
        time.sleep(0.4)
    return min(readings), readings


def _tail(xs: list[float]) -> tuple[float, int, float]:
    """(percentile, samples beyond it, value): the highest whole percentile
    with at least ten samples beyond it, nearest-rank. Below 20 samples that
    percentile would fall under the median, so the maximum is reported."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return 100.0, 0, xs[-1]
    pct = (100 * (n - 10)) // n
    rank = max(1, -(-pct * n // 100))  # ceil(pct/100 * n)
    return float(pct), n - rank, xs[rank - 1]


class Loop:
    def __init__(self, spark, specs, names, sf_dir, tracer, tmp_root):
        self.spark, self.specs = spark, specs
        self.sf_dir, self.tracer, self.tmp_root = sf_dir, tracer, tmp_root
        self.sc = spark.sparkContext
        self.errors: dict[str, str] = {}
        self.raised: dict[str, int] = {n: 0 for n in names}
        self.runs: dict[str, int] = {n: 0 for n in names}
        self.first_df: dict = {}
        self.last_df: dict = {}
        self.rows: list[dict] = []  # traced per-query records
        # untraced passes: [build s, exec s] summed over each pass's queries
        self.pass_split: list[list[float]] = []

    def run_pass(self, no: int, order: list[str], traced: bool) -> tuple[float, list]:
        """Run every query once; returns (wall s, [(query, latency s)])."""
        lats: list[tuple[str, float]] = []
        if not traced:
            self.pass_split.append([0.0, 0.0])
        t_pass = time.perf_counter()
        for name in order:
            self.runs[name] += 1
            t0 = time.perf_counter()
            try:
                df = self._traced(no, name) if traced else self._plain(name)
            except Exception as exc:  # a raising query counts as failed
                self.raised[name] += 1
                self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
                continue
            lats.append((name, time.perf_counter() - t0))
            if self.specs[name].oracle is None:  # hash checked across passes
                self.first_df.setdefault(name, df)
            self.last_df[name] = df
        return time.perf_counter() - t_pass, lats

    def _plain(self, name: str):
        split = self.pass_split[-1]
        t0 = time.perf_counter()
        df = self.specs[name].fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        split[0] += t1 - t0
        split[1] += time.perf_counter() - t1
        return df

    def _traced(self, no: int, name: str):
        tr, sc = self.tracer, self.sc
        qid = f"p{no}:{name}"
        rec = {"pass": no, "query": name}
        t_start_ns = time.time_ns()
        with tr.span("query", qid) as q:
            sc.setJobGroup(f"{qid}:build", f"{qid}:build")
            c0 = tr.counters()
            with tr.span("build", qid, q) as s:
                df = self.specs[name].fn(self.spark, self.sf_dir)
            c1 = tr.counters()
            rec["build_s"] = tr.duration(s)
            rec["py4j_calls"] = c1[0] - c0[0]
            rec["load_table_calls"] = c1[1] - c0[1]
            rec["load_table_s"] = c1[2] - c0[2]
            rec["materialize_calls"] = c1[3] - c0[3]
            sc.setJobGroup(f"{qid}:plan", f"{qid}:plan")
            with tr.span("plan", qid, q) as s:
                plan = df._jdf.queryExecution().executedPlan().toString()
            rec["plan_s"] = tr.duration(s)
            rec["plan_nodes"], rec["plan_exchanges"] = plan_shape(plan)
            sc.setJobGroup(f"{qid}:exec", f"{qid}:exec")
            with tr.span("exec", qid, q) as s:
                df.write.format("noop").mode("overwrite").save()
            rec["exec_s"] = tr.duration(s)
            sc.setJobGroup("perfbench:idle", "perfbench:idle")
        rec["files_written"] = sum(
            1 for st in _file_stats(self.tmp_root) if st.st_mtime_ns >= t_start_ns
        )
        self.rows.append(rec)
        return df


def verify(loop: Loop, sf_dir: str, threads: int) -> dict[str, str]:
    """Check each query's output once, outside the timed passes: the
    DataFrame its last execution returned is collected and compared with
    its DuckDB oracle; a query without an oracle must give the same
    canonical hash on its first and last pass. The collections run on
    ``threads`` threads, which Spark schedules side by side. Returns
    {query: why} for every mismatch."""
    import duckdb

    from shadowcat_data_spark import compare

    con = duckdb.connect()
    compare.register_views(con, sf_dir)
    names = sorted(loop.last_df)
    oracles = {}
    for name in names:
        if loop.specs[name].oracle is not None:
            oracles[name] = con.sql(loop.specs[name].oracle).df()
    con.close()

    def check(name: str) -> str | None:
        df = loop.last_df[name]
        try:
            complex_cols = compare.complex_output_columns(df)
            if complex_cols:
                return f"complex-typed output columns {complex_cols}"
            if name in oracles:
                res = compare.compare_frames(name, df.toPandas(), oracles[name])
                return None if res.ok else res.detail[:300]
            h_first = compare.canonicalize(loop.first_df[name].toPandas())[2]
            h_last = compare.canonicalize(df.toPandas())[2]
            if h_first != h_last:
                return f"canonical hash differs across passes: {h_first[:12]} {h_last[:12]}"
            return None
        except Exception as exc:
            return f"verify raised {type(exc).__name__}: {exc}"[:300]

    with ThreadPoolExecutor(threads) as pool:
        verdicts = dict(zip(names, pool.map(check, names)))
    return {name: why for name, why in verdicts.items() if why is not None}


def _add_job_metrics(rows: list[dict], groups: dict) -> None:
    """Fold the event log's per-job-group totals into the traced rows."""
    for r in rows:
        def g(phase, key):
            return groups.get(f"p{r['pass']}:{r['query']}:{phase}", {}).get(key, 0.0)

        r["build_jobs"] = int(g("build", "jobs"))
        r["build_job_s"] = g("build", "job_s")
        r["build_driver_s"] = r["build_s"] - r["build_job_s"]
        r["exec_jobs"] = int(g("exec", "jobs"))
        r["exec_stages"] = int(g("exec", "stages"))
        r["exec_tasks"] = int(g("exec", "tasks"))
        for key in ("task_run_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                    "input_mb", "output_mb"):
            r[key] = sum(g(phase, key) for phase in ("build", "plan", "exec"))


def _layer_metrics(rows: list[dict], wall: float, cpus: int) -> dict:
    """Per-layer metrics of one traced pass: sums over its queries."""

    def total(key):
        return sum(r[key] for r in rows)

    task_run = total("task_run_s")
    return {
        "registry.build_s": total("build_s"),
        "registry.build_driver_s": total("build_driver_s"),
        "registry.build_py4j_calls": total("py4j_calls"),
        "registry.build_jobs": total("build_jobs"),
        "registry.build_job_s": total("build_job_s"),
        "session.load_table_calls": total("load_table_calls"),
        "session.load_table_s": total("load_table_s"),
        "session.materialize_calls": total("materialize_calls"),
        "spark.plan_s": total("plan_s"),
        "spark.plan_nodes": total("plan_nodes"),
        "spark.plan_exchanges": total("plan_exchanges"),
        "spark.exec_s": total("exec_s"),
        "spark.exec_jobs": total("exec_jobs"),
        "spark.exec_stages": total("exec_stages"),
        "spark.exec_tasks": total("exec_tasks"),
        "spark.task_run_s": task_run,
        "spark.core_busy_frac": task_run / (wall * cpus),
        "spark.shuffle_read_mb": total("shuffle_read_mb"),
        "spark.shuffle_write_mb": total("shuffle_write_mb"),
        "spark.spill_mb": total("spill_mb"),
        "spark.input_mb": total("input_mb"),
        "lakehouse.output_mb": total("output_mb"),
        "lakehouse.files_written": total("files_written"),
    }


def main() -> int:
    a = _args()
    report = os.fdopen(a.report_fd, "w", buffering=1)
    tracer = Tracer() if a.trace else None
    if tracer is not None:
        tracer.install()

    # set-up phases, reported with "ready"; the launcher times the whole
    # set-up from outside, interpreter start included
    t0 = time.perf_counter()
    import pyspark

    from shadowcat_data_spark import registry
    from shadowcat_data_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(f"perfbench-{a.workload}")
    t2 = time.perf_counter()
    specs = registry.load_all()
    t3 = time.perf_counter()
    phases = {"import_s": t1 - t0, "session_s": t2 - t1, "registry_s": t3 - t2}
    report.write("ready " + json.dumps(phases) + "\n")

    sc = spark.sparkContext
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    tmp_root = os.environ["TMPDIR"]
    names = list(WORKLOADS[a.workload])
    loop = Loop(spark, specs, names, a.sf_dir, tracer, tmp_root)

    # every pass runs in the workload's order, whatever the seed: the JVM's
    # cold start lands on the first query of pass 1 and its cost depends on
    # that query, and a query can run a second slower after another (l43
    # after m47), so a seeded order would make one run's figures depend on
    # the order it drew
    first_s, first_lats = loop.run_pass(1, names, traced=bool(a.trace))
    warm: list[tuple[str, float]] = []
    warm_s, passes = 0.0, 1
    if a.trace:
        traced_s, _ = loop.run_pass(2, names, traced=True)
        passes = 2
    else:
        while passes < 2 or warm_s < a.seconds:
            passes += 1
            wall, lats = loop.run_pass(passes, names, traced=False)
            warm_s += wall
            warm += lats
    peak_rss_mb = _jvm_hwm_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    stored_mb = sum(st.st_size for st in _file_stats(tmp_root)) / MB

    t_verify = time.perf_counter()
    bad = verify(loop, a.sf_dir, cpus)
    verify_s = time.perf_counter() - t_verify
    attempted = sum(loop.runs.values())
    failed = sum(loop.runs[n] if n in bad else loop.raised[n] for n in names)
    loop.first_df.clear()
    loop.last_df.clear()
    retained_mb, heap_readings = _retained_heap_mb(spark)
    persisted = sc._jsc.getPersistentRDDs().size()
    info = {
        "workload": a.workload,
        "queries": names,
        "passes": passes,
        "cpus": cpus,
        "default_parallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "errors": loop.errors,
        "mismatches": bad,
        "persisted_rdds": persisted,
        "peak_rss_mb": peak_rss_mb,
        "stored_mb": stored_mb,
        "retained_heap_mb": retained_mb,
        "heap_readings_mb": heap_readings,
        "first_pass_latencies_s": first_lats,
        "pass_build_exec_s": loop.pass_split,
        "warm_latencies_s": warm,
        "verify_s": verify_s,
    }
    if a.trace:
        spark.stop()
        _add_job_metrics(loop.rows, eventlog_by_group(a.event_dir))
        metrics = _layer_metrics([r for r in loop.rows if r["pass"] == 2], traced_s, cpus)
        metrics["session.first_pass_load_table_s"] = sum(
            r["load_table_s"] for r in loop.rows if r["pass"] == 1
        )
        metrics["session.persisted_rdds"] = persisted
        metrics["spark.driver_peak_rss_mb"] = peak_rss_mb
        metrics["lakehouse.stored_mb"] = stored_mb
        metrics["compare.mismatches"] = len(bad)
        metrics["trace.warm_pass_s"] = traced_s
        info["per_query"] = loop.rows
        with open(a.spans_out, "w") as fh:
            json.dump({"info": info, "spans": tracer.spans}, fh)
    else:
        warm_lats = [lat for _, lat in warm] or [float("nan")]  # every one raised
        pct, beyond, tail = _tail(warm_lats)
        metrics = {
            "first_pass_s": first_s,
            "queries_per_s": sum(1 for n, _ in warm if n not in bad) / warm_s,
            "retained_heap_mb": retained_mb,
        }
        info.update(
            warm_s=warm_s,
            warm_samples=len(warm_lats),
            latency_p50_s=statistics.median(warm_lats),
            latency_tail_s=tail,
            tail_percentile=pct,
            tail_samples_beyond=beyond,
        )
        spark.stop()
    result = {"attempted": attempted, "failed": failed, "metrics": metrics, "info": info}
    report.write("result " + json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
