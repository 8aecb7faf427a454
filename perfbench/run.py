"""Layered benchmark of the shadowcat_data_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload headline_sf001 --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload maintenance_sf001 --seed 1 --seconds 5 --trace 1
    python3 perfbench/run.py --list     # every metric by name, unit and direction

One run:

1. generates the workload's fixture tables from ``--seed`` into a fresh
   directory under ``.perfbench/`` and points TMPDIR, SPARK_LOCAL_DIRS and
   both JVMs' java.io.tmpdir at it, so no on-disk state (scratch tables,
   build-on-miss indexes, shuffle files) survives from another run;
2. starts ``worker.py`` and times its set-up, from process start until the
   session and the registry are ready (``setup_s``);
3. lets the worker run the closed loop and check the outputs; with
   ``--trace 1`` the event log is enabled through the submit args, and the
   spans and the per-query table are written to ``.perfbench/results/``;
4. removes the run directory, stops every process the run started, and
   prints a metric summary on stderr and one JSON object as the last line
   of stdout.

It exits non-zero without a result when the engine's sources are missing
or any step fails.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import select
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spec import END_TO_END, MOVES, PER_LAYER, SF, UNITS, WORKLOADS  # noqa: E402

DRIVER_MEMORY = "2g"
RUN_DEADLINE_S = 150.0  # a run must end within 180 s, stopping included
_LOG4J_ERROR = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


class RunFailed(Exception):
    pass


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--list", action="store_true", help="print the metric catalogue")
    a = p.parse_args()
    if not a.list and a.workload is None:
        p.error("--workload is required")
    return a


def _cpus() -> int:
    """Like ``nproc``: the CPUs this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen, grace_s: float) -> None:
    """Wait for the worker and everything it started (its JVM and Python
    daemons share its process group), then signal what is left."""
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            if proc.poll() is not None and not _group_alive(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


class Worker:
    """One ``worker.py`` process and its report pipe."""

    def __init__(self, args: list[str], env: dict, cwd: str, log_path: str):
        self.log_path = log_path
        r, w = os.pipe()
        self.t0 = time.perf_counter()
        with open(log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 "--report-fd", str(w), *args],
                env=env, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, pass_fds=(w,), start_new_session=True,
            )
        os.close(w)
        self.fd, self.buf = r, b""

    def read_line(self, deadline: float) -> str:
        while b"\n" not in self.buf:
            left = deadline - time.monotonic()
            if left <= 0:
                raise RunFailed("worker timed out")
            ready, _, _ = select.select([self.fd], [], [], left)
            if ready:
                chunk = os.read(self.fd, 1 << 16)
                if not chunk:
                    raise RunFailed(f"worker exited early:\n{self.log_tail()}")
                self.buf += chunk
        line, self.buf = self.buf.split(b"\n", 1)
        return line.decode()

    def wait_ready(self, deadline: float) -> dict:
        """Set-up time from process start, and the worker's own phases."""
        line = self.read_line(deadline)
        if not line.startswith("ready "):
            raise RunFailed(f"unexpected worker message: {line[:200]}")
        return {"setup_s": time.perf_counter() - self.t0, **json.loads(line[len("ready "):])}

    def finish(self, deadline: float) -> None:
        """Wait up to 20 s (never past ``deadline``) for the worker to exit
        by itself, then stop its process group."""
        os.close(self.fd)
        _stop_group(self.proc, grace_s=min(20.0, max(0.0, deadline - time.monotonic())))

    def log_tail(self, n: int = 40) -> str:
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])

    def error_lines(self) -> int:
        with open(self.log_path, errors="replace") as fh:
            return sum(1 for line in fh if _LOG4J_ERROR.match(line))


def _env(run_dir: str, trace: int) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    events = os.path.join(run_dir, "events")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    # keep both JVMs (spark-submit's launcher and the Spark driver) out of /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--driver-java-options", java_opts]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(_cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        SPARK_LAUNCHER_OPTS=java_opts,
    )
    return env


def run(a: argparse.Namespace, run_dir: str, results_dir: str) -> dict:
    import fixtures

    t_start = time.monotonic()
    deadline = t_start + RUN_DEADLINE_S
    sf_dir = os.path.join(run_dir, "data", f"sf{SF:g}")
    fixtures.write(sf_dir, SF, a.seed)
    env = _env(run_dir, a.trace)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    common = ["--workload", a.workload, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--sf-dir", sf_dir,
              "--event-dir", os.path.join(run_dir, "events"),
              "--spans-out", os.path.join(results_dir, f"{tag}.json")]
    w = Worker(common, env, run_dir, os.path.join(run_dir, "worker.log"))
    try:
        setup = w.wait_ready(deadline)
        line = w.read_line(deadline)
    finally:
        w.finish(deadline + 10.0)
    if not line.startswith("result "):
        raise RunFailed(f"unexpected worker message: {line[:200]}")
    res = json.loads(line[len("result "):])
    metrics, info = res["metrics"], res["info"]
    info["seed"] = a.seed
    info["error_log_lines"] = w.error_lines()
    if a.trace:
        metrics["session.error_log_lines"] = info["error_log_lines"]
    else:
        metrics["setup_s"] = setup["setup_s"]
    info["setup"] = setup
    info["settings"] = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                             "PYSPARK_SUBMIT_ARGS")}
    info["run_s"] = time.monotonic() - t_start
    if res["failed"] or info["error_log_lines"]:  # keep the evidence
        shutil.copy(w.log_path, os.path.join(results_dir, f"{tag}.log"))
    return res


def _print_summary(res: dict, trace: int) -> None:
    info, metrics = res["info"], res["metrics"]
    err = sys.stderr
    print(f"[perfbench] {info['workload']} seed={info['seed']} sf={SF:g} "
          f"passes={info['passes']} cpus={info['cpus']} "
          f"defaultParallelism={info['default_parallelism']} pyspark={info['pyspark']} "
          f"attempted={res['attempted']} failed={res['failed']}", file=err)
    for name, *_ in PER_LAYER if trace else END_TO_END:
        print(f"  {name:34s} {metrics[name]:14.4f} {UNITS[name]}", file=err)
    for name, why in {**info["errors"], **info["mismatches"]}.items():
        print(f"  FAILED {name}: {why}", file=err)
    if trace:
        cols = ("build_s", "build_jobs", "py4j_calls", "plan_s", "plan_nodes",
                "plan_exchanges", "exec_s", "exec_jobs", "exec_tasks", "shuffle_read_mb")
        print("  pass query" + "".join(f" {c:>15s}" for c in cols), file=err)
        for r in info["per_query"]:
            cells = "".join(f" {r.get(c, 0):15.3f}" if isinstance(r.get(c), float)
                            else f" {r.get(c, 0):15d}" for c in cols)
            print(f"  {r['pass']:4d} {r['query'][:26]:26s}{cells}", file=err)


def main() -> int:
    a = _args()
    if a.list:
        print("end_to_end (--trace 0)")
        for name, unit, better in END_TO_END:
            print(f"  {name:34s} {unit:6s} {better}")
        print("per_layer (--trace 1): name, unit, better, end-to-end metric it should move")
        for name, unit, better in PER_LAYER:
            print(f"  {name:34s} {unit:6s} {better:7s} {MOVES[name]}")
        return 0
    if not os.path.isfile(os.path.join(ROOT, "shadowcat_data_spark", "registry.py")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    results_dir = os.path.join(base, "results")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(results_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run(a, run_dir, results_dir)
    except RunFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    _print_summary(res, a.trace)
    info = res.pop("info")
    info.pop("per_query", None)
    print(json.dumps({"perfbench_info": info}))
    metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["metrics"].items()}
    correct = res["failed"] == 0 and not info["mismatches"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
