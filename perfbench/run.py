"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 16 --trace 0

Run from the repository root.  The corpus is generated (once, cached
under perfbench/.work/) from a fixed corpus seed; --seed sets the
operation order of every pass and the streaming input.  One worker
process sets Spark up (`setup_s`) and runs one closed-loop client on
local[nproc]; its JVM and Python workers are sampled from /proc for
peak RSS.  The last line of stdout is the result JSON; the lines
before it carry the host record and the details behind each metric.
See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "rick_and_morty_data_pipeline_project_spark"

# The corpus is fixed so that oracle digests can be cached; at sf0.01 a
# warm untraced pass takes about 4.3 s (olap_mix) and 4.2 s
# (llm_dedup_vector) on four cores.
SF = 0.01
CORPUS_SEED = 42
RUN_LIMIT_S = 170
TAIL_MIN_ABOVE = 10

sys.path.insert(0, HERE)
import tracing  # noqa: E402
from worker import WORKLOADS  # noqa: E402


def host_record() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    from importlib.metadata import version

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "load_1m_pre": os.getloadavg()[0],
        "pyspark": version("pyspark"),
        "java": java[0] if java else None,
    }


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def child_env(nproc: int) -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        # Python workers import the package from the repository root
        # whatever their working directory is.
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        # keep the JVM's temporary files inside the checkout as well
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData' pyspark-shell",
    )
    return env


def _session_pids(sid: int) -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(p))
    return pids


def _reap_session(sid: int) -> None:
    """Waits for the processes of session `sid`; kills what is left after 15 s."""
    deadline = time.monotonic() + 15
    while _session_pids(sid):
        if time.monotonic() > deadline:
            for p in _session_pids(sid):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def start_child(args: list[str], env: dict, log: str) -> subprocess.Popen:
    with open(log, "wb") as f:
        return subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env,
            cwd=ROOT,
            stdout=f,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )


def wait_child(proc: subprocess.Popen, log: str, deadline: float, sample) -> None:
    """Waits for the worker to exit, calling `sample` every 0.25 s
    meanwhile; raises if it failed."""
    while proc.poll() is None:
        if time.monotonic() > deadline:
            raise TimeoutError("benchmark exceeded its time limit")
        sample()
        time.sleep(0.25)
    if proc.returncode != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")


def stop_child(proc: subprocess.Popen) -> None:
    """Kills the worker if it still runs, then waits for every process
    it started (the JVM outlives the worker by a moment)."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    _reap_session(proc.pid)


def _steal(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d[:8]))


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile with at
    least TAIL_MIN_ABOVE samples above it (nearest-rank)."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = max(1, -(-p * n // 100))
        if n - rank >= TAIL_MIN_ABOVE:
            return xs[rank - 1], p
    return xs[0], 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ package under {ROOT}", file=sys.stderr)
        return 2

    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    cpu0 = cpu_times()
    host = host_record()
    print(json.dumps({"host": host}), flush=True)

    import datagen

    os.makedirs(WORK, exist_ok=True)
    sf_dir, data_digest = datagen.ensure_corpus(os.path.join(WORK, "data"), SF, CORPUS_SEED)
    env = child_env(host["nproc"])
    out = os.path.join(WORK, "result.json")
    trace_out = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
    run_log = os.path.join(WORK, "run.log")
    proc = start_child(
        [
            "--data", sf_dir, "--work", WORK, "--out", out, "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--sf", str(SF), "--data-digest", data_digest,
            "--digest-cache", os.path.join(WORK, "digests-cache.json"),
            "--trace-out", trace_out,
        ],
        env,
        run_log,
    )
    peak = 0

    def sample():
        nonlocal peak
        if proc.poll() is None:
            peak = max(peak, tracing.rss_bytes(proc.pid))

    try:
        wait_child(proc, run_log, deadline, sample)
    finally:
        stop_child(proc)
    with open(out) as f:
        res = json.load(f)

    checks = res["checks"]
    timed = res["timed"]
    failed = sum(not c["ok"] for c in checks) + sum(not r["ok"] for r in timed)
    attempted = len(checks) + len(timed)
    for c in checks + timed + res.get("traced_errors", []):
        if not c["ok"]:
            print(json.dumps({"failed": c["query"], "error": c.get("error")}), file=sys.stderr)
    walls = [r["wall_s"] for r in timed]
    tail_v, tail_p = tail(walls)
    per_query = {}
    for r in timed:
        per_query.setdefault(r["query"], []).append(r["wall_s"])
    print(
        json.dumps(
            {
                "workload": a.workload,
                "sf": SF,
                "setup_split_s": {k: res[k] for k in ("import_s", "get_spark_s", "first_job_s", "footers_s")},
                "query_samples": len(walls),
                # the guide's tail: highest percentile with >= 10 executions above it
                "query_tail_s": tail_v,
                "query_tail_percentile": tail_p,
                "peak_rss_mb": peak / 2**20,
                "passes": len(res["pass_wall_s"]),
                # share of the host's CPU time stolen by other guests during the run
                "steal_frac": _steal(cpu0, cpu_times()),
                "phase_s": {
                    "setup": res["setup_s"],
                    "oracle": res["oracle_s"],
                    "check": res["check_s"],
                    "warm": res["warm_s"],
                    "timed": sum(res["pass_wall_s"]),
                    "total": time.monotonic() - t_start,
                },
                "query_median_s": {q: statistics.median(v) for q, v in per_query.items()},
            }
        ),
        flush=True,
    )

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if a.trace:
        failed += res["traced_failed"]
        attempted += res["traced_attempted"]
        values = {**res["layers"], "spark.peak_rss_mb": peak / 2**20}
        print(json.dumps({"trace_file": os.path.relpath(trace_out, ROOT), "layers": values}), flush=True)
        declared = declared["per_layer"]
    else:
        values = {
            "setup_s": res["setup_s"],
            "query_p50_s": statistics.median(walls),
            # a pass's operations over the sum of each operation's median
            # time, so a burst of host load in one pass does not set it
            "query_throughput_qps": len(per_query)
            / sum(statistics.median(v) for v in per_query.values()),
        }
        declared = declared["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        print(f"perfbench: the run produced no value for {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
