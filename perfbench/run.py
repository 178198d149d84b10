"""Benchmark of the shipped extraction and curation jobs, end to end and
layer by layer.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 5 --trace 0

Workloads (inputs are a pure function of ``--seed``, built before any
timing and cached under ``.bench_work/cache``):

- ``extract_bulk``: a fresh ``lineage.run_extraction_with_checkpoint``
  over 100k generated turns with the CLI defaults (64 buckets, wave 32),
  then ``read_output(...).count()`` — what ``jobs/run_extraction.py`` runs.
- ``curate_transcripts``: ``curate_corpus`` with the CLI defaults over one
  document per generated conversation (3k turns) — what
  ``jobs/run_curation.py`` runs.

Each run starts one fresh driver process (``perfbench/job.py``) on
``local[nproc]`` and samples the memory of its process tree.  With
``--trace 0`` the last stdout line carries the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` it carries the per-layer metrics of
a separate traced run.  Every run also writes an artifact under
``.bench_work/artifacts`` with the host state (nproc, load before and
after, wall-clock timestamps), every raw rep and every check.  The exit
code is non-zero, and no result line is printed, when the program under
test is missing or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170  # a run must end within 180 s

WORKLOADS = {
    "extract_bulk": {"kind": "extraction", "n_turns": 100_000},
    # the first 200 conversations of 3k turns; curate_corpus's cost grows
    # faster than linearly in document length, so the hot document sets it
    "curate_transcripts": {"kind": "curation", "n_turns": 3_000, "n_docs": 200},
}
# per-layer metrics of layers a workload never calls; reported as 0
NOT_CALLED = {
    "extraction": ("curation.",),
    "curation": ("lineage.", "resume.", "extraction_pipeline."),
}


def host_state() -> dict:
    """Load and cumulative CPU seconds of the whole host; ``steal_s`` is time
    the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        cpu = [int(x) / os.sysconf("SC_CLK_TCK") for x in f.readline().split()[1:]]
    return {
        "wall": time.time(),
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "loadavg": list(os.getloadavg()),
        "cpu_busy_s": sum(cpu[:3]) + sum(cpu[5:8]),
        "steal_s": cpu[7],
    }


class TreeMemory:
    """Peak summed resident memory of a process and all its descendants,
    sampled from /proc (the JVM and the Python workers are children of the
    driver process)."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid = pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        tree, todo = [], [self.pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, sum(self._rss(p) for p in self._tree()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process in the child's session and wait for them all."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def prepare(workload: str, seed: int, cache: str) -> dict:
    sys.path.insert(0, ROOT)
    from ocr_auto_label_spark.datagen import transcripts_parquet
    from perfbench import inputs

    cfg = WORKLOADS[workload]
    # 25k turns per file: the scan runs one task per 25k turns
    turns = transcripts_parquet(cfg["n_turns"], seed, base_dir=cache)
    if cfg["kind"] == "extraction":
        return {"kind": "extraction", "input": turns, "turns": turns, "n_rows": cfg["n_turns"]}
    docs = inputs.documents(cache, cfg["n_turns"], seed, cfg["n_docs"])
    return {"kind": "curation", "input": docs, "turns": turns, "n_rows": cfg["n_docs"]}


def run_child(spec: dict, run_dir: str, deadline: float) -> tuple[dict, float, int]:
    """Run ``perfbench.job`` in a fresh process; returns its result, the
    spawn wall time and the tree's peak RSS in bytes."""
    spec_path = os.path.join(run_dir, "spec.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        # workers import the program by module path, whatever the cwd
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    spawn_wall = time.time()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.job", spec_path, result_path],
        cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        with TreeMemory(proc.pid) as mem:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {spec['workload']} did not finish in {DEADLINE_S} s")
    finally:
        stop_group(proc)
    if code != 0 or not os.path.exists(result_path):
        raise SystemExit(f"perfbench: job process exited with {code}")
    with open(result_path) as f:
        return json.load(f), spawn_wall, mem.peak_bytes


def main() -> int:
    start = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ocr_auto_label_spark", "__init__.py")):
        print(f"perfbench: the program (ocr_auto_label_spark) is not in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)

    host = {"nproc": len(os.sched_getaffinity(0)), "before": host_state()}
    cache = os.path.join(WORK, "cache")
    spec = prepare(args.workload, args.seed, cache)
    host["inputs_ready"] = host_state()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                work_dir=run_dir, cache_dir=cache)
    try:
        res, spawn_wall, peak = run_child(spec, run_dir, start + DEADLINE_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host["after"] = host_state()

    failed = sum(not op["ok"] for op in res["ops"])
    attempted = len(res["ops"])
    if args.trace:
        untraced = [r["s"] for r in res["overhead_reps"] if not r["traced"]]
        values = {**res["session"], **res["layers"], "peak_rss_mb": peak / 2**20,
                  "steady_job_s": statistics.median(untraced)}
        names = declared["per_layer"]
        skipped = NOT_CALLED[spec["kind"]]
        for m in names:
            if m["name"] not in values and m["name"].startswith(skipped):
                values[m["name"]] = 0.0
    else:
        values = {
            "setup_s": res["setup_done_wall"] - spawn_wall,
            "job_s": res["job_s"],
            "rows_per_s": spec["n_rows"] / res["job_s"],
        }
        names = declared["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        print(f"perfbench: not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "n_rows": spec["n_rows"], "n_turns": WORKLOADS[args.workload]["n_turns"],
        "host": host, "spawn_wall": spawn_wall, "peak_rss_mb": peak / 2**20,
        "result": res, "metrics": metrics, "attempted": attempted, "failed": failed,
    }
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    art_path = os.path.join(
        WORK, "artifacts",
        f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S', time.gmtime(start))}.json")
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:14.4f} {m['unit']}")
    if res.get("steady_s"):
        steady = statistics.median(res["steady_s"])
        print(f"{'steady_job_s (not gated)':40s} {steady:14.4f} s (median of {len(res['steady_s'])} reps)")
    print(f"{'error_frac':40s} {failed / attempted:14.4f} ({failed} failed of {attempted} operations)")
    print(f"artifact {os.path.relpath(art_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
