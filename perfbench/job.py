"""One benchmark workload in one fresh driver process.

``python3 -m perfbench.job <spec.json> <result.json>`` — started by
``run.py``, which owns input preparation, memory sampling and reporting.
This process calls the production entry points the way the shipped jobs
do (``jobs/run_extraction.py``, ``jobs/run_curation.py``):

1. ``session.build_spark`` and one trivial action (the set-up);
2. the cold job: the first job call in the process;
3. steady reps of the same job in the same session, outputs reset before
   each rep outside timing, for ``--seconds`` and at least once;
4. correctness checks, each an operation that counts into ``error_frac``.

With ``trace`` set it instead times the cold job under ``trace.Spans`` and
``trace.SparkWindow``, and adds the per-layer legs: untraced/traced/untraced
reps for the tracing overhead, the noop-sink plan, a driver-side labelcore
sample, and a resume from a cached crash state.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import astuple

from perfbench.trace import Spans, SparkWindow, arrow_batches, metric_sum, node_sum, task_skew

N_BUCKETS = 64          # jobs/run_extraction.py defaults
WAVE_SIZE = 32
RESUME_WAVE_SIZE = 4    # 32 remaining buckets → 8 waves, each re-scanning the table
SAMPLE_CHECK_TURNS = 200
LABELCORE_SAMPLE_TURNS = 5000
RUN_ID = "perfbench"


def _read_rows(path, columns):
    # imported here: before build_spark the process imports only what the jobs import
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pylist()


class Ledger:
    """Every job call and correctness check, pass or fail."""

    def __init__(self):
        self.ops: list[dict] = []

    def call(self, name, fn, *args, **kwargs):
        try:
            value = fn(*args, **kwargs)
        except Exception:  # a failed job is reported, and the run goes on
            traceback.print_exc()
            self.ops.append({"op": name, "ok": False, "detail": traceback.format_exc(limit=3)})
            return None
        self.ops.append({"op": name, "ok": True})
        return value

    def check(self, name, ok, detail=None):
        self.ops.append({"op": name, "ok": bool(ok), "detail": None if ok else detail})
        if not ok:
            print(f"check failed: {name}: {detail}", file=sys.stderr)


class Extraction:
    """``lineage.run_extraction_with_checkpoint`` + ``read_output().count()``."""

    span_names = ("run_extraction_with_checkpoint", "completed_buckets",
                  "write_wave_output", "read_output")

    def __init__(self, spark, spec):
        from ocr_auto_label_spark import lineage

        self.lineage = self.span_module = lineage
        self.spark = spark
        self.spec = spec
        self.out = os.path.join(spec["work_dir"], "output")
        self.lin = os.path.join(spec["work_dir"], "lineage")

    def reset(self):
        for d in (self.out, self.lin):
            shutil.rmtree(d, ignore_errors=True)

    def job(self, out=None, lin=None, wave_size=WAVE_SIZE):
        summary = self.lineage.run_extraction_with_checkpoint(
            self.spark, self.spec["input"], out or self.out, lin or self.lin, RUN_ID,
            n_buckets=N_BUCKETS, wave_size=wave_size,
        )
        summary["rows_out"] = self.lineage.read_output(self.spark, out or self.out).count()
        return summary

    def checksums(self, lin=None):
        t = _read_rows(lin or self.lin, ["part_bucket", "checksum"])
        return {r["part_bucket"]: r["checksum"] for r in t}, len(t)

    def check_job(self, ledger, summary, reference):
        ledger.check("rows_out == n_turns", summary["rows_out"] == self.spec["n_rows"],
                     f"{summary['rows_out']} != {self.spec['n_rows']}")
        sums, n_rows = self.checksums()
        ledger.check("one lineage row per bucket", n_rows == N_BUCKETS == len(sums),
                     f"{n_rows} rows for {len(sums)} buckets")
        if reference is not None:
            ledger.check("lineage checksums equal the cold run's", sums == reference["checksums"],
                         "per-bucket checksum mismatch")
        return {"checksums": sums}

    def check_final(self, ledger):
        """A seeded sample of turns: Spark output == ``labelcore.extract_turn``."""
        from ocr_auto_label_spark.labelcore.extract import extract_turn

        turns = _read_rows(self.spec["input"], ["conv_id", "turn_idx", "text", "tool"])
        sample = random.Random(self.spec["seed"]).sample(turns, SAMPLE_CHECK_TURNS)
        keys = self.spark.createDataFrame(
            [(t["conv_id"], t["turn_idx"]) for t in sample], "conv_id string, turn_idx int"
        )
        got = {
            (r.conv_id, r.turn_idx): r
            for r in self.lineage.read_output(self.spark, self.out).join(keys, ["conv_id", "turn_idx"]).collect()
        }
        bad = []
        for t in sample:
            row = got.get((t["conv_id"], t["turn_idx"]))
            want_text, want = extract_turn(t["text"], t["tool"])
            have = None if row is None else [
                (c.label, c.raw, c.begin, c.end, c.source_col, c.pattern_id, c.corrections,
                 c.canonical, c.canonical_sim, c.confidence, c.rank) for c in row.candidates or []
            ]
            if row is None or row.extracted_text != want_text or have != [astuple(c) for c in want]:
                bad.append((t["conv_id"], t["turn_idx"]))
        ledger.check("sampled turns equal labelcore.extract_turn", not bad and len(got) == len(sample),
                     f"{len(bad)} of {len(sample)} mismatched, {len(got)} found: {bad[:5]}")


class Curation:
    """``plans.curation_pipeline.curate_corpus`` with the CLI defaults."""

    span_module, span_names = None, ()

    def __init__(self, spark, spec):
        from ocr_auto_label_spark.plans.curation_pipeline import curate_corpus

        self.curate_corpus = curate_corpus
        self.spark = spark
        self.spec = spec
        self.out = os.path.join(spec["work_dir"], "curation")

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def job(self):
        docs = self.spark.read.parquet(self.spec["input"])
        return self.curate_corpus(self.spark, docs, self.out)

    def check_job(self, ledger, summary, reference):
        split_total = sum(summary["split_counts"].values())
        ledger.check("split counts sum to rows_after_dedup", split_total == summary["rows_after_dedup"],
                     f"{split_total} != {summary['rows_after_dedup']}")
        ledger.check("rows_in == n_docs", summary["rows_in"] == self.spec["n_rows"],
                     f"{summary['rows_in']} != {self.spec['n_rows']}")
        ledger.check("rows_in >= rows_quality_pass >= rows_after_dedup > 0",
                     summary["rows_in"] >= summary["rows_quality_pass"] >= summary["rows_after_dedup"] > 0,
                     str(summary))
        curated = self.spark.read.parquet(summary["curated_path"]).count()
        ledger.check("curated row count == rows_after_dedup", curated == summary["rows_after_dedup"],
                     f"{curated} != {summary['rows_after_dedup']}")
        if reference is not None:
            ledger.check("summary identical across reps", summary == reference["summary"],
                         f"{summary} != {reference['summary']}")
        return {"summary": summary}

    def check_final(self, ledger):
        pass


def _timed(ledger, name, fn, *args, **kwargs):
    start = time.perf_counter()
    value = ledger.call(name, fn, *args, **kwargs)
    return value, time.perf_counter() - start


def _layers(spark, win, spans, job_s, summary, rows_out, workload):
    """Per-layer metrics of one traced job call."""
    execs = win.executions()
    stages = win.stages(win.job_stage_ids())
    py = {k: node_sum(execs, "ArrowEvalPython", m) for k, m in (
        ("start", "time to start Python workers"), ("init", "time to initialize Python workers"),
        ("run", "time to run Python workers"), ("sent", "data sent to Python workers"),
        ("back", "data returned from Python workers"))}
    udf_stages = {s for e in execs if any(n == "ArrowEvalPython" for n, _ in e["metrics"]) for s in e["stages"]}
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    py_total = py["start"] + py["init"] + py["run"]
    rows_read = node_sum(execs, "Scan", "number of output rows")
    out = {
        "udfs.py_start_s": py["start"],
        "udfs.py_init_s": py["init"],
        "udfs.py_run_s": py["run"],
        "udfs.init_share": (py["start"] + py["init"]) / py_total if py_total else 0.0,
        "udfs.bytes_to_py": py["sent"],
        "udfs.bytes_from_py": py["back"],
        "udfs.batches": arrow_batches(
            [r for s in stages if s["id"] in udf_stages for r in s["records_read"]], per_batch),
        "scan.time_s": node_sum(execs, "Scan", "scan time"),
        "scan.bytes": node_sum(execs, "Scan", "size of files read"),
        "scan.rows_read": rows_read,
        "scan.rows_read_per_row_out": rows_read / rows_out if rows_out else 0.0,
        "spark.jobs": len(win.job_ids),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.task_failures": sum(s["failed_tasks"] for s in stages),
    }
    if workload == "extraction":
        out.update(_lineage_layer(spans, job_s, summary))
    if workload == "curation":
        out.update({
            "curation.executions": len(execs),
            "curation.exec_s.max": max(e["wall_s"] for e in execs),
            "curation.shuffle_bytes_written": metric_sum(execs, "shuffle bytes written"),
            "curation.spill_bytes": metric_sum(execs, "spill size"),
            "curation.task_skew": task_skew(stages),
        })
    return out


def _lineage_layer(spans, job_s, summary):
    writes = spans.starts("write_wave_output")
    run_end = max(end for name, _, end in spans.records if name == "run_extraction_with_checkpoint")
    waves = [b - a for a, b in zip(writes, writes[1:] + [run_end])]
    completed = spans.total("completed_buckets")
    write = spans.total("write_wave_output")
    return {
        "lineage.completed_buckets_s": completed,
        "lineage.write_s": write,
        "lineage.verify_s": job_s - write - completed,
        "lineage.waves": len(waves),
        "lineage.wave_s.p50": statistics.median(waves) if waves else 0.0,
        "lineage.wave_s.max": max(waves, default=0.0),
        "lineage.buckets_processed": summary["buckets_processed"],
        "lineage.buckets_resumed": summary["buckets_resumed"],
    }


def _labelcore_sample(turns_path, seed):
    """Driver-side timing of labelcore's public functions on a seeded
    sample of the workload's turns (analyze_token's cache cleared first)."""
    from ocr_auto_label_spark.labelcore.boilerplate import normalize_text
    from ocr_auto_label_spark.labelcore.extract import TOKEN_RE, analyze_token, extract_candidates

    turns = _read_rows(turns_path, ["text", "tool"])
    sample = random.Random(seed).sample(turns, min(LABELCORE_SAMPLE_TURNS, len(turns)))
    n = len(sample)
    start = time.perf_counter()
    for t in sample:
        normalize_text(t["text"])
    normalize_s = time.perf_counter() - start
    analyze_token.cache_clear()
    start = time.perf_counter()
    candidates = sum(len(extract_candidates(t["text"], t["tool"])) for t in sample)
    extract_s = time.perf_counter() - start
    info = analyze_token.cache_info()
    tokens = sum(len(TOKEN_RE.findall(s)) for t in sample for s in (t["text"], t["tool"]) if s)
    return {
        "labelcore.normalize_us_per_turn": normalize_s / n * 1e6,
        "labelcore.extract_us_per_turn": extract_s / n * 1e6,
        "labelcore.tokens_per_turn": tokens / n,
        "labelcore.candidates_per_turn": candidates / n,
        "labelcore.token_cache_hit_rate": info.hits / (info.hits + info.misses) if info.hits + info.misses else 0.0,
    }


def _traced(w, ledger, name, fn, *args, **kwargs):
    with Spans(w.span_module, w.span_names) as spans, SparkWindow(w.spark) as win:
        value, elapsed = _timed(ledger, name, fn, *args, **kwargs)
    return value, elapsed, spans, win


def run_plain(w, spec, ledger, res):
    res["steady_s"] = []
    w.reset()
    summary, res["job_s"] = _timed(ledger, "cold job", w.job)
    if summary is None:
        return
    res["summary"] = summary
    reference = w.check_job(ledger, summary, None)
    steady_start = time.perf_counter()
    reps = res["steady_s"]
    while not reps or time.perf_counter() - steady_start < spec["seconds"]:
        w.reset()
        s, elapsed = _timed(ledger, "steady job", w.job)
        if s is None:
            break
        reps.append(elapsed)
        w.check_job(ledger, s, reference)
    w.check_final(ledger)


def run_traced(w, spec, ledger, res):
    from ocr_auto_label_spark.plans.extraction_pipeline import extract_turns

    kind = spec["kind"]
    w.reset()
    summary, job_s, spans, win = _traced(w, ledger, "cold job (traced)", w.job)
    if summary is None:
        return
    res["summary"] = summary
    res["job_s"] = job_s
    reference = w.check_job(ledger, summary, None)
    rows_out = summary["rows_out"] if kind == "extraction" else summary["rows_after_dedup"]
    layers = res["layers"] = _layers(w.spark, win, spans, job_s, summary, rows_out, kind)

    reps = res["overhead_reps"] = []
    for traced in (False, True, False):
        w.reset()
        s, elapsed = (_traced(w, ledger, "steady job (traced)", w.job)[:2] if traced
                      else _timed(ledger, "steady job", w.job))
        if s is None:
            return
        reps.append({"traced": traced, "s": elapsed})
        w.check_job(ledger, s, reference)
    layers["trace.overhead_s"] = reps[1]["s"] - (reps[0]["s"] + reps[2]["s"]) / 2
    w.check_final(ledger)

    layers.update(_labelcore_sample(spec["turns"], spec["seed"]))
    if kind != "extraction":
        return
    def noop():
        extract_turns(w.spark.read.parquet(spec["input"])).write.format("noop").mode("overwrite").save()

    _, layers["extraction_pipeline.noop_s"] = _timed(ledger, "noop plan", noop)

    from perfbench import inputs

    state = inputs.crash_state(spec["cache_dir"], spec["n_rows"], spec["seed"], w.out, w.lin,
                               N_BUCKETS, RESUME_WAVE_SIZE)
    out, lin = w.out + "_resume", w.lin + "_resume"
    inputs.restore(state, out, lin)
    s, resume_s, spans, win = _traced(w, ledger, "resume job (traced)", w.job, out, lin, RESUME_WAVE_SIZE)
    if s is None:
        return
    half = N_BUCKETS // 2
    ledger.check("resume skips the recorded buckets", (s["buckets_resumed"], s["buckets_processed"]) == (half, half),
                 str(s))
    ledger.check("resumed rows_out == n_turns", s["rows_out"] == spec["n_rows"], str(s))
    ledger.check("resumed lineage checksums equal a clean run's", w.checksums(lin)[0] == reference["checksums"],
                 "per-bucket checksum mismatch")
    resumed = _layers(w.spark, win, spans, resume_s, s, s["rows_out"], kind)
    layers.update({
        "resume.job_s": resume_s,
        "resume.waves": resumed["lineage.waves"],
        "resume.wave_s.p50": resumed["lineage.wave_s.p50"],
        "resume.verify_s": resumed["lineage.verify_s"],
        "resume.scan.rows_read_per_row_out": resumed["scan.rows_read_per_row_out"],
    })


WORKLOADS = {"extraction": Extraction, "curation": Curation}
ENTRY_MODULES = {"extraction": "ocr_auto_label_spark.lineage",
                 "curation": "ocr_auto_label_spark.plans.curation_pipeline"}


def main() -> int:
    spec_path, result_path = sys.argv[1], sys.argv[2]
    with open(spec_path) as f:
        spec = json.load(f)
    # import what the job's entry point imports before it builds its session
    importlib.import_module(ENTRY_MODULES[spec["kind"]])
    from ocr_auto_label_spark.session import build_spark

    t0 = time.perf_counter()
    spark = build_spark(app_name=f"perfbench-{spec['workload']}")
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    res = {
        "setup_done_wall": time.time(),
        "session": {"session.build_s": t1 - t0, "session.first_action_s": t2 - t1},
    }
    ledger = Ledger()
    try:
        w = WORKLOADS[spec["kind"]](spark, spec)
        (run_traced if spec["trace"] else run_plain)(w, spec, ledger, res)
    finally:
        spark.stop()
    res["ops"] = ledger.ops
    with open(result_path, "w") as f:
        json.dump(res, f, default=str)
    return 0 if "job_s" in res else 1


if __name__ == "__main__":
    sys.exit(main())
