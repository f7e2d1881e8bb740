"""The two streaming-job workloads, driven through ``omldm_spark.job.run_job``.

The job is a closed loop: ``availableNow`` with one parquet file per
trigger, so each micro-batch starts when the previous one ends. The first
``WARMUP_FILES`` batches are set-up; timing starts at the trigger of the
first batch after them and ends when the query terminates.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from collections import Counter
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.streaming import StreamingQueryListener

import inputs
import procstat
import spans

WARMUP_FILES = 1
DEDUP_TTL_MS = 3_600_000
# rows per data file, and how many seconds of --seconds buy one timed file:
# the input size is fixed for a given --seconds (20 s gives 4 job_dedup
# files plus its trailing no-data batch, and 5 job_fanout files of which
# the third carries only requests)
SHAPE = {
    "job_dedup": {"rows": 250, "seconds_per_file": 5.0},
    "job_fanout": {"rows": 500, "seconds_per_file": 4.0},
}


def timed_file_count(workload: str, seconds: int) -> int:
    return max(3, round(seconds / SHAPE[workload]["seconds_per_file"]))


def make_input(workload: str, seed: int, seconds: int):
    return inputs.job_stream(
        workload, seed, rows=SHAPE[workload]["rows"],
        timed_files=timed_file_count(workload, seconds),
        warmup_files=WARMUP_FILES,
    )


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _Progress(StreamingQueryListener):
    """Keeps every StreamingQueryProgress, and marks the start of the timed
    phase (CPU snapshot, memory sampling) when the last warm-up batch
    reports, which is when the first timed batch is triggered."""

    def __init__(self, warmup_batches: int) -> None:
        self.warmup_batches = warmup_batches
        self.batches: list = []
        self.cpu_at_start: dict[str, float] | None = None
        self.steal_at_start = 0.0
        self.timed = threading.Event()
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.batches.append(event.progress)
        if event.progress.batchId == self.warmup_batches - 1:
            self.cpu_at_start = procstat.cpu_split()
            self.steal_at_start = procstat.steal_seconds()
            self.timed.set()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()


def run(spark, workload: str, seed: int, seconds: int, workdir: str,
        cpus: int, t_process_start: float, tracer: spans.Tracer | None):
    from omldm_spark.job import JobConfig, run_job

    inp, tables = make_input(workload, seed, seconds)
    src = os.path.join(workdir, "src")
    inputs.write_stream(tables, src)
    # a file-backed holdout, as in a deployment; built from a Python list
    # it would ship pickled rows through a Python worker on every score
    holdout_path = os.path.join(workdir, "holdout.parquet")
    inputs.write_holdout(inp.holdout, holdout_path)
    holdout = spark.read.parquet(holdout_path)

    listener = _Progress(WARMUP_FILES)
    spark.streams.addListener(listener)
    stats: list = []
    responses: list = []
    cfg = JobConfig(
        parallelism=cpus,
        input_path=src,
        input_schema=from_arrow_schema(inputs.STREAM_SCHEMA),
        max_files_per_trigger=1,
        predictions_path=os.path.join(workdir, "predictions"),
        checkpoint_dir=os.path.join(workdir, "checkpoint"),
        state_path=os.path.join(workdir, "catalog.jsonl"),
        dim=inputs.DIM,
        stats_sink=stats,
        responses_sink=responses,
        holdout_df=holdout,
        timeout_ms=170_000,
        dedup_key="id" if workload == "job_dedup" else None,
        dedup_ttl_ms=DEDUP_TTL_MS,
    )
    with procstat.MemorySampler(listener.timed) as mem:
        catalog = run_job(spark, cfg)
        t_end = time.time()
    cpu_end = procstat.cpu_split()
    steal_end = procstat.steal_seconds()
    listener.terminated.wait(10)
    spark.streams.removeListener(listener)

    batches = sorted(listener.batches, key=lambda p: p.batchId)
    timed = [p for p in batches if p.batchId >= WARMUP_FILES]
    if not timed or listener.cpu_at_start is None:
        raise RuntimeError("the job ran no timed micro-batch")
    t_first = _epoch(timed[0].timestamp)
    cpu0 = listener.cpu_at_start
    lat = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in timed]

    checks = check_job(workload, inp, stats, responses, catalog,
                       cfg.predictions_path)
    data_rows = sum(len(f.training_ids) + len(f.forecasting_ids)
                    + f.duplicates for f in inp.timed)
    wall = t_end - t_first
    e2e = {
        "setup_s": t_first - t_process_start,
        "wall_s": wall,
        "batch_p50_s": statistics.median(lat),
        "cpu_s": sum(cpu_end.values()) - sum(cpu0.values()),
        "pss_p50_mb": statistics.median(mem.samples) / 1e6,
    }
    info = {
        "rows_per_s": data_rows / wall,
        "batch_s": lat,
        "timed_files": len(inp.timed),
        "pss_peak_mb": max(mem.samples) / 1e6,
        "steal_s": steal_end - listener.steal_at_start,
    }
    layers = None
    if tracer is not None:
        layers = job_layers(spark, tracer, inp, timed, stats, catalog, cfg,
                            t_first, t_end, cpu0, cpu_end,
                            steal_end - listener.steal_at_start)
    return e2e, checks, info, layers


# -- correctness --------------------------------------------------------------

def _read_predictions(path: str) -> Counter:
    """How often each (pipelineId, recordId) was written to the sink."""
    if not os.path.isdir(path):
        return Counter()
    t = pq.read_table(path, columns=["pipelineId", "recordId"]).to_pydict()
    return Counter(zip(t["pipelineId"], t["recordId"]))


def _finite(model: dict | None) -> bool:
    if not model:
        return False
    for v in model.values():
        if isinstance(v, list) and not np.isfinite(
                np.asarray(v, dtype=float)).all():
            return False
    return True


def orr_reference(rows: list[tuple[np.ndarray, float]], lam: float,
                  quant: int) -> np.ndarray:
    """NumPy solve of the ridge system ORR defines over the same rows:
    features and labels quantized half-up to ``1/quant``, exact integer
    moments, then (A + lam I) w = b with A, b the averaged moments."""
    def q(v):
        v = np.asarray(v, dtype=float) * quant
        return (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)

    X = q(np.stack([r[0] for r in rows])).astype(object)
    y = q([r[1] for r in rows]).astype(object)
    n, d = X.shape
    A = np.eye(d + 1)
    b = np.zeros(d + 1)
    nd, qf = float(n), float(quant)
    for i in range(d):
        for j in range(i, d):
            A[i, j] = A[j, i] = float(int((X[:, i] * X[:, j]).sum())) / (
                nd * qf * qf)
        A[i, d] = A[d, i] = float(int(X[:, i].sum())) / (nd * qf)
        b[i] = float(int((X[:, i] * y).sum())) / (nd * qf * qf)
    b[d] = float(int(y.sum())) / (nd * qf)
    return np.linalg.solve(A + lam * np.eye(d + 1), b)


def check_job(workload, inp, stats, responses, catalog, predictions_path):
    """One operation per input file (its micro-batch) plus one for the final
    state. Returns a list of (operation, ok, reason)."""
    preds = _read_predictions(predictions_path)
    pred_by_id: dict[int, set[int]] = {}
    for pid, rid in preds:
        pred_by_id.setdefault(rid, set()).add(pid)
    repeated = sorted(k for k, n in preds.items() if n > 1)
    fitted_by = {(s.batch_id, s.pipeline): s.fitted for s in stats}
    resp_by_id = {r["responseId"]: r for r in responses}
    n_pipes = len(inputs.FANOUT_PIPELINES) if workload == "job_fanout" else 1
    pipes = list(range(1, n_pipes + 1))
    linear = [p for p in pipes if workload == "job_dedup"
              or inputs.FANOUT_PIPELINES[p - 1][0] != "K-means"]
    cum = {p: 0 for p in pipes}
    seen_responses = 0
    out = []
    for f in inp.files:
        why = []
        if f.training_ids:
            for p in pipes:
                got = fitted_by.get((f.index, p))
                if got != len(f.training_ids):
                    why.append(f"pipeline {p} fitted {got} rows, "
                               f"expected {len(f.training_ids)}")
                cum[p] += len(f.training_ids)
            extra = {p for (b, p) in fitted_by if b == f.index} - set(pipes)
            if extra:
                why.append(f"unexpected pipelines trained: {sorted(extra)}")
        for rid in f.forecasting_ids:
            if pred_by_id.get(rid, set()) != set(linear):
                why.append(f"record {rid} predicted by "
                           f"{sorted(pred_by_id.get(rid, ()))}")
                break
        delivered = fitted_by.get((f.index, 1), 0) + sum(
            1 for rid in f.forecasting_ids if rid in pred_by_id)
        data_rows = len(f.training_ids) + len(f.forecasting_ids) + f.duplicates
        if f.training_ids and delivered + f.duplicates != data_rows:
            why.append(f"dedup delivered {delivered} of {data_rows} rows "
                       f"with {f.duplicates} duplicates injected")
        # the handler applies a batch's requests first and answers its
        # Queries at the end of the batch, so a Query reports the pipeline's
        # end-of-batch state, after any Delete + re-Create in the same batch
        for r in f.requests:
            if r["request"] == "Delete":
                cum[r["id"]] = 0
        for r in f.requests:
            if r["request"] != "Query":
                continue
            seen_responses += 1
            resp = resp_by_id.get(r["requestId"])
            if resp is None:
                why.append(f"no response to query {r['requestId']}")
            elif resp["dataFitted"] != cum[r["id"]]:
                why.append(f"response {r['requestId']} reports "
                           f"{resp['dataFitted']} rows fitted, "
                           f"expected {cum[r['id']]}")
            elif math.isfinite(resp["score"]) != (
                    r["id"] in linear and cum[r["id"]] > 0):
                why.append(f"response {r['requestId']} has score "
                           f"{resp['score']} for {cum[r['id']]} rows fitted")
        out.append((f"batch {f.index}", not why, "; ".join(why)))

    why = []
    if repeated:
        why.append(f"{len(repeated)} (pipeline, record) predictions written "
                   f"more than once, e.g. {repeated[0]}")
    if len(responses) != seen_responses:
        why.append(f"{len(responses)} responses for {seen_responses} queries")
    if sorted(catalog.pipelines) != pipes:
        why.append(f"live pipelines {sorted(catalog.pipelines)}")
    for p, spec in catalog.pipelines.items():
        if cum.get(p) and not _finite(spec.model):
            why.append(f"pipeline {p} model is not finite")
        if spec.fitted != cum.get(p):
            why.append(f"pipeline {p} fitted {spec.fitted}, expected "
                       f"{cum.get(p)}")
        if spec.learner == "ORR" and not spec.preprocessors:
            ref = orr_reference([inp.rows[i] for f in inp.files
                                 for i in f.training_ids],
                                inputs.ORR_LAMBDA, inputs.ORR_QUANT)
            if not np.allclose(spec.model["w"], ref, rtol=1e-9, atol=1e-12):
                why.append(f"ORR weights {spec.model['w']} differ from the "
                           f"reference solve {ref.tolist()}")
    out.append(("final state", not why, "; ".join(why)))
    return out


# -- per-layer metrics (traced runs) -----------------------------------------

def install_job_tracer(tracer: spans.Tracer) -> None:
    import omldm_spark.job as job
    from omldm_spark.learners import trainer
    from omldm_spark.plans.catalog import PipelineCatalog
    from omldm_spark.streaming import training_loop as tl

    make = job.make_batch_handler

    def traced_make(*args, **kwargs):
        return tracer.wrap("handle", make(*args, **kwargs),
                           tag_of=lambda a, _: int(a[1]))

    tracer.replace(job, "make_batch_handler", traced_make)
    for attr in ("train_batch", "predict_batch", "build_query_responses",
                 "protocol_round", "apply_chain"):
        tracer.patch(tl, attr, attr)
    tracer.patch(PipelineCatalog, "apply_requests_df", "apply_requests_df",
                 result_hook=lambda sp, out: setattr(sp, "count", len(out)))
    tracer.patch(PipelineCatalog, "save", "catalog_save")
    tracer.patch(trainer, "fit", "fit")
    tracer.patch(trainer, "fit_groups", "fit_groups")


def job_layers(spark, tracer, inp, timed, stats, catalog, cfg, t_first,
               t_end, cpu0, cpu1, steal_s):
    tot = tracer.totals(since=t_first)
    span = lambda name, key="total_s": tot.get(name, {}).get(key, 0)  # noqa: E731
    timed_ids = {p.batchId for p in timed}
    data_batches = sum(1 for f in inp.timed if f.training_ids)
    dur = lambda p, k: p.durationMs.get(k, 0) / 1e3  # noqa: E731
    ops = [o for p in timed for o in p.stateOperators]
    data_in = sum(len(f.training_ids) + len(f.forecasting_ids) + f.duplicates
                  for f in inp.timed)
    # rows past dedup: training rows the pipeline fitted, plus forecasting
    # rows (the checks verify each of those was scored)
    delivered = sum(s.fitted for s in stats
                    if s.batch_id in timed_ids and s.pipeline == 1) + sum(
        len(f.forecasting_ids) for f in inp.timed)
    fit_calls = span("fit", "calls") + span("fit_groups", "calls")
    handles = [sp for sp in tracer.spans
               if sp.name == "handle" and sp.start >= t_first]
    jobs = spans.job_submit_times(spark, t_first, t_end)
    per_handle_jobs = [sum(1 for j in jobs if h.start <= j <= h.end)
                       for h in handles]
    empty = [dur(p, "triggerExecution") for p in timed if p.numInputRows == 0]
    shipped = [s for s in stats if s.batch_id in timed_ids]
    ex = spans.stage_totals(spark, t_first, t_end)
    state_path = cfg.state_path
    return {
        "sources.rows_in": float(sum(p.numInputRows for p in timed)),
        "sources.offset_s": sum(dur(p, "latestOffset") + dur(p, "getBatch")
                                for p in timed),
        "stateful.rows_updated": float(sum(o.numRowsUpdated for o in ops)),
        "stateful.updates_per_row": (
            sum(o.numRowsUpdated for o in ops) / data_in if ops else 0.0),
        "stateful.state_rows": float(timed[-1].stateOperators[0].numRowsTotal
                                     if ops else 0),
        "stateful.state_mb": (timed[-1].stateOperators[0].memoryUsedBytes / 1e6
                              if ops else 0.0),
        "stateful.update_s": sum(o.allUpdatesTimeMs for o in ops) / 1e3,
        "stateful.commit_s": sum(o.commitTimeMs for o in ops) / 1e3,
        "stateful.rows_dropped": float(data_in - delivered) if ops else 0.0,
        "training_loop.handle_s": sum(dur(p, "addBatch") for p in timed),
        "training_loop.handle_self_s": span("handle", "self_s"),
        "training_loop.train_batch_s": span("train_batch"),
        "training_loop.predict_batch_s": span("predict_batch"),
        "training_loop.responses_s": span("build_query_responses"),
        "training_loop.jobs_per_batch": (
            statistics.mean(per_handle_jobs) if per_handle_jobs else 0.0),
        "training_loop.empty_batch_s": statistics.mean(empty) if empty else 0.0,
        "streaming.overhead_s": sum(dur(p, "triggerExecution")
                                    - dur(p, "addBatch") for p in timed),
        "catalog.requests": float(sum(sp.count for sp in tracer.spans
                                      if sp.name == "apply_requests_df"
                                      and sp.start >= t_first)),
        "catalog.apply_s": span("apply_requests_df"),
        "catalog.save_s": span("catalog_save"),
        "catalog.state_kb": (os.path.getsize(state_path) / 1e3
                             if os.path.exists(state_path) else 0.0),
        "learners.fit_calls": float(fit_calls),
        "learners.fit_calls_per_batch": fit_calls / max(1, data_batches),
        "learners.fit_s": span("fit") + span("fit_groups"),
        "learners.protocol_s": span("protocol_round"),
        "learners.models_shipped": float(sum(s.models_shipped
                                             for s in shipped)),
        "learners.bytes_shipped": float(sum(s.bytes_shipped for s in shipped)),
        "preprocess.calls": float(span("apply_chain", "calls")),
        "preprocess.apply_s": span("apply_chain"),
        "executor.jobs": float(len(jobs)),
        "executor.stages": float(ex.stages),
        "executor.tasks": float(ex.tasks),
        "executor.run_s": ex.run_s,
        "executor.cpu_s": ex.cpu_s,
        "executor.gc_s": ex.gc_s,
        "executor.shuffle_read_mb": ex.shuffle_read_mb,
        "executor.shuffle_write_mb": ex.shuffle_write_mb,
        "executor.spill_mb": ex.spill_mb,
        "proc.driver_py_cpu_s": cpu1["driver_py"] - cpu0["driver_py"],
        "proc.jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
        "proc.py_worker_cpu_s": cpu1["py_worker"] - cpu0["py_worker"],
        "proc.steal_s": steal_s,
    }

