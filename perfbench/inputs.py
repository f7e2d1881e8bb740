"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed gives
byte-identical parquet files, another seed gives different values of the
same shape. The program under test only ever sees the written files.

The job workloads read a unified data+control stream: one parquet file per
micro-batch (``maxFilesPerTrigger=1``), ordered by name and mtime. Next to
the files the generator returns a per-file manifest that the checks compare
the job's outputs against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 8
T0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in microseconds

_HYPER = pa.map_(pa.string(), pa.string())
STREAM_SCHEMA = pa.schema([
    ("kind", pa.string()),
    ("id", pa.int64()),
    ("features", pa.list_(pa.float64())),
    ("label", pa.float64()),
    ("operation", pa.string()),
    ("event_time", pa.timestamp("us")),
    ("request", pa.string()),
    ("requestId", pa.int64()),
    ("learner", pa.struct([("name", pa.string()), ("hyperParameters", _HYPER)])),
    ("preProcessors", pa.list_(
        pa.struct([("name", pa.string()), ("hyperParameters", _HYPER)]))),
    ("trainingConfiguration", _HYPER),
])

# job_fanout's pipelines: (learner, preprocessors, protocol). K-means is
# forced onto SingleLearner by the catalog whatever protocol it asks for.
FANOUT_PIPELINES = (
    ("PA", (), "Asynchronous"),
    ("PA", (), "SSP"),
    ("SVM", (), "Synchronous"),
    ("SVM", (), "FGM"),
    ("RegressorPA", ("StandardScaler",), "Asynchronous"),
    ("ORR", (), "Asynchronous"),
    ("ORR", ("MinMaxScaler",), "Asynchronous"),
    ("K-means", (), "Asynchronous"),
)
# ORR's ridge parameters, sent in its Create so the reference solve in the
# checks uses the same values
ORR_LAMBDA = 0.1
ORR_QUANT = 1_000_000
# job_fanout deletes and re-creates this pipeline in every request-only file
FANOUT_RECREATED = 2


@dataclass
class StreamFile:
    """What one micro-batch file holds, as the checks need it."""

    index: int
    training_ids: list[int] = field(default_factory=list)
    forecasting_ids: list[int] = field(default_factory=list)
    duplicates: int = 0                  # re-sent rows the dedup must drop
    requests: list[dict] = field(default_factory=list)


@dataclass
class StreamInput:
    files: list[StreamFile]
    warmup_files: int
    holdout: tuple[np.ndarray, np.ndarray]     # (X, y) for Query scoring
    # every training row per id, in arrival order (the ORR reference solve)
    rows: dict[int, tuple[np.ndarray, float]] = field(default_factory=dict)

    @property
    def timed(self) -> list[StreamFile]:
        return self.files[self.warmup_files:]


def _request(kind: str, pid: int, rid: int, t_us: int, learner=None,
             pre=(), protocol=None) -> dict:
    return {
        "kind": "request", "id": pid, "features": None, "label": None,
        "operation": None, "event_time": t_us, "request": kind,
        "requestId": rid,
        "learner": {"name": learner, "hyperParameters": (
            [("lambda", str(ORR_LAMBDA)), ("quant", str(ORR_QUANT))]
            if learner == "ORR" else [])} if learner else None,
        "preProcessors": [{"name": p, "hyperParameters": []} for p in pre]
        if pre else None,
        "trainingConfiguration": [("protocol", protocol)] if protocol else None,
    }


def _data_records(ids, X, y, t_us) -> list[dict]:
    return [
        {"kind": "data", "id": int(i), "features": X[k].tolist(),
         "label": float(y[k]),
         "operation": "forecasting" if i % 10 == 0 else "training",
         "event_time": t_us, "request": None, "requestId": None,
         "learner": None, "preProcessors": None,
         "trainingConfiguration": None}
        for k, i in enumerate(ids)
    ]


def _labelled(rng, w, n):
    X = rng.normal(size=(n, DIM))
    y = np.where(X @ w + 0.1 * rng.normal(size=n) >= 0, 1.0, -1.0)
    return X, y


def job_stream(workload: str, seed: int, *, rows: int, timed_files: int,
               warmup_files: int) -> tuple[StreamInput, list[pa.Table]]:
    """The files of one job run. ``job_dedup``: one PA pipeline; every file
    after the first re-sends 10% of the previous file's ids; a Query rides
    in the last file. ``job_fanout``: 8 pipelines created in file 0; every
    fifth file carries only requests (a Query per pipeline, an Update, and
    a Delete plus re-Create of one pipeline)."""
    if workload not in ("job_dedup", "job_fanout"):
        raise ValueError(f"unknown job workload {workload!r}")
    rng = np.random.default_rng(seed)
    w = rng.normal(size=DIM)
    n_files = warmup_files + timed_files
    files, tables = [], []
    inp = StreamInput(files=files, warmup_files=warmup_files,
                      holdout=_labelled(rng, w, 256))
    next_id, rid, prev = 0, 1, None
    for f in range(n_files):
        # event time steps 10 minutes per file: re-sent rows (previous
        # file's time) stay inside the 10 s watermark delay, and the 1 h
        # dedup TTL bounds state to about six files of keys
        t_us = T0_US + f * 600_000_000
        sf = StreamFile(index=f)
        recs: list[dict] = []
        request_only = workload == "job_fanout" and f % 5 == 3
        if f == 0:
            specs = (FANOUT_PIPELINES if workload == "job_fanout"
                     else (("PA", (), None),))
            for pid, (learner, pre, proto) in enumerate(specs, start=1):
                recs.append(_request("Create", pid, rid, t_us, learner, pre,
                                     proto))
                rid += 1
        if request_only:
            for pid in range(1, len(FANOUT_PIPELINES) + 1):
                recs.append(_request("Query", pid, rid, t_us))
                rid += 1
            recs.append(_request("Update", 1, rid, t_us))
            learner, pre, proto = FANOUT_PIPELINES[FANOUT_RECREATED - 1]
            recs.append(_request("Delete", FANOUT_RECREATED, rid + 1, t_us))
            recs.append(_request("Create", FANOUT_RECREATED, rid + 2, t_us,
                                 learner, pre, proto))
            rid += 3
        else:
            ids = np.arange(next_id, next_id + rows)
            next_id += rows
            X, y = _labelled(rng, w, rows)
            fresh = _data_records(ids, X, y, t_us)
            for k, i in enumerate(ids):
                if i % 10:
                    sf.training_ids.append(int(i))
                    inp.rows[int(i)] = (X[k], float(y[k]))
                else:
                    sf.forecasting_ids.append(int(i))
            data = fresh
            if workload == "job_dedup" and prev is not None:
                pick = rng.choice(len(prev), size=rows // 10, replace=False)
                data = fresh + [prev[k] for k in sorted(pick)]
                sf.duplicates = len(pick)
                data = [data[k] for k in rng.permutation(len(data))]
            prev = fresh
            recs.extend(data)
        if workload == "job_dedup" and f == n_files - 1:
            recs.append(_request("Query", 1, rid, t_us))
            rid += 1
        sf.requests = [r for r in recs if r["kind"] == "request"]
        files.append(sf)
        tables.append(pa.Table.from_pylist(recs, schema=STREAM_SCHEMA))
    return inp, tables


def write_holdout(holdout: tuple[np.ndarray, np.ndarray], path: str) -> None:
    """The Query scoring set as one parquet file (features, label)."""
    X, y = holdout
    pq.write_table(pa.table({
        "features": pa.array(X.tolist(), pa.list_(pa.float64())),
        "label": pa.array(y, pa.float64()),
    }), path)


def write_stream(tables: list[pa.Table], path: str) -> None:
    """One parquet file per micro-batch; name and mtime both ascend so the
    file source replays them in order."""
    os.makedirs(path, exist_ok=True)
    for i, t in enumerate(tables):
        fn = os.path.join(path, f"batch-{i:05d}.parquet")
        pq.write_table(t, fn)
        os.utime(fn, (1_000_000_000 + i, 1_000_000_000 + i))
