"""Per-partition lineage/metrics rollup (north-rule requirement).

Analog of the reference's performance log (PerformanceTracker,
parallel.py:33-61, sink parallel.py:124-137): wall time measured inside the
kernel per Arrow batch, attributed evenly across the batch's rows
(parallel.py:42-49), then rolled up per partition through one accumulator
that rides the write action. The lineage table doubles as the resume
checkpoint's audit trail (FIXTURES.md §3).

Attribution rule: each written row is counted once, under its own ``_pid``,
by the Python task that finishes it — the normal kernel for whole docs
(operators/extract.extract_kernel), the reassembly's feature UDF for giant
docs (operators/extract._merge_shards_relational), whose merged metrics are
sums over the shards, so shards reused from the shard cache report exactly
like fresh ones. The lineage rows therefore equal a groupBy(_pid) over the
rows the invocation wrote.
"""

from __future__ import annotations

import hashlib
import json

import pyarrow as pa
from pyspark import AccumulatorParam, TaskContext


class LineageAccParam(AccumulatorParam):
    """Replace-merge dict accumulator:
    {(stage_id, task_partition_id): {row_pid: (docs, bytes, kernel_wall_s)}}.

    Each reporting task sends exactly ONE update (its whole-task totals per
    row pid) keyed by (stage_id, task_partition_id) — unique per task within
    a stage, and STABLE across task retries / speculative attempts / stage
    resubmission (retries keep the stage id). Merging by key replacement
    therefore makes the rollup idempotent under every re-execution mode,
    sidestepping the classic "accumulators in transformations double-count
    on retry" hazard: a retried task overwrites its own earlier entry
    instead of adding to it.
    """

    def zero(self, value):  # noqa: D102 — AccumulatorParam contract
        return {}

    def addInPlace(self, a, b):  # noqa: D102
        a.update(b)
        return a


def tally(totals: dict, pids: pa.Array, nbytes: pa.Array,
          wall: pa.Array) -> None:
    """Fold one batch's per-row metric columns (_pid, _doc_bytes, _wall_s,
    as Arrow arrays) into a task's {row_pid: (docs, bytes, wall_s)}
    totals."""
    for pid, b, w in zip(pids.to_pylist(), nbytes.to_pylist(),
                         wall.to_pylist()):
        d0, b0, w0 = totals.get(pid, (0, 0, 0.0))
        totals[pid] = (d0 + 1, b0 + b, w0 + w)


def report(lineage_acc, totals: dict) -> None:
    """Send a finished task's totals as its one accumulator update."""
    ctx = TaskContext.get()
    if lineage_acc is not None and ctx is not None and totals:
        lineage_acc.add({(ctx.stageId(), ctx.partitionId()): totals})


def lineage_rows_from_acc(acc_value: dict, run_id: str, config_fp: str,
                          invocation_id: str) -> list[dict]:
    """Driver-side rollup of the accumulator into lineage rows: the tasks'
    inner {row_pid: totals} dicts summed by row pid (the normal kernel and
    the giant reassembly run in different stages but may report the same
    row pid), one row per pid that has written rows."""
    by_pid: dict[int, list] = {}
    for totals in acc_value.values():
        for pid, (docs, nbytes, wall) in totals.items():
            cur = by_pid.setdefault(pid, [0, 0, 0.0])
            cur[0] += docs
            cur[1] += nbytes
            cur[2] += wall
    return [
        {
            "run_id": run_id,
            "partition_id": pid,
            "doc_count": c[0],
            "bytes": c[1],
            "wall_time_s": c[2],
            "config_fp": config_fp,
            "invocation_id": invocation_id,
        }
        for pid, c in sorted(by_pid.items())
    ]


def config_fingerprint(config: dict) -> str:
    """SHA-1 over the sorted config — cache/checkpoint invalidation key.

    Analog of the reference's config fingerprint in cache manifests
    (parallel.py:95-96: {dpi, pdf_engine, cache_version}).
    """
    blob = json.dumps(config, sort_keys=True, default=str).encode("utf-8")
    return hashlib.sha1(blob).hexdigest()
