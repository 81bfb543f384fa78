"""Per-stage / per-partition build lineage + resume.

The Spark analog of the reference's checkpoint map
``Meta.snapshot{pageIndex, cursor, tableGroupIndex}`` flushed during full
sync (``manager/impl/FullPuller.java:120-165``): every build stage commits
a manifest recording its parameters hash, per-output-partition row counts
and metrics. A re-run with identical params skips committed stages
(idempotent resume, like the reference's resume-at-tableGroupIndex loop),
so an interrupted build never recomputes finished work.

Stage outputs themselves are deterministic functions of (input, params) —
no wall-clock/UUID in data paths — so a resumed build is row-identical
to an uninterrupted one (verified by tests/test_resume.py). Parquet file
bytes are not compared: the footer's per-column ``encodings`` order can
differ between JVM runs while every data page is identical.
"""

from __future__ import annotations

import hashlib
import json
import os
import time


def params_hash(params: dict) -> str:
    return hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]


def _manifest_path(index_dir: str, stage: str) -> str:
    return os.path.join(index_dir, "_lineage", f"stage_{stage}.json")


def stage_committed(index_dir: str, stage: str, phash: str) -> bool:
    p = _manifest_path(index_dir, stage)
    if not os.path.exists(p):
        return False
    try:
        with open(p) as f:
            m = json.load(f)
        return m.get("status") == "committed" and m.get("params_hash") == phash
    except (json.JSONDecodeError, OSError):
        return False


def commit_stage(
    index_dir: str,
    stage: str,
    phash: str,
    partitions: list[dict] | None = None,
    metrics: dict | None = None,
) -> None:
    """Atomically (write temp + rename) commit a stage manifest."""
    os.makedirs(os.path.join(index_dir, "_lineage"), exist_ok=True)
    p = _manifest_path(index_dir, stage)
    body = {
        "stage": stage,
        "status": "committed",
        "params_hash": phash,
        "partitions": partitions or [],
        "metrics": metrics or {},
        "committed_at": time.time(),  # metrics only — never in data paths
    }
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(body, f, indent=2)
    os.replace(tmp, p)


def read_manifest(index_dir: str, stage: str) -> dict | None:
    p = _manifest_path(index_dir, stage)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)
