"""Job bookmark: backup / checkpoint / resume.

Reference behavior (SURVEY.md §2.4 K7): a ``backup.json`` snapshot of
the config written at task start, per-model checkpoints of rows
written, `--continue-generation` validating the config against the
backup and resuming, conflict detection for dirty output dirs with
`--force` cleanup (reference usecase/general/backup/backup.go:11-86,
output/general/conflicts.go:25-195).

The Spark engine's resume is strictly cheaper than the reference's
sequential sequencer drain: generation is a pure function of the row
index, so write task ``t`` of ``P`` always writes the same files. The
checkpoint records ``P`` before the model's one write job, each task
leaves a mark when its files are written (``sinks/files.py``), and
``jobs.run_generate`` resumes by rerunning only the unmarked tasks in
append mode — no rescan, no replay. A checkpoint whose model directory
is empty or gone is stale: that model starts over.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
from typing import Any

BACKUP_FILE = "backup.json"


class ConflictError(RuntimeError):
    pass


def config_fingerprint(raw: dict[str, Any]) -> str:
    """Canonical-JSON sha256 of the config (stable across key order)."""
    blob = json.dumps(raw, sort_keys=True, separators=(",", ":"), default=str)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def backup_path(out_dir: str) -> str:
    return os.path.join(out_dir, BACKUP_FILE)


def save_backup(
    out_dir: str, raw: dict[str, Any], resolved_seed: int | None = None
) -> None:
    """``resolved_seed`` records the wall-clock seed an unseeded config
    resolved to, so --continue-generation resumes the same stream."""
    os.makedirs(out_dir, exist_ok=True)
    payload: dict[str, Any] = {"fingerprint": config_fingerprint(raw), "config": raw}
    if resolved_seed is not None:
        payload["resolved_seed"] = int(resolved_seed)
    with open(backup_path(out_dir), "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=2, default=str)


def load_backup(out_dir: str) -> dict[str, Any] | None:
    p = backup_path(out_dir)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as f:
        return json.load(f)


def config_diff(old: dict[str, Any], new: dict[str, Any], prefix: str = "") -> list[str]:
    """Human-readable recursive diff (reference backup/compare.go)."""
    diffs: list[str] = []
    keys = sorted(set(old) | set(new))
    for k in keys:
        path = f"{prefix}.{k}" if prefix else str(k)
        if k not in old:
            diffs.append(f"+ {path}")
        elif k not in new:
            diffs.append(f"- {path}")
        elif isinstance(old[k], dict) and isinstance(new[k], dict):
            diffs.extend(config_diff(old[k], new[k], path))
        elif old[k] != new[k]:
            diffs.append(f"~ {path}: {old[k]!r} -> {new[k]!r}")
    return diffs


def check_output_conflicts(out_dir: str, model_dirs: list[str]) -> list[str]:
    """Paths that would collide with this run's outputs."""
    hits = []
    if os.path.exists(backup_path(out_dir)):
        hits.append(backup_path(out_dir))
    for d in model_dirs:
        p = os.path.join(out_dir, d)
        if os.path.exists(p) and (os.path.isfile(p) or os.listdir(p)):
            hits.append(p)
    return hits


def clean_outputs(out_dir: str, model_dirs: list[str]) -> None:
    for d in model_dirs:
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(checkpoint_path(out_dir, d))
    with contextlib.suppress(FileNotFoundError):
        os.remove(backup_path(out_dir))


def checkpoint_path(out_dir: str, model_dir: str) -> str:
    return os.path.join(out_dir, f"{model_dir}.checkpoint")


def save_checkpoint(
    out_dir: str, model_dir: str, saved_rows: int, tasks: int | None = None
) -> None:
    """Save the per-model resume point (reference {model}.checkpoint,
    model_writer.go:120-164) atomically: ``saved_rows`` committed rows,
    and the task count of the write job under way over the rest."""
    p = checkpoint_path(out_dir, model_dir)
    tmp = p + ".tmp"
    payload = {"saved_rows": int(saved_rows)}
    if tasks is not None:
        payload["tasks"] = int(tasks)
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f)
    os.replace(tmp, p)


def load_checkpoint(out_dir: str, model_dir: str, key: str = "saved_rows") -> int | None:
    """A field of the model's checkpoint, or None without it."""
    p = checkpoint_path(out_dir, model_dir)
    try:
        with open(p, encoding="utf-8") as f:
            return int(json.load(f)[key])
    except (ValueError, KeyError, TypeError, OSError):
        return None
