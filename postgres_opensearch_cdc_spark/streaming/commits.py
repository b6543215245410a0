"""The ``_commits/`` manifest log every versioned store publishes through.

A store keeps immutable data dirs under ``<path>/data/`` and makes each
new version visible with ONE manifest file::

    <path>/_commits/v<%08d>.json

Readers resolve the highest-numbered manifest and never list data dirs,
so a crash anywhere before the manifest lands leaves orphan data no
reader sees. The manifest's content is the store's own; this module
owns only the fields of the protocol itself:

* ``version`` — 1, 2, 3, … in file-name order;
* ``batch_id`` / ``writer_id`` — the foreachBatch exactly-once key: a
  streaming query's batch ids restart per checkpoint, so a replay is
  recognized only by the (writer, batch) pair Spark documents as the
  dedup key.

Publication is write-temp + ``os.replace`` (atomic on POSIX; a single
object PUT on S3/GCS). Temp files start with ``.`` and never match a
manifest name.
"""

from __future__ import annotations

import json
import os
import shutil


def _name(version: int) -> str:
    return f"v{version:08d}.json"


def manifest_names(commits_dir: str) -> list[str]:
    """Committed manifest file names, oldest first."""
    if not os.path.isdir(commits_dir):
        return []
    return sorted(
        f for f in os.listdir(commits_dir)
        if f.startswith("v") and f.endswith(".json")
    )


def _read(commits_dir: str, name: str) -> dict:
    with open(os.path.join(commits_dir, name)) as fh:
        return json.load(fh)


def load(commits_dir: str, version: "int | None" = None) -> dict | None:
    """The latest manifest (None before the first commit), or the one
    at ``version`` — FileNotFoundError, listing what IS available, when
    that version was never committed or has been vacuumed."""
    names = manifest_names(commits_dir)
    if not names:
        return None
    if version is None:
        return _read(commits_dir, names[-1])
    if _name(version) not in names:
        raise FileNotFoundError(
            f"no committed version {version} under "
            f"{os.path.dirname(commits_dir)} "
            f"(available: {[int(n[1:-5]) for n in names]})"
        )
    return _read(commits_dir, _name(version))


def is_replay(manifest: dict | None, batch_id: int,
              writer_id: str | None) -> bool:
    """Whether (``writer_id``, ``batch_id``) is the batch ``manifest``
    already committed. Negative batch ids mark one-off writes (bulk,
    restore) that are never replays."""
    return (
        manifest is not None
        and batch_id >= 0
        and manifest.get("batch_id") == batch_id
        and manifest.get("writer_id") == writer_id
    )


def next_version(manifest: dict | None) -> int:
    return (manifest["version"] + 1) if manifest else 1


def publish(commits_dir: str, manifest: dict) -> None:
    """Commit ``manifest`` as version ``manifest["version"]`` — the
    store's commit point."""
    os.makedirs(commits_dir, exist_ok=True)
    name = _name(manifest["version"])
    tmp = os.path.join(commits_dir, f".tmp-{name}")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(commits_dir, name))


def prune(commits_dir: str, keep_versions: int) -> list[dict]:
    """Delete every manifest but the last ``keep_versions`` and return
    the kept ones. Manifests go FIRST, before any data, so a crash
    mid-vacuum can't leave a manifest referencing deleted data.

    ``keep_versions`` must be >= 1: a store with zero committed
    manifests is unreadable, so vacuuming down to nothing is never a
    maintenance operation."""
    if keep_versions < 1:
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    names = manifest_names(commits_dir)
    keep = names[-keep_versions:]
    for n in names[: len(names) - len(keep)]:
        os.remove(os.path.join(commits_dir, n))
    return [_read(commits_dir, n) for n in keep]


def remove_unreferenced(data_dir: str, live: set[str]) -> int:
    """Delete every ``commit-*`` dir under ``data_dir`` not in ``live``;
    returns how many were removed."""
    removed = 0
    if os.path.isdir(data_dir):
        for e in os.listdir(data_dir):
            if e.startswith("commit-") and e not in live:
                shutil.rmtree(os.path.join(data_dir, e))
                removed += 1
    return removed
