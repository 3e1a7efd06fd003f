"""Per-query content fingerprints for the driver rotation.

Problem (round-8 verdict, top item): the driver samples ~50 of the 237
registered queries per round; the rotation prioritized failures and
least-recently-checked names, so a query whose IMPLEMENTATION changed
could keep a green board row that certifies code that no longer exists
(the round-8 ranking rewrites sat on r04–r07 rows). The fix is a
content fingerprint per query: hash of the build function's source +
the oracle SQL, stamped with the round in which that fingerprint first
appeared (``REGISTRY_FINGERPRINTS.json`` at the repo root). The
rotation sorts queries whose stamped round is NEWER than their last
driver row into the priority tier alongside failures, so a rewrite is
re-proved the round after it lands.

Maintenance protocol (pinned by tests/test_registry_fingerprints.py):
whenever a build function or oracle changes, the test fails until
``python -m supplier_performance_data_pipeline_spark.plans.fingerprints``
is re-run, which re-stamps changed entries with the CURRENT round
(max CORRECTNESS_r*.json round + 1 — i.e. the round being built).
Limitation, documented on purpose: the hash covers the build
function's own source, not helper modules it calls; a helper-only
change (e.g. an operators/ rewrite behind an unchanged call site)
must be hand-bumped by editing the stamped round — the price of not
invalidating all 237 queries on every shared-helper edit.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import re

REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
FINGERPRINT_FILE = os.path.join(REPO_ROOT, "REGISTRY_FINGERPRINTS.json")


def _build_source(fn) -> str:
    # Factory-made builds share their factory's source: a factory edit
    # correctly flags every query it produced. Fall back to bytecode
    # when source is unavailable (still deterministic per build).
    try:
        return inspect.getsource(fn)
    except (OSError, TypeError):
        return fn.__code__.co_code.hex()


def compute_fingerprints(specs) -> dict[str, str]:
    """name -> 16-hex content fingerprint (build source + oracle)."""
    out: dict[str, str] = {}
    for name, spec in specs.items():
        blob = _build_source(spec.builder) + "\x00" + (spec.oracle or "")
        out[name] = hashlib.sha256(blob.encode()).hexdigest()[:16]
    return out


def current_round(root: str = REPO_ROOT) -> int:
    """The round being BUILT: one past the newest driver correctness
    record (CORRECTNESS_r{N}.json is written at round N's end)."""
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return (max(rounds) if rounds else 0) + 1


def load_stamped(path: str = FINGERPRINT_FILE) -> dict[str, dict]:
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}
    return data if isinstance(data, dict) else {}


def modified_round(name: str, stamped: dict[str, dict]) -> int:
    """Round the query's fingerprint was last stamped (0 = unknown)."""
    row = stamped.get(name)
    if isinstance(row, dict):
        try:
            return int(row.get("round", 0))
        except (TypeError, ValueError):
            return 0
    return 0


def refresh(path: str = FINGERPRINT_FILE) -> dict[str, dict]:
    """Re-stamp: new/changed fingerprints get the current round,
    unchanged entries keep their stamp, unregistered names drop."""
    from supplier_performance_data_pipeline_spark.plans.registry import (
        load_all,
    )

    specs = load_all()
    live = compute_fingerprints(specs)
    stamped = load_stamped(path)
    rnd = current_round()
    out = {}
    for name in sorted(live):
        old = stamped.get(name)
        if isinstance(old, dict) and old.get("fp") == live[name]:
            out[name] = old
        else:
            out[name] = {"fp": live[name], "round": rnd}
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return out


if __name__ == "__main__":
    rows = refresh()
    rnd = current_round()
    changed = [n for n, r in rows.items() if r["round"] == rnd]
    print(f"stamped {len(rows)} queries; round-{rnd} entries: {changed}")
