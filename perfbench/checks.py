"""Output checks. Each reference is computed from the benchmark's own
inputs, never from the engine's output, and every mismatch is counted
as a failed operation."""

from __future__ import annotations

import os
import sqlite3

import numpy as np

from perfbench.common import Result

TOL = 1e-9


def fire_count(kind: str, test, seq) -> int:
    """Fires of one trigger rule over a key's values in event order:
    ``changed`` fires on every change; a comparison fires once when its
    condition becomes true and re-arms when it clears."""
    fires, prev, armed = 0, None, True
    for v in seq:
        if kind == "changed":
            fires += prev is None or v != prev
            prev = v
        elif test(v):
            fires += armed
            armed = False
        else:
            armed = True
    return fires


def check_values(res: Result, snapshot: list[dict], fired_log, keys, key, event_us, value, rules):
    """Per-key count, min, max and last of the values store, and each
    rule's fire count, against the accepted lines.

    ``rules`` holds (key index, kind, test) with kind ``changed`` or
    ``comparison``; the store logs each fire as (group, name, kind, value)."""
    order = np.argsort(event_us, kind="stable")
    key, value = key[order], value[order]
    got = {(s["group"], s["name"]): s for s in snapshot}
    res.fail("values_store.extra_keys", len(set(got) - {keys[k] for k in np.unique(key)}))
    for k in np.unique(key):
        seq = value[key == k]
        s = got.get(keys[k])
        want = (len(seq), seq.min(), seq.max(), seq[-1])
        ok = s is not None and s["n_updates"] == want[0] and all(
            s[c] is not None and abs(s[c] - w) <= TOL
            for c, w in zip(("min_value", "max_value", "last_value"), want[1:])
        )
        res.fail("values_store.key_mismatch", not ok)
    logged: dict[tuple, int] = {}
    for g, n, kind, _v in fired_log:
        logged[(g, n, kind)] = logged.get((g, n, kind), 0) + 1
    for k, kind, test in rules:
        want = fire_count(kind, test, value[key == k].tolist())
        res.fail("values_store.trigger_mismatch", logged.get((*keys[k], kind), 0) != want)


def check_db(res: Result, db_path: str, table: str, good_ids: np.ndarray, bad_ids: np.ndarray) -> int:
    """Every accepted line lands exactly once; no rejected line lands.
    Returns the number of rows in the table."""
    con = sqlite3.connect(db_path)
    try:
        ids = np.array([r[0] for r in con.execute(f'SELECT id FROM "{table}"')], dtype=np.int64)
    finally:
        con.close()
    uniq, counts = np.unique(ids, return_counts=True)
    res.fail("sinks.db.duplicate_rows", int((counts - 1).sum()))
    res.fail("sinks.db.missing_rows", int(np.setdiff1d(good_ids, uniq, assume_unique=True).size))
    res.fail("sinks.db.rejected_landed", int(np.intersect1d(bad_ids, uniq).size))
    return int(ids.size)


def part_files(directory: str) -> list[str]:
    """Part files a FileCollector wrote under ``directory``."""
    return [
        os.path.join(root, name)
        for root, _dirs, names in os.walk(directory)
        for name in names
        if name.startswith("part-")
    ]


def count_lines(directory: str) -> int:
    lines = 0
    for path in part_files(directory):
        with open(path, "rb") as fh:
            lines += sum(1 for _ in fh)
    return lines
