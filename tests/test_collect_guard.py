"""Regression guard: no driver-side materialization creeps into query paths.

`.collect()` / `.toPandas()` / `.toLocalIterator()` / `.toArrow()` in an
operator or query path means the operator isn't distributed — at 100 TB
it's a driver OOM or a serial bottleneck. The engine's only legitimate uses
are bounded, reviewed driver-side reductions, each allowlisted below
with why it's bounded. Adding a new collect anywhere else in
`dcafs_spark/` turns this test red; extend the allowlist only with a
boundedness argument in the comment.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "dcafs_spark"

CALLS = {"collect", "toPandas", "toLocalIterator", "toArrow"}

# (relative file, enclosing function) -> why the collect is bounded
ALLOWED = {
    # per-batch rtval deltas: one row per key; ruled keys carry their
    # batch sequence. #keys is config-bounded (max_keys)
    ("streaming/values_store.py", "merge_batch"),
    ("streaming/values_store.py", "merge_text_batch"),
    # geofence transitions + boundary rows: O(#crossings + #partitions)
    ("operators/waypoint.py", "process_batch"),
    # k-means: k seed vectors (TakeOrdered) and k×dim centroid matrices
    ("operators/similarity.py", "kmeans_train"),
    # euclidean variant (PQ codebooks): same bounded k×dim traffic
    ("operators/similarity.py", "kmeans_train_l2"),
    # fused PQ trainer: k seed vectors + m×k mean rows per iteration —
    # the whole codebook is an 8 KiB driver-side constant by design
    ("operators/similarity.py", "train_pq"),
    # dominant-stratum prefilter statistics: one (value, count) row per
    # stratum — strata are languages/sources, a bounded domain; callers
    # with immutable inputs cache via the stratum_counts= seam
    ("operators/sampling.py", "compute_stratum_counts"),
    # SQLite sink ships rows out by design: one toArrow per micro-batch,
    # which the source's maxFilesPerTrigger bounds; Python rows are
    # built FLUSH_ROWS (10k) at a time
    ("sinks/db.py", "write_batch"),
    # telnet session push: limit(max_push_lines) caps the transfer — an
    # interactive terminal reads a bounded window, never the batch
    ("telnet.py", "_push_batch"),
    # telnet DataFrame reply: limit(max_rows+1) before collect
    ("telnet.py", "_render"),
    # IVF-PQ index build: 8 centroid rows — driver-side index state,
    # same bounded class as kmeans_train/train_pq
    ("queries.py", "q_similarity_ivfpq"),
    # identical bounded 8-row centroid build (residual IVFADC)
    ("queries.py", "q_similarity_ivfpq_residual"),
    # same bounded 8-row centroid index build (cluster-balanced quota)
    ("queries.py", "q_cluster_balanced_sample"),
    # LR trainer: one (n_buckets+2)-double gradient row per GD
    # iteration + a 2-value class-count row — the treeAggregate class
    ("operators/textan.py", "train_quality_lr"),
    # admin:gc — Python's gc.collect(), not a DataFrame materialization
    ("engine.py", "_admin_command"),
    # pf:debug — runs ONE literal sample line through a sub-path and
    # collects the single-row result for the telnet-style reply
    ("engine.py", "_pf_debug"),
}


def _enclosing_functions(tree):
    """Map every node to its enclosing function name chain."""
    spans = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            spans.append((node.lineno, node.end_lineno, node.name))
    return spans


def test_no_unapproved_driver_collect():
    violations = []
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG))
        tree = ast.parse(py.read_text())
        spans = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in CALLS
            ):
                # innermost enclosing function = matching span starting latest
                inner = [s for s in spans if s[0] <= node.lineno <= (s[1] or s[0])]
                fn = max(inner, key=lambda s: s[0])[2] if inner else None
                if (rel, fn) not in ALLOWED:
                    violations.append(f"{rel}:{node.lineno} in {fn}(): .{node.func.attr}()")
    assert not violations, "unapproved driver-side materialization:\n" + "\n".join(violations)


def test_allowlist_entries_still_exist():
    # prune stale allowlist rows so the guard stays meaningful
    stale = []
    for rel, fn in ALLOWED:
        path = PKG / rel
        if not path.exists():
            stale.append(f"{rel} missing")
            continue
        tree = ast.parse(path.read_text())
        names = {
            n.name
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        if fn not in names:
            stale.append(f"{rel}:{fn} gone")
    assert not stale, "stale allowlist entries: " + ", ".join(stale)
