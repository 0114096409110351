#!/usr/bin/env bash
# The documented mid-round verify loop (r12 verdict ask #7) — no
# env-var folklore, no artifact overwrites:
#
#   scripts/quick_verify.sh             # full-catalog loop, ~6 min
#   scripts/quick_verify.sh q1 q2 ...   # subset loop, <5 min
#
# Leg 0 — harness: the benchmark's and bench.py's own Spark-free tests,
#   and the AST-only driver-collect guard (seconds), so a broken
#   benchmark or streaming harness, or a new driver-side collect on the
#   merge path, surfaces first. Then the SQLite sink's tests (with
#   Spark, ~15 s), so a store-step regression surfaces before leg 1.
# Leg 1 — correctness: scripts/check_oracle.py (the judge-replica
#   Spark-vs-DuckDB gate at sf0.01; prints per-query wall seconds, so
#   gross perf regressions surface here too). Subset names are passed
#   straight through while iterating on specific queries.
# Leg 2 — performance: bench.py --quick [q1 q2 ...] (sf0.01 catalog —
#   or just the named queries — + sf0.1 re-timings of the prior
#   committed round's top-20 / the named subset; writes NO artifacts —
#   BENCH_DETAIL.json/BENCH_TAIL.json remain the committed round
#   record).
#
# The full official bench (175 queries at sf0.1 + isolated streaming
# sections + isolated top-10 sweep, ~25 min) remains `python bench.py`
# and is run once at round close.
set -euo pipefail
cd "$(dirname "$0")/.."
python3 -m pytest perfbench/tests tests/test_bench_harness.py tests/test_collect_guard.py -q
python3 -m pytest "tests/test_pipeline_streaming.py::TestDbSinks" tests/test_db_exactly_once.py -q
python scripts/check_oracle.py "$@"
python bench.py --quick "$@"
