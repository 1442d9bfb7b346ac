#!/bin/sh
# Pre-commit gate (VERDICT r04 #2): the round-4 regression was a
# snapshot commit that pushed oracle-less queries into the driver
# prefix 8 minutes before round end, untested. These contract checks
# (doc counts, oracle coverage, and the source guard that keeps
# streaming/ opening stored state through meta_io.open_parquet) run
# in ~2 s — run them before ANY commit touching __spark_entry__.py;
# run the full suite (pytest tests/ -q) before the end-of-round
# snapshot.
#
# Usage:  sh tools/gate.sh          # fast contract gate
#         sh tools/gate.sh full     # entire suite (~15 min)
set -e
cd "$(dirname "$0")/.."
if [ "$1" = "full" ]; then
    exec python -m pytest tests/ -q
fi
python tools/update_counts.py --check
exec python -m pytest tests/test_doc_counts.py tests/test_source_guard.py \
    "tests/test_oracle_parity.py::test_every_query_has_oracle_or_is_flagged" -q
