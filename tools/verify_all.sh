#!/usr/bin/env bash
# One-command verification: replicates every gate the driver runs.
#   tests    — full pytest suite (includes per-query oracle diff at sf0.001)
#   serving  — the read_window and GET /api/data payload and date tests,
#              the Arrow-vs-DataFrame put equivalence tests (fixed and
#              generated batches), the mixed-writer store test, the
#              POST decoder's differential test and the Arrow put's job
#              budget, again under a non-UTC TZ (dates are parsed,
#              formatted and partitions keyed from epoch instants, so
#              the host zone must not change a byte or move a
#              partition)
#   gate     — tools/diffcheck.py at sf0.01 (the driver's correctness pass),
#              repeated under a non-UTC TZ (driver env may differ)
#   contract — fresh-process __spark_entry__ smoke (plain SparkSession)
#   bench    — bench.py JSON line at sf0.001 (fast smoke; sf0.1 for numbers)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q

echo "== serving payload and put front-end tests (TZ=America/New_York) =="
TZ=America/New_York python -m pytest -q tests/test_tsdb_golden.py \
  tests/test_store_put.py::test_arrow_and_dataframe_fronts_store_the_same \
  tests/test_store_put.py::test_fronts_agree_on_generated_put_sequences \
  tests/test_store_put.py::test_mixed_writer_store \
  tests/test_store_put.py::test_put_job_budget_arrow \
  tests/test_api.py::test_iso_dates_match_isoformat \
  tests/test_api.py::test_post_fast_decoder_matches_the_loop \
  tests/test_api.py::test_data_body_matches_json_dumps \
  tests/test_api.py::test_data_roundtrip tests/test_api.py::test_data_auto_fidelity

echo "== oracle gate (sf0.01, UTC) =="
python tools/diffcheck.py /root/testdata/sf0.01

echo "== oracle gate (sf0.01, TZ=America/New_York) =="
TZ=America/New_York python tools/diffcheck.py /root/testdata/sf0.01

echo "== driver contract =="
python - <<'PY'
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[8]").getOrCreate()
import __spark_entry__ as e
rows = e.entry(spark).collect()
qs, osql = e.queries(), e.oracle_sql()
assert len(rows) > 0 and set(osql) <= set(qs)
print(f"entry rows={len(rows)} queries={len(qs)} oracles={len(osql)}")
PY

echo "== bench smoke (sf0.001) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python bench.py 2>/dev/null | tail -1
echo "ALL VERIFICATION PASSED"
