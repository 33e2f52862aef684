"""Every catalog query must match its DuckDB oracle — the local clone
of the driver's t2 correctness gate (sf0.001 for speed; set
ORACLE_SF=0.01 to run at the driver's scale).

Tiered OUT of the default pytest run (round-14 verdict item 7): the
full suite had outgrown the driver's verify window (~59 min, and this
file's 100 full query+oracle replays were the biggest block), so the
driver's `pytest tests/` timed out at ~64% with zero failures — a
worse signal than a completed run without the duplicates. The driver
re-runs every query against its own DuckDB oracle each round anyway;
the in-repo full-catalog parity proof is `scripts/parity_sweep.py`
(committed per round as parity_sf001_rNN.json / parity_sf01_rNN.json)
or `ORACLE_PARITY=1 python -m pytest tests/test_oracle_parity.py`.

A small always-on smoke tier (``SMOKE``, a few seconds at sf0.001)
still runs in the default suite — one query per layer that most other
code feeds: the flagship model chain, MinHash-LSH dedup, the REST ingest
edge and the sentinel scrub/parse functions — so a gross parity break
does not pass a plain ``pytest tests/`` silently.
"""

from __future__ import annotations

import os

import pytest

from formula1_data_pipeline_spark.queries import CATALOG
from tests.oracle_compare import compare_query

SF_DIR = f"/root/testdata/sf{os.environ.get('ORACLE_SF', '0.001')}"

SMOKE = ("q43_final_f1", "q21_minhash_lsh", "q63_rest_ingest_path",
         "q09_sentinel_parse")


@pytest.mark.skipif(
    os.environ.get("ORACLE_PARITY", "") != "1",
    reason="full-catalog oracle parity duplicates the driver's own "
           "gate and scripts/parity_sweep.py; set ORACLE_PARITY=1 to "
           "run it here",
)
@pytest.mark.parametrize("name", sorted(CATALOG))
def test_query_matches_oracle(spark, name):
    res = compare_query(spark, name, SF_DIR)
    assert res["ok"], f"{name}: {res['detail']}"


@pytest.mark.parametrize("name", SMOKE)
def test_smoke_query_matches_oracle(spark, name):
    res = compare_query(spark, name, SF_DIR)
    assert res["ok"], f"{name}: {res['detail']}"
