"""Unit tests for the benchmark's inputs and checks: the seeded subset of
the fixture tables, the query -> module map and the float comparison with
the DuckDB twins. They need no Spark session:

    python -m pytest fdibench/tests -q
"""

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import workloads  # noqa: E402

TABLES = sorted(inputs.PRIMARY_ID)


@pytest.fixture(scope="module")
def derived(tmp_path_factory):
    out = {}
    for seed in (1, 2):
        d = tmp_path_factory.mktemp(f"seed{seed}")
        out[seed] = (str(d), inputs.write_tables(str(d), seed, TABLES))
    out["again"] = inputs.write_tables(str(tmp_path_factory.mktemp("again")), 1, TABLES)
    return out


def _read(d, name):
    return pq.read_table(os.path.join(d, f"{name}.parquet"))


@pytest.mark.parametrize("name", TABLES)
def test_subset_keeps_the_fixture_schema(derived, name):
    fixture = _read(inputs.FIXTURE_DIR, name)
    got = _read(derived[1][0], name)
    assert got.schema.equals(fixture.schema, check_metadata=True)
    # the parquet logical types too (events.ts keeps the fixture's unit)
    want_pq = pq.ParquetFile(os.path.join(inputs.FIXTURE_DIR, f"{name}.parquet")).schema
    got_pq = pq.ParquetFile(os.path.join(derived[1][0], f"{name}.parquet")).schema
    assert got_pq.equals(want_pq)


@pytest.mark.parametrize("name", TABLES)
def test_subset_is_about_ninety_percent_and_seeded(derived, name):
    n = _read(inputs.FIXTURE_DIR, name).num_rows
    rows1 = derived[1][1][name]
    assert 0.85 * n <= rows1 <= 0.95 * n
    assert derived["again"][name] == rows1
    key = inputs.PRIMARY_ID[name]
    ids1 = _read(derived[1][0], name).column(key).to_pylist()
    ids2 = _read(derived[2][0], name).column(key).to_pylist()
    assert ids1 != ids2
    assert ids1 == sorted(ids1)  # rows keep the fixture's order


def test_keep_mask_depends_only_on_seed_and_id():
    ids = np.arange(1000, dtype=np.int64)
    m = inputs.keep_mask(7, ids)
    assert (inputs.keep_mask(7, ids[::-1]) == m[::-1]).all()
    assert not (inputs.keep_mask(8, ids) == m).all()


def test_every_module_has_a_query_and_every_query_a_workload():
    mixed = [q for spec in workloads.WORKLOADS.values() for q in spec["queries"]]
    assert sorted(mixed) == sorted(workloads.QUERY_MODULE)
    assert len(workloads.MODULES) == 18
    assert set(workloads.ROWS_ONLY) <= set(mixed)


def test_oracle_rows_match_one_rounding_step_apart_only():
    import verify

    assert verify.same(63.982813, 63.982812)
    assert verify.same(-0.000001, 0.0)
    assert not verify.same(63.982814, 63.982812)
    assert not verify.same(1.0, 2.0)
    assert not verify.same("a", "b") and verify.same(None, None)
