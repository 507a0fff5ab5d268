"""Tests for the scaling-curve data generator (tools/gen_scale_data.py):
the 10x dataset must preserve schemas exactly, multiply fact rows by 10,
keep joins consistent across the key shifts, and keep per-copy token
spaces disjoint (the property that stops dedup workloads degenerating
into 10-way exact duplicates)."""

import importlib.util
import os

import pyarrow.parquet as pq
import pytest

from .conftest import SF_SMALL

_SPEC = importlib.util.spec_from_file_location(
    "gen_scale_data",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "gen_scale_data.py",
    ),
)
gen = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(gen)


@pytest.fixture(scope="module")
def scaled(tmp_path_factory, monkeypatch_module=None):
    out = str(tmp_path_factory.mktemp("sfscale"))
    import sys

    argv = sys.argv
    sys.argv = ["gen_scale_data.py", SF_SMALL, out]
    try:
        gen.main()
    finally:
        sys.argv = argv
    return out


def test_row_counts_and_schemas(scaled):
    for table in list(gen.SHIFT_COLS) + gen.COPY_AS_IS:
        src = pq.read_table(os.path.join(SF_SMALL, f"{table}.parquet"))
        dst = pq.read_table(os.path.join(scaled, f"{table}.parquet"))
        assert dst.schema.equals(src.schema), table
        factor = 1 if table in gen.COPY_AS_IS else gen.COPIES
        assert dst.num_rows == src.num_rows * factor, table


def test_joins_stay_consistent(scaled):
    ev = pq.read_table(os.path.join(scaled, "events.parquet"))
    cust = pq.read_table(os.path.join(scaled, "customer.parquet"))
    custkeys = set(cust["c_custkey"].to_pylist())
    users = set(ev["user_id"].to_pylist())
    assert users <= custkeys  # every shifted user still joins


def test_copy_token_spaces_disjoint(scaled):
    docs = pq.read_table(os.path.join(scaled, "documents.parquet"))
    n = docs.num_rows // gen.COPIES
    texts = docs["text"].to_pylist()
    words0 = set(texts[0].split())
    # the same document in copy 1 shares NO words with copy 0
    words1 = set(texts[n].split())
    assert texts[n] != texts[0]
    assert not (words0 & words1)
    # n_chars stays consistent with the rewritten text
    assert docs["n_chars"].to_pylist()[n] == len(texts[n])
