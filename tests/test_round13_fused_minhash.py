"""The fused ``minhash_signatures_and_sets`` stage, pinned row for row
(band hashes, nibble sketches, shingle-hash sets) against the
pure-Python reference ``py_minhash_rows`` of tests/test_round10_ops.py."""

from __future__ import annotations

import pytest

from orca_ztbus_python_processor_spark.operators.dedup import (
    minhash_signatures_and_sets,
)
from orca_ztbus_python_processor_spark.workloads.pipelineops import _docs

from tests.test_round10_ops import fused_rows, py_minhash_rows

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return _docs(spark, SF_DIR)


def test_fused_matches_split_stages(docs):
    """Every fixture document, against the reference."""
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    assert fused_rows(minhash_signatures_and_sets(docs)) == py_minhash_rows(rows)


def test_fused_edge_texts(spark):
    # empty and NULL texts emit no row; text shorter than k takes the
    # whole-text window; non-ASCII splits the byte windows (utf-8,
    # signatures) from the code-point windows (utf-32, sets).
    rows = [(1, ""), (2, "ab"), (3, "héllo wörld"), (4, "aaaaaaa"), (5, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = fused_rows(minhash_signatures_and_sets(docs))
    assert got == py_minhash_rows(rows)
    assert set(got) == {2, 3, 4}
