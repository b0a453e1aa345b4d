"""Model-based test of the capped-index write contract
(operators/layout.py::write_capped_index) through both of its writers,
the band index and the CDC chunk index.

One fixed sequence of overwrites and appends covers every rule of the
contract: a key already at its cap, a key absent from the index, a
re-ingested batch, rows repeated within a batch, an empty batch, and
ties broken by id. After each write the stored (key, id) multiset must
equal a pure-Python model of the contract.
"""

from __future__ import annotations

from collections import Counter

import pytest

from data_ingestion_auto_spark.operators import cdc_index as C
from data_ingestion_auto_spark.operators import dedup as D

CAP = 3


def _band(spark, table, rows, mode, path):
    D.write_band_index(
        spark.createDataFrame(
            [(i, k, f"h{k}") for k, i in rows], "doc_id long, band int, band_hash string"
        ),
        table, buckets=4, max_bucket=CAP, mode=mode, path=path,
    )
    return Counter((r.band, r.doc_id) for r in spark.table(table).collect())


def _chunks(spark, table, rows, mode, path):
    C.write_chunk_index(
        None, table, buckets=4, max_per_chunk=CAP, mode=mode, path=path,
        chunks=spark.createDataFrame(
            [(i, f"c{k}", k + 1) for k, i in rows],
            "doc_id long, chash string, n_tokens long",
        ),
    )
    return Counter((int(r.chash[1:]), r.doc_id) for r in spark.table(table).collect())


def _model(stored: Counter, rows: list[tuple[int, int]], mode: str) -> Counter:
    """Each (key, id) at most once; per key, earlier writes keep their
    rows and the batch's smallest fresh ids fill what is left of CAP."""
    out = Counter() if mode == "overwrite" else Counter(stored)
    for key in {k for k, _ in rows}:
        held = {i for k, i in out if k == key}
        fresh = sorted({i for k, i in rows if k == key} - held)
        out.update((key, i) for i in fresh[: max(0, CAP - len(held))])
    return out


# (mode, [(key, id), ...]) — applied in order to one table
_SEQUENCE = [
    # key 0 over cap with ties broken by id, repeats of (0, 1) and (1, 7)
    ("overwrite", [(0, 5), (0, 1), (0, 3), (0, 2), (0, 1), (1, 7), (1, 7)]),
    # key 0 is at cap (id 0 loses to earlier ingests); key 2 is absent
    # from the index and over cap with a repeat; key 1 re-ingests 7
    ("append", [(0, 0), (0, 4), (2, 9), (2, 8), (2, 8), (2, 10), (2, 11), (1, 7), (1, 6), (1, 6)]),
    # the same batch again: a no-op
    ("append", [(0, 0), (0, 4), (2, 9), (2, 8), (2, 8), (2, 10), (2, 11), (1, 7), (1, 6), (1, 6)]),
    # an empty batch: a no-op
    ("append", []),
    # key 1 has one slot left for the smallest fresh id; key 3 is new
    ("append", [(1, 20), (1, 15), (1, 15), (1, 21), (3, 3), (3, 3)]),
    # overwrite replaces everything
    ("overwrite", [(0, 2), (0, 2), (4, 1)]),
]


@pytest.mark.parametrize("write", [_band, _chunks], ids=["band", "cdc"])
def test_capped_writes_follow_the_model(spark, tmp_path, write):
    table = f"t_capped_model_{write.__name__[1:]}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    want = Counter()
    for step, (mode, rows) in enumerate(_SEQUENCE):
        want = _model(want, rows, mode)
        got = write(spark, table, rows, mode, str(tmp_path / table))
        assert got == want, (step, sorted(got.elements()), sorted(want.elements()))
        if step == 4:  # the model itself, checked by hand once
            assert sorted(want.elements()) == [
                (0, 1), (0, 2), (0, 3), (1, 6), (1, 7), (1, 15),
                (2, 8), (2, 9), (2, 10), (3, 3),
            ]
