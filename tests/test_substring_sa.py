"""Edge cases of the direct suffix-array construction
(`plans/substring_sa._reps_direct`): each tiny corpus is written as its
own `documents.parquet` and the repeat-span table must equal, row for
row, a brute-force global suffix sort done in Python."""

from __future__ import annotations

import random

import pytest

from data_ingestion_auto_spark.plans.substring_sa import _T, _reps_direct


def _words(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    return [f"w{rng.randrange(10_000)}" for _ in range(n)]


def _brute_reps(docs) -> list[tuple[int, int, int, int]]:
    """(doc_id, i, rep_len, j) for every suffix start whose longest
    suffix-array neighbour match is ≥ _T tokens — the oracle's spec."""
    sufs = sorted(
        (w[i:], d, i)
        for d, text in docs
        if text is not None
        for w in [text.split(" ")]
        if len(w) >= _T
        for i in range(len(w) - _T + 1)
    )

    def lcp(a, b):
        n = 0
        while n < min(len(a), len(b)) and a[n] == b[n]:
            n += 1
        return n

    out = []
    for k, (s, d, i) in enumerate(sufs):
        rep = max(
            lcp(s, sufs[k - 1][0]) if k > 0 else 0,
            lcp(s, sufs[k + 1][0]) if k + 1 < len(sufs) else 0,
        )
        if rep >= _T:
            out.append((d, i, rep, i + rep - 1))
    return sorted(out)


_RUN = _words(1, 20)  # a 20-token run shared or repeated below
_OPEN = _words(2, _T)  # a common _T-token opening

CORPORA = {
    # 14 tokens of a repeated run: too short to start a suffix
    "shorter_than_T": [(1, " ".join(_RUN[:14])), (2, " ".join(_RUN + _words(3, 5))),
                       (3, " ".join(_words(12, 2) + _RUN))],
    # exactly _T tokens: one suffix, a proper prefix of doc 2's
    "exactly_T": [(1, " ".join(_RUN[:_T])), (2, " ".join(_words(4, 3) + _RUN))],
    # identical documents tie on every full suffix (order by doc_id, i)
    "identical_docs": [(1, " ".join(_words(5, 30))), (2, " ".join(_words(5, 30))),
                       (3, " ".join(_words(6, 25)))],
    # one document repeats the run inside itself; the periodic tail
    # makes the repeats overlap
    "self_overlap": [(1, " ".join(_words(7, 4) + _RUN + _words(8, 3) + _RUN)),
                     (2, " ".join(["a", "b", "c"] * 14))],
    # doc 1 ends on the run; doc 2 continues past it (shorter-is-prefix)
    "repeat_to_end": [(1, " ".join(_words(9, 6) + _RUN)),
                      (2, " ".join(_RUN + _words(10, 8)))],
    # every document opens with the same _T tokens: one block holds them
    "shared_opening": [(d, " ".join(_OPEN + _words(10 + d, d))) for d in range(1, 7)]
    + [(7, " ".join(_OPEN))],
    # empty and NULL text produce no suffixes and must not break the sort
    "empty_and_null": [(1, ""), (2, None), (3, " ".join(_RUN)),
                       (4, " ".join(_words(11, 2) + _RUN))],
}


@pytest.mark.parametrize("case", sorted(CORPORA))
def test_reps_direct_matches_brute_force_suffix_sort(spark, tmp_path, case):
    docs = CORPORA[case]
    spark.createDataFrame(docs, "doc_id bigint, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = sorted(tuple(r) for r in _reps_direct(spark, str(tmp_path)).collect())
    want = _brute_reps(docs)
    assert want, "every corpus holds at least one repeat"
    assert got == want
