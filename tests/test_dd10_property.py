"""Property test for dd10 (unaligned duplicate spans): the whole
distributed pipeline — stride-1 window fingerprints, repeat
detection, gaps-and-islands merge — must equal a direct pure-Python
mirror on random small-vocabulary corpora (tiny vocab forces heavy,
messy overlaps: nested repeats, adjacent islands, whole-doc dups —
the cases a planted test can't enumerate)."""

from __future__ import annotations

from collections import Counter

import pandas as pd
from hypothesis import given, settings, strategies as st

from inpe_queimadas_etl_spark.corpus_ops import duplicate_spans

WIN = 4
VOCAB = ["aa", "bb", "cc"]


def _mirror(docs: list[list[str]], win: int) -> set[tuple]:
    """(doc_id, span_start, span_end, span_tokens, n_windows) via the
    direct definition: window strings counted globally, positions of
    repeated windows merged while pos <= running span end."""
    wins = {
        did: [
            " ".join(toks[i : i + win])
            for i in range(len(toks) - win + 1)
        ]
        for did, toks in enumerate(docs)
        if len(toks) >= win
    }
    cnt = Counter(w for ws in wins.values() for w in ws)
    out = set()
    for did, ws in wins.items():
        spans: list[list[int]] = []  # [start, end, n_windows]
        for p in (i for i, w in enumerate(ws) if cnt[w] >= 2):
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + win)
                spans[-1][2] += 1
            else:
                spans.append([p, p + win, 1])
        for s, e, nw in spans:
            out.add((did, s, e, e - s, nw))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(VOCAB), min_size=1, max_size=24),
        min_size=2,
        max_size=8,
    )
)
def test_dd10_equals_python_mirror(spark, docs):
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [" ".join(t) for t in docs],
        }
    )
    sdf = spark.createDataFrame(pdf)
    got = {
        (
            r["doc_id"],
            r["span_start"],
            r["span_end"],
            r["span_tokens"],
            r["n_windows"],
        )
        for r in duplicate_spans(sdf, win=WIN).collect()
    }
    assert got == _mirror(docs, WIN)
