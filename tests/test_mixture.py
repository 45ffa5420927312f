"""Weighted domain-mixture resampling (operators/mixture.py):
water-filling rate allocation plus the Spark keep projection. The
uniform no-budget case is oracle-pinned through cur5
(tests/test_suite_oracle.py); these tests pin the weighted/budgeted
generalization."""

from __future__ import annotations

import pytest

from inpe_queimadas_etl_spark.operators.mixture import (
    mixture_rates,
    mixture_resample,
)

SF0001 = "/root/testdata/sf0.001"


def test_rates_proportional_under_feasible_budget():
    """Budget below every source's capacity: expected kept tokens are
    exactly proportional to the weights."""
    tokens = {"web": 1000, "code": 1000, "books": 1000}
    w = {"web": 0.5, "code": 0.3, "books": 0.2}
    rates = mixture_rates(tokens, w, token_budget=100)
    assert rates == pytest.approx(
        {"web": 0.05, "code": 0.03, "books": 0.02}
    )


def test_water_filling_redistributes_saturated_share():
    """A source too small for its proportional share saturates at 1.0
    and the shortfall goes to the others by weight. Hand-computed:
    budget 900, weights 2:1, tokens web=1000 code=100 -> code's share
    (300) exceeds its 100 tokens, so code keeps all 100 and web gets
    the remaining 800 (rate 0.8)."""
    rates = mixture_rates(
        {"web": 1000, "code": 100},
        {"web": 2.0, "code": 1.0},
        token_budget=900,
    )
    assert rates == pytest.approx({"web": 0.8, "code": 1.0})


def test_default_budget_is_largest_exact_proportion():
    """No budget: the allocation is the largest one needing no
    upsampling — min_s T_s/w_s — so the scarcest-by-share source has
    rate exactly 1.0 (cur5's contract, generalized to weights)."""
    rates = mixture_rates(
        {"a": 900, "b": 300}, {"a": 0.5, "b": 0.5}
    )
    assert rates == pytest.approx({"a": 300 / 900, "b": 1.0})


def test_budget_above_total_keeps_everything():
    rates = mixture_rates(
        {"a": 10, "b": 20}, {"a": 0.5, "b": 0.5}, token_budget=10_000
    )
    assert rates == pytest.approx({"a": 1.0, "b": 1.0})


def test_unweighted_source_dropped_and_bad_inputs_raise():
    rates = mixture_rates(
        {"a": 100, "b": 100}, {"a": 1.0}, token_budget=50
    )
    assert rates == pytest.approx({"a": 0.5, "b": 0.0})
    with pytest.raises(ValueError, match="negative mixture weight"):
        mixture_rates({"a": 1}, {"a": -1.0})
    with pytest.raises(ValueError, match="no positive weight"):
        mixture_rates({"a": 1}, {"b": 1.0})
    with pytest.raises(ValueError, match="negative token_budget"):
        mixture_rates({"a": 1}, None, token_budget=-5)
    assert mixture_rates({}) == {}


def test_uniform_no_budget_matches_cur5(spark):
    """The operator with default arguments reproduces the
    oracle-pinned cur5 query row for row."""
    import pandas as pd

    from inpe_queimadas_etl_spark.session import load_table

    from .corpus_oracles import cur5_mixture_resample

    docs = load_table(spark, SF0001, "documents")
    got = (
        mixture_resample(docs)
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    want = (
        cur5_mixture_resample(spark, SF0001)
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)]
    )


def test_spark_budgeted_mixture_hits_target(spark):
    """End to end on the testdata corpus: a weighted budget lands
    kept token mass near each source's share, and the keep decision
    is stable under repartitioning (deterministic hash, not rand)."""
    import math

    from inpe_queimadas_etl_spark.session import load_table

    docs = load_table(spark, SF0001, "documents")
    sources = sorted(
        r["source"] for r in docs.select("source").distinct().collect()
    )
    w = {s: (2.0 if i % 2 == 0 else 1.0) for i, s in enumerate(sources)}
    out = mixture_resample(docs, weights=w, token_budget=5_000).toPandas()
    per = out.groupby("source").agg(
        rate=("keep_rate", "first"),
        kept=("n_tokens", lambda s: s[out.loc[s.index, "keep"]].sum()),
        total=("n_tokens", "sum"),
    )
    assert ((per["rate"] >= 0) & (per["rate"] <= 1.0)).all()
    wsum = sum(w.values())
    for src, row in per.iterrows():
        if row["rate"] >= 1.0:
            assert row["kept"] == row["total"]
            continue
        target = 5_000 * w[src] / wsum
        lens = out.loc[out["source"] == src, "n_tokens"]
        sigma = math.sqrt(row["rate"] * (1 - row["rate"]) * (lens**2).sum())
        assert abs(row["kept"] - target) <= 6 * sigma + lens.max(), (
            src,
            row,
            target,
        )
    # determinism under a different partitioning
    out2 = (
        mixture_resample(docs.repartition(7), weights=w, token_budget=5_000)
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    assert out.sort_values("doc_id", ignore_index=True).equals(out2)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:

    @settings(max_examples=200, deadline=None)
    @given(
        tokens=st.dictionaries(
            st.sampled_from([f"s{i}" for i in range(6)]),
            st.integers(min_value=1, max_value=10_000),
            min_size=1,
        ),
        weights=st.one_of(
            st.none(),
            st.dictionaries(
                st.sampled_from([f"s{i}" for i in range(6)]),
                # 0 (drop the source) or a sane magnitude: subnormal
                # weights lose mantissa bits to gradual underflow and
                # fail the 1e-9 proportionality check as pure float
                # noise, not as an allocation defect
                st.one_of(
                    st.just(0.0),
                    st.floats(
                        min_value=1e-6,
                        max_value=10.0,
                        allow_nan=False,
                        allow_infinity=False,
                    ),
                ),
                min_size=1,
            ),
        ),
        budget=st.one_of(
            st.none(), st.integers(min_value=0, max_value=100_000)
        ),
    )
    def test_water_filling_invariants(tokens, weights, budget):
        """For ANY inputs: rates in [0,1]; expected kept token mass
        equals the effective budget (min of requested budget, feasible
        allocation, and total weighted mass); unsaturated sources stay
        exactly weight-proportional to each other."""
        if weights is not None and not any(
            weights.get(s, 0) > 0 for s in tokens
        ):
            with pytest.raises(ValueError):
                mixture_rates(tokens, weights, budget)
            return
        rates = mixture_rates(tokens, weights, budget)
        assert set(rates) == set(tokens)
        assert all(0.0 <= r <= 1.0 + 1e-12 for r in rates.values())
        w = (
            {s: 1.0 for s in tokens}
            if weights is None
            else {s: float(weights.get(s, 0.0)) for s in tokens}
        )
        weighted = {s for s in tokens if w[s] > 0}
        total_weighted = sum(tokens[s] for s in weighted)
        wsum = sum(w.values())
        feasible = min(
            min(tokens[s] / w[s] for s in weighted) * wsum,
            float(total_weighted),
        )
        effective = (
            feasible
            if budget is None
            else min(float(budget), float(total_weighted))
        )
        kept = sum(rates[s] * tokens[s] for s in tokens)
        assert kept == pytest.approx(effective, rel=1e-9, abs=1e-6)
        # zero-weight sources are dropped entirely
        assert all(rates[s] == 0.0 for s in tokens if w[s] == 0)
        # unsaturated sources are mutually weight-proportional
        unsat = [
            s for s in weighted if rates[s] < 1.0 and rates[s] > 0.0
        ]
        shares = [rates[s] * tokens[s] / w[s] for s in unsat]
        for x in shares[1:]:
            assert x == pytest.approx(shares[0], rel=1e-9)


def test_non_string_weight_keys_match_stringified_sources(spark):
    """weights keyed by non-string values (e.g. an int source column)
    are stringified to match the rate join's key domain."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "source": [1, 1, 2, 2],
                "text": ["a b", "c d", "e f", "g h"],
            }
        )
    )
    out = mixture_resample(
        docs, weights={1: 3.0, 2: 1.0}, token_budget=4
    ).toPandas()
    per = out.groupby("source")["keep_rate"].first()
    assert per[1] == pytest.approx(0.75)
    assert per[2] == pytest.approx(0.25)


def test_temperature_weights_regimes():
    """alpha=0 -> uniform (the cur5 default), alpha=1 -> the natural
    mix, 0<alpha<1 -> flattened: scarce sources take a larger share
    than natural, dominant ones smaller."""
    from inpe_queimadas_etl_spark.operators.mixture import (
        temperature_weights,
    )

    tokens = {"big": 9000, "mid": 900, "small": 100}
    u = temperature_weights(tokens, 0.0)
    assert u == {"big": 1.0, "mid": 1.0, "small": 1.0}
    nat = temperature_weights(tokens, 1.0)
    assert nat["big"] == 0.9 and nat["small"] == 0.01
    flat = temperature_weights(tokens, 0.5)
    # flattening: weight RATIO small/big exceeds the natural ratio
    assert flat["small"] / flat["big"] > nat["small"] / nat["big"]
    # but ordering is preserved
    assert flat["big"] > flat["mid"] > flat["small"]
    # sharpening goes the other way
    sharp = temperature_weights(tokens, 2.0)
    assert sharp["small"] / sharp["big"] < nat["small"] / nat["big"]


def test_temperature_weights_property():
    """Hypothesis: rates from temperature weights are valid for any
    corpus shape, and expected kept tokens are proportional to the
    temperature weights wherever no source saturates."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from inpe_queimadas_etl_spark.operators.mixture import (
        mixture_rates,
        temperature_weights,
    )

    @settings(max_examples=80, deadline=None)
    @given(
        tokens=st.dictionaries(
            st.text(st.characters(codec="ascii"), min_size=1, max_size=4),
            st.integers(1, 10**7),
            min_size=1,
            max_size=6,
        ),
        alpha=st.floats(0.0, 3.0, allow_nan=False),
    )
    def run(tokens, alpha):
        w = temperature_weights(tokens, alpha)
        rates = mixture_rates(tokens, w)
        assert all(0.0 <= r <= 1.0 for r in rates.values())
        # sources with positive mass and a NON-VANISHING weight keep
        # a positive share. Found by hypothesis: at alpha=3 a 1-token
        # source next to a 2^18-token one gets weight share^3 ~ 6e-17
        # — its target allocation (~1e-11 tokens) sits below the
        # water-filling's float granularity, and a 0.0 rate is
        # semantically identical to the 1e-11 it rounds from.
        wsum = sum(w.values())
        assert all(
            rates[s] > 0
            for s, t in tokens.items()
            if t > 0 and w[s] / wsum > 1e-12
        )
        unsat = {s for s, r in rates.items() if r < 1.0}
        if len(unsat) >= 2:
            # kept_s / kept_t == w_s / w_t for two unsaturated sources
            a, b = sorted(unsat)[:2]
            ka = rates[a] * tokens[a]
            kb = rates[b] * tokens[b]
            assert ka * w[b] == pytest.approx(kb * w[a], rel=1e-9)

    run()


def test_mixture_resample_temperature_kwarg(spark):
    """temperature= derives the weight vector from observed masses;
    passing both weights and temperature is refused."""
    import pandas as pd

    from inpe_queimadas_etl_spark.operators.mixture import (
        mixture_resample,
    )

    rows = []
    for i in range(40):
        rows.append((i, "big", "w " * 50))
    for i in range(40, 44):
        rows.append((i, "small", "w " * 50))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    )
    out = mixture_resample(docs, temperature=0.5).toPandas()
    kept = out[out["keep"]].groupby("source").size()
    # the scarce source keeps everything (saturates); the dominant
    # one is downsampled toward the flattened mix
    assert kept.get("small", 0) == 4
    assert kept["big"] < 40
    with pytest.raises(ValueError, match="not both"):
        mixture_resample(docs, weights={"big": 1}, temperature=0.5)
