"""BPE tokenization (operators/bpe.py, tx9): the documented
no-SQL-oracle exception — pinned instead by the paper's worked
example, a training-order replay equivalence, the reconstruction
invariant, and Spark/pure-Python parity."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from inpe_queimadas_etl_spark.operators.bpe import (
    _END,
    bpe_token_stats,
    corpus_word_counts,
    encode_word,
    train_bpe,
)

SF0001 = "/root/testdata/sf0.001"


def test_paper_worked_example():
    """Sennrich et al.'s vocabulary {low:5, lower:2, newest:6,
    widest:3}: the highest-frequency pairs merge first, count ties
    break lexicographically."""
    counts = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = train_bpe(counts, 6)
    assert merges[:6] == [
        # e-s / s-t / t-</w> all occur 9 times -> lex order
        ("e", "s"),
        ("es", "t"),
        ("est", "</w>"),
        # l-o and o-w occur 7 times (low + lower) -> lex order
        ("l", "o"),
        ("lo", "w"),
        # n-e / e-w / w-est</w> all occur 6 times (newest) -> lex
        ("e", "w"),
    ]


def test_encode_matches_training_replay():
    """GPT-2-style lowest-rank-first application == replaying the
    training merges in learned order (the equivalence encode_word
    relies on), checked on every word of a random corpus."""
    rng = random.Random(7)
    alphabet = "abcdef"
    words = {
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 9)))
        for _ in range(120)
    }
    counts = [(w, rng.randrange(1, 50)) for w in sorted(words)]
    merges = train_bpe(counts, 60)
    ranks = {p: i for i, p in enumerate(merges)}

    def replay(word: str) -> list[str]:
        syms = list(word) + [_END]
        for a, b in merges:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [a + b]
                else:
                    i += 1
        return syms

    for w, _ in counts:
        assert encode_word(w, ranks) == replay(w), w


def test_reconstruction_invariant():
    """Concatenating a word's subword tokens reproduces the word (plus
    the terminal marker) — for trained words AND unseen words."""
    counts = [("banana", 9), ("bandana", 4), ("anagram", 2)]
    ranks = {p: i for i, p in enumerate(train_bpe(counts, 20))}
    for w in ("banana", "bandana", "anagram", "unseen", "nab", "x"):
        assert "".join(encode_word(w, ranks)) == w + _END


def test_singleton_pairs_never_merge():
    """Merging a pair that occurs once adds vocab without compression;
    training stops instead (the < 2 guard)."""
    merges = train_bpe([("abc", 1)], 10)
    assert merges == []


def test_spark_parity_and_compression(spark):
    """bpe_token_stats == the pure-Python encoder on every row, and a
    corpus dominated by few words compresses (multi-char merges)."""
    texts = {
        0: "the cat sat on the mat",
        1: "the cats sat on the mats",
        2: "cat mat the cat",
        3: "",
    }
    pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    docs = spark.createDataFrame(pdf)
    counts = corpus_word_counts(docs, top_k=100)
    # TakeOrdered contract: count desc, word asc
    assert counts == sorted(counts, key=lambda wc: (-wc[1], wc[0]))
    merges = train_bpe(counts, 50)
    ranks = {p: i for i, p in enumerate(merges)}
    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"], r["compression"])
        for r in bpe_token_stats(docs, merges).collect()
    }
    for d, t in texts.items():
        ws = [w for w in t.split(" ") if w]
        bpe = sum(len(encode_word(w, ranks)) for w in ws)
        assert got[d][0] == len(ws)
        assert got[d][1] == bpe
        if bpe:
            assert got[d][2] == pytest.approx(round(len(ws) / bpe, 4))
    # "the" (freq 5) must have fully merged into one token
    assert len(encode_word("the", ranks)) == 1
    # empty doc: 0 tokens, null compression
    assert got[3][0] == 0 and got[3][1] == 0
    assert got[3][2] is None or got[3][2] != got[3][2]


def _tx9_bpe_tokenize(spark):
    """BPE accounting over the testdata documents at the demo geometry:
    trained on the top-2000-word table, 200 merges."""
    from inpe_queimadas_etl_spark.session import load_table

    docs = load_table(spark, SF0001, "documents").select("doc_id", "text")
    return bpe_token_stats(docs, train_bpe(corpus_word_counts(docs, 2000), 200))


def test_tx9_apply_is_zero_exchange_scan(spark):
    """The 100-TB contract: after the (driver-side, K-row) training
    collect, the encoding pass is ONE mapInPandas scan with zero
    exchanges — the merge table rides the UDF closure."""
    df = _tx9_bpe_tokenize(spark)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan


def test_tx9_runs_at_demo_geometry(spark):
    pdf = _tx9_bpe_tokenize(spark).toPandas()
    assert len(pdf) == 500
    assert (pdf["n_bpe_tokens"] >= pdf["n_ws_tokens"] * 0).all()
    # trained merges must compress the corpus it was trained on
    assert pdf["n_bpe_tokens"].sum() < 3 * pdf["n_ws_tokens"].sum()
    assert (pdf["n_bpe_tokens"] > 0).all()


def test_reconstruction_invariant_property():
    """Hypothesis: for ANY corpus and ANY word (unicode included),
    encoding reconstructs the word, and token count never exceeds
    len(word) + 1."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),
        min_size=1,
        max_size=12,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        corpus=st.dictionaries(word, st.integers(1, 30), max_size=25),
        probe=word,
    )
    def run(corpus, probe):
        merges = train_bpe(sorted(corpus.items()), 40)
        ranks = {p: i for i, p in enumerate(merges)}
        toks = encode_word(probe, ranks)
        assert "".join(toks) == probe + _END
        assert 1 <= len(toks) <= len(probe) + 1

    run()


def test_incremental_trainer_matches_naive_reference():
    """VERDICT r6 #6: the incremental (heap + inverted index) trainer
    must produce the BYTE-IDENTICAL merge table the r6 full-recount
    reference produced — random Zipf-ish corpora, exhaustive merge
    counts, including running past exhaustion."""
    from inpe_queimadas_etl_spark.operators.bpe import train_bpe_ref

    rng = random.Random(23)
    for trial in range(6):
        words = {
            "".join(
                rng.choice("abcdefgh")
                for _ in range(rng.randrange(1, 10))
            )
            for _ in range(rng.randrange(5, 150))
        }
        counts = [(w, rng.randrange(1, 40)) for w in sorted(words)]
        for n_merges in (1, 7, 40, 10_000):
            fast = train_bpe(counts, n_merges)
            ref = train_bpe_ref(counts, n_merges)
            assert fast == ref, (trial, n_merges)


def test_incremental_trainer_matches_naive_reference_property():
    """Hypothesis fuzz of the same equality on tiny adversarial
    corpora (repeated letters force overlapping-pair edge cases)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from inpe_queimadas_etl_spark.operators.bpe import train_bpe_ref

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.text(alphabet="ab", min_size=1, max_size=8),
                st.integers(min_value=1, max_value=9),
            ),
            min_size=1,
            max_size=12,
        )
    )
    def check(counts):
        merged = {}
        for w, c in counts:
            merged[w] = merged.get(w, 0) + c
        wc = sorted(merged.items())
        assert train_bpe(wc, 25) == train_bpe_ref(wc, 25)

    check()


def test_vocab_and_ids_roundtrip(spark):
    """bpe_vocab is a pure function of (word table, merges) with
    <unk>=0; bpe_encode_ids emits decodable sequences: mapping ids
    back through the inverse vocab and splitting on the end-of-word
    marker reconstructs each document's words. Characters outside the
    training table map to 0."""
    from inpe_queimadas_etl_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_vocab,
        corpus_word_counts,
        train_bpe,
    )

    texts = [
        "lower lowest newer newest new low",
        "newer newer lowest wider",
        "low low low wider wider new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    counts = corpus_word_counts(docs)
    merges = train_bpe(counts, 30)
    vocab = bpe_vocab(counts, merges)
    assert vocab["<unk>"] == 0
    assert bpe_vocab(counts, merges) == vocab  # deterministic
    # base chars + </w> + each NEW merged symbol, ids dense
    assert sorted(vocab.values()) == list(range(len(vocab)))

    inv = {i: s for s, i in vocab.items()}
    rows = {
        r["doc_id"]: (list(r["token_ids"]), r["n_bpe_tokens"])
        for r in bpe_encode_ids(docs, merges, vocab).collect()
    }
    for i, text in enumerate(texts):
        ids, n = rows[i]
        assert n == len(ids)
        assert 0 not in ids  # every symbol known here
        decoded = "".join(inv[x] for x in ids)
        words = [w for w in decoded.split("</w>") if w]
        assert words == [w for w in text.split(" ") if w]

    # an unseen character maps to <unk>=0
    alien = spark.createDataFrame(
        [(9, "low Zow")], "doc_id long, text string"
    )
    arow = bpe_encode_ids(alien, merges, vocab).collect()[0]
    assert 0 in list(arow["token_ids"])


def test_ids_encode_is_zero_exchange_scan(spark):
    """bpe_encode_ids keeps tx9's scan contract: one mapInPandas,
    zero exchanges — merges and vocab ride the UDF closure."""
    import contextlib
    import io

    from inpe_queimadas_etl_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_vocab,
        corpus_word_counts,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest")], "doc_id long, text string"
    )
    counts = corpus_word_counts(docs)
    merges = train_bpe(counts, 10)
    df = bpe_encode_ids(docs, merges, bpe_vocab(counts, merges))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan


def test_null_text_encodes_as_empty(spark):
    """ADVICE r7: a missing text field (None) coalesces to the empty
    encoding instead of killing the Arrow task — user-supplied JSONL
    corpora may omit text."""
    from inpe_queimadas_etl_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_token_stats,
        bpe_vocab,
        corpus_word_counts,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(1, "low lower"), (2, None)], "doc_id long, text string"
    )
    counts = corpus_word_counts(docs)
    merges = train_bpe(counts, 5)
    stats = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_stats(docs, merges).collect()
    }
    assert stats[2] == 0 and stats[1] > 0
    ids = {
        r["doc_id"]: list(r["token_ids"])
        for r in bpe_encode_ids(docs, merges, bpe_vocab(counts, merges))
        .collect()
    }
    assert ids[2] == [] and len(ids[1]) > 0


def test_tokenizer_save_load_roundtrip(spark, tmp_path):
    """VERDICT r7 #4: train -> save -> load -> encode must equal the
    in-session encode exactly (merge tuples, vocab ids, and therefore
    every token id sequence), and the content fingerprint must be
    identical whether computed at save or after load."""
    from inpe_queimadas_etl_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_vocab,
        corpus_word_counts,
        load_tokenizer,
        save_tokenizer,
        tokenizer_sha256,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest newer new"), (2, "wider new low low")],
        "doc_id long, text string",
    )
    counts = corpus_word_counts(docs)
    merges = train_bpe(counts, 30)
    vocab = bpe_vocab(counts, merges)
    art = save_tokenizer(str(tmp_path / "tok.json"), merges, vocab)
    m2, v2 = load_tokenizer(art["path"])
    assert m2 == merges and v2 == vocab
    assert tokenizer_sha256(m2, v2) == art["sha256"]
    live = {
        r["doc_id"]: list(r["token_ids"])
        for r in bpe_encode_ids(docs, merges, vocab).collect()
    }
    frozen = {
        r["doc_id"]: list(r["token_ids"])
        for r in bpe_encode_ids(docs, m2, v2).collect()
    }
    assert live == frozen

    # a foreign file is rejected loudly, not misparsed
    bad = tmp_path / "bad.json"
    bad.write_text('{"format": "something-else"}')
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bpe-tokenizer-v1"):
        load_tokenizer(str(bad))


def test_tokenizer_roundtrip_property(tmp_path):
    """Hypothesis-fuzzed save/load round trip (pure Python, no
    Spark): for ANY word table, the persisted artifact loads back to
    the exact merge tuples and vocab ids, the fingerprint is stable
    across save/load, and encoding under the loaded table equals
    encoding under the in-session one word for word."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from inpe_queimadas_etl_spark.operators.bpe import (
        bpe_vocab,
        encode_word,
        load_tokenizer,
        save_tokenizer,
        tokenizer_sha256,
        train_bpe,
    )

    word = st.text(alphabet="abcde", min_size=1, max_size=8)
    counts_strat = st.lists(
        st.tuples(word, st.integers(min_value=1, max_value=9)),
        min_size=1,
        max_size=12,
    )

    idx = [0]

    @settings(max_examples=30, deadline=None)
    @given(counts=counts_strat, n_merges=st.integers(0, 20))
    def run(counts, n_merges):
        merges = train_bpe(counts, n_merges)
        vocab = bpe_vocab(counts, merges)
        idx[0] += 1
        path = str(tmp_path / f"t{idx[0]}.json")
        art = save_tokenizer(path, merges, vocab)
        m2, v2 = load_tokenizer(path)
        assert m2 == merges and v2 == vocab
        assert tokenizer_sha256(m2, v2) == art["sha256"]
        ranks = {p: i for i, p in enumerate(merges)}
        ranks2 = {p: i for i, p in enumerate(m2)}
        for w, _ in counts:
            assert encode_word(w, ranks) == encode_word(w, ranks2)

    run()
