"""Scaling validation for the end-to-end corpus pipeline
(corpus_pipeline.run_corpus_pipeline).

The composed materialization (dd7 labels -> curation -> repetition ->
mixture -> split -> pack -> export) should scale like its dominant
stage — dd7's banded label propagation (measured exponent ~0.88 in
the retired scaling_dedup.py sweep) — because every other stage is
scan-shaped or K-row driver math and the labels are computed ONCE and
shared. A super-linear pipeline exponent would mean a stage recomputes
or joins something it should share.

Protocol: a realistic Zipfian generator (``_gen_documents``) at
5k / 15.8k / 50k docs; one warm-up run at the smallest size, then the
min of 2 timed full-pipeline runs per size (each run includes the
parquet export and manifest aggregation — the real end-to-end cost).
Exponent = log-log least-squares slope. Recorded in SCALING.md.

Two variants are measured (VERDICT r6 #7):
- "base": the r5 default stack (curation -> repetition -> split ->
  pack -> export), refreshing the 0.79 exponent;
- "full": every selection gate ON in the one invocation —
  decontaminate-by both (20-doc eval set carved from corpus text so
  the broadcast joins have real work), scrub-pii, scrub-spans and
  mixture-temperature 0.7. Every gate's cost scales
  with the corpus, so the composed exponent should stay ~linear or
  below; a super-linear exponent means a stage recomputes shared
  lineage.

Usage: python scripts/scaling_pipeline.py  [env: SPARK_GRAFT_CPUS]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scaling_common import fit_exponent  # noqa: E402

SIZES = {"5k": 5_000, "15k": 15_811, "50k": 50_000}

# Realistic corpus vocabulary: 10k words drawn Zipfian, like natural
# text. This matters for what the sweep measures: the driver testdata's
# ~30-word vocabulary makes every PPJoin prefix useless (every document
# contains every word, so the df histogram is flat and prefix pruning
# cannot discard anything) — that adversarial regime is measured
# separately and recorded in SCALING.md, but the scaling exponents
# should describe realistic corpora.
VOCAB = [f"w{i}" for i in range(10_000)]
ZIPF_A = 1.3
LANGS = ["en", "en", "en", "es", "fr", "pt", "zh"]  # en-heavy, 5 distinct


def _gen_documents(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    lens = rng.integers(8, 100, size=n)
    nv = len(VOCAB)
    texts = [
        " ".join(
            VOCAB[int(w)]
            for w in np.minimum(rng.zipf(ZIPF_A, size=ln) - 1, nv - 1)
        )
        for ln in lens
    ]
    # deterministic duplicate tail: 2% exact copies, 3% near copies
    # (one word appended), always of an EARLIER doc so clusters form
    n_exact = n // 50
    n_near = (3 * n) // 100
    dup_src = rng.integers(0, max(1, n - n_exact - n_near), size=n_exact + n_near)
    for i in range(n_exact):
        texts[n - 1 - i] = texts[dup_src[i]]
    for i in range(n_near):
        j = n - 1 - n_exact - i
        texts[j] = texts[dup_src[n_exact + i]] + " extra"
    langs = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), size=n)]
    sources = [f"src{int(x)}" for x in rng.integers(0, 20, size=n)]
    return pa.table(
        {
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array(sources, type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


_STOPS = ["the", "a", "of", "and", "to", "in"]


def gen_documents(n: int, seed: int):
    """The Zipfian corpus of ``_gen_documents``, made
    curation-compatible. Two deterministic rewrites (identical for
    exact-dup copies, so the dup tail the dedup stages chew on is
    preserved):

    - interleave English stopwords (every 4th word) — the w0..w9999
      vocabulary carries none, so cur1's language heuristic (>= 2
      stopwords) would otherwise drop EVERY doc;
    - suffix each remaining word with its position mod 5 — the a=1.3
      Zipf draw gives the top word a ~25 % share (real text: ~5 %),
      so cur3's top-word gate would otherwise flag ~97 % of docs and
      the sweep would time a near-empty materialization."""
    tbl = _gen_documents(n, seed)
    texts = []
    for t in tbl.column("text").to_pylist():
        w = t.split(" ")
        for i in range(len(w)):
            if i % 4 == 0:
                w[i] = _STOPS[(i // 4) % len(_STOPS)]
            else:
                w[i] = f"{w[i]}{i % 5}"
        texts.append(" ".join(w))
    return tbl.set_column(
        tbl.schema.get_field_index("text"),
        "text",
        pa.array(texts, type=pa.string()),
    ).set_column(
        tbl.schema.get_field_index("n_chars"),
        "n_chars",
        pa.array([len(t) for t in texts], type=pa.int64()),
    )


def main() -> None:
    from inpe_queimadas_etl_spark.corpus_pipeline import run_corpus_pipeline
    from inpe_queimadas_etl_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="scaling-pipeline",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    with tempfile.TemporaryDirectory() as tmp:
        dirs = {}
        for label, n in SIZES.items():
            d = os.path.join(tmp, f"in_{label}")
            os.makedirs(d)
            pq.write_table(
                gen_documents(n, seed=42),
                os.path.join(d, "documents.parquet"),
            )
            dirs[label] = d

        # full-stack side input: an eval set carved from corpus text
        # (so the decontamination joins flag real rows)
        eval_dir = os.path.join(tmp, "eval")
        os.makedirs(eval_dir)
        small = gen_documents(200, seed=42)
        ev_texts = [
            " ".join(t.split(" ")[3:40])
            for t in small.column("text").to_pylist()[:20]
        ]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(
                        range(10**9, 10**9 + len(ev_texts)), pa.int64()
                    ),
                    "text": pa.array(ev_texts, pa.string()),
                }
            ),
            os.path.join(eval_dir, "documents.parquet"),
        )
        gates = dict(
            eval_dir=eval_dir,
            decontaminate_by="both",
            scrub_pii=True,
            scrub_spans=True,
            mixture_temperature=0.7,
        )

        def run(label: str, tag: str, **kw) -> dict:
            out = os.path.join(tmp, f"out_{label}_{tag}")
            try:
                return run_corpus_pipeline(spark, dirs[label], out, **kw)
            finally:
                shutil.rmtree(out, ignore_errors=True)

        smallest = min(SIZES, key=SIZES.get)
        run(smallest, "warmup")  # JVM/codegen warm-up
        run(smallest, "warmup_full", **gates)

        for variant in ("base", "full"):
            times: dict[str, float] = {}
            kept: dict[str, int] = {}
            for label in SIZES:
                kw = gates if variant != "base" else {}
                samples = []
                for i in range(2):
                    t0 = time.perf_counter()
                    manifest = run(label, f"{variant}_r{i}", **kw)
                    samples.append(time.perf_counter() - t0)
                times[label] = round(min(samples), 3)
                kept[label] = sum(
                    s["docs"] for s in manifest["splits"].values()
                )
                print(
                    f"# pipeline[{variant}] {label}: {times[label]}s "
                    f"({kept[label]} docs written)",
                    file=sys.stderr,
                )
            results[variant] = {
                "times_sec": times,
                "docs_written": kept,
                "scaling_exponent": fit_exponent(SIZES, times),
            }

    print(json.dumps({"sizes": SIZES, **results}))
    spark.stop()


if __name__ == "__main__":
    main()
