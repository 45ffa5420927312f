"""Scaling validation for the round-6 mm5 geometry.

mm5 geometry cliff foil: candidate-pair volume and wall time at 5k /
50k / 200k media items under (a) the auto-tuned geometry and (b) the
r5 fixed 4x16 geometry. The auto-tune holds candidates roughly flat;
the fixed geometry grows them quadratically. Printed as one JSON line
and recorded in SCALING.md.

Usage: python scripts/scaling_ann_media.py  [env: SPARK_GRAFT_CPUS]
"""

from __future__ import annotations

import json
import os
import sys
import time

MM_SIZES = {"5k": 5_000, "50k": 50_000, "200k": 200_000}


def gen_media(n: int):
    """(media_id, payload) pandas frame: FIVE unique 32-byte frames
    per item — md5 makes the signatures effectively random, which is
    the WORST case for banded candidate volume (correlated corpora
    grow candidates only with true pairs, the output size). An ODD
    frame count matters: with an even count the majority tie rule
    (sum >= 0 -> bit set) fires on ~half the bits and biases
    signatures toward 1s, inflating band collisions ~170x over the
    2^-bits random theory (measured with 2-frame payloads); odd
    counts cannot tie, so the bits are unbiased coin flips."""
    import pandas as pd

    return pd.DataFrame(
        {
            "media_id": range(n),
            "payload_s": [
                "".join(f"{i:028d}{j:04d}" for j in range(5))
                for i in range(n)
            ],
        }
    )


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))

    from pyspark.sql import functions as F

    from inpe_queimadas_etl_spark.session import get_spark
    from inpe_queimadas_etl_spark.suite.multimodal import (
        _mm5_candidate_pairs,
        _mm5_geometry,
        _mm5_signatures,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="scaling-ann-media",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    mm5_auto: dict[str, dict] = {}
    mm5_fixed: dict[str, dict] = {}
    for label, n in MM_SIZES.items():
        pdf = gen_media(n)
        media = spark.createDataFrame(pdf).select(
            "media_id", F.encode("payload_s", "utf-8").alias("payload")
        )
        for bucket, bits in (
            (mm5_auto, _mm5_geometry(n)[1]),
            (mm5_fixed, 16),
        ):
            sigs = _mm5_signatures(media, bits).localCheckpoint(eager=True)
            cand = _mm5_candidate_pairs(sigs)
            n_cand = cand.count()  # doubles as the warm-up run
            t0 = time.perf_counter()
            cand.count()
            t = round(time.perf_counter() - t0, 3)
            bucket[label] = {"bits": bits, "candidates": n_cand, "sec": t}
            print(
                f"# mm5 {label} bits={bits}: {n_cand} candidates, {t}s",
                file=sys.stderr,
            )

    print(
        json.dumps(
            {
                "mm5_auto": mm5_auto,
                "mm5_fixed_4x16": mm5_fixed,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
