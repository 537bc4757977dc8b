"""Measure the broadcast-vs-shuffle crossover of the similarity join,
and whether ``strategy="auto"`` picks the winner.

``auto`` is decided at plan time: broadcast when the optimizer's size
estimate of the right input is within the session's
``spark.sql.autoBroadcastJoinThreshold`` (operators/join_sim.py). This
sweep fixes the probe (left) side at 5k rows and grows the right side,
timing all three strategies through the default set-keyed plan on
synthetic near-unique strings (4 pseudo-random 7-letter words per row —
realistic fuzzy-join overlap: most pairs share few trigrams).

Run:  python tools/bench_crossover.py [right_sizes...]
Prints one line per (right_size, strategy), with the right side's size
estimate and the threshold, and a summary; results are recorded in
BASELINE.md.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import DataFrame, functions as F

import polars_sim_spark as pss
from polars_sim_spark.operators.join_sim import similarity_mapping

WORDS_PER_ROW = 4
WORD_LEN = 7
PRIMES = (31, 131, 1009, 8191)


def synth_strings(spark, n: int, seed: int) -> DataFrame:
    """n rows of (id, s): s = WORDS_PER_ROW pseudo-random lowercase words."""
    words = []
    for w in range(WORDS_PER_ROW):
        chars = [
            F.expr(
                f"char(97 + pmod(xxhash64(id * {PRIMES[w]} + {j * 7 + seed}), 26))"
            )
            for j in range(WORD_LEN)
        ]
        words.append(F.concat(*chars))
    return spark.range(n).select(
        F.col("id"), F.concat_ws(" ", *words).alias("s")
    )


def run(spark, n_left: int, n_right: int, strategy: str) -> float:
    left = synth_strings(spark, n_left, seed=0).withColumnRenamed("id", "l_id")
    right = synth_strings(spark, n_right, seed=1).withColumnRenamed("id", "r_id")
    t0 = time.time()
    out = similarity_mapping(
        left,
        right,
        left_on="s",
        right_on="s",
        top_n=10,
        strategy=strategy,
        left_id="l_id",
        right_id="r_id",
    )
    n = out.count()
    dt = time.time() - t0
    print(
        f"right={n_right:>9,} strategy={strategy:<9} wall={dt:7.2f}s pairs_kept={n:,}",
        flush=True,
    )
    return dt


def main() -> None:
    sizes = [int(s) for s in sys.argv[1:]] or [100_000, 250_000, 1_000_000]
    spark = pss.get_spark("bench-crossover", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    n_left = 5_000
    threshold = int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())
    results = {}
    run(spark, 1_000, 1_000, "broadcast")  # JIT/codegen warmup
    for n_right in sizes:
        right = synth_strings(spark, n_right, seed=1)
        est = int(right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        print(f"right={n_right:>9,} size estimate {est:,} B, threshold {threshold:,} B", flush=True)
        # broadcast last: past the broadcast regime it can exhaust the
        # driver heap, which ends the session
        for strategy in ("shuffle", "auto", "broadcast"):
            try:
                results[(n_right, strategy)] = run(spark, n_left, n_right, strategy)
            except Exception as e:  # recorded as a failed strategy
                print(f"right={n_right:>9,} strategy={strategy:<9} FAILED {type(e).__name__}")
                results[(n_right, strategy)] = float("inf")
    print("\nsummary (left=5k):")
    for n_right in sizes:
        b, s, a = (results.get((n_right, k), float("inf")) for k in ("broadcast", "shuffle", "auto"))
        best = min(b, s)
        print(
            f"  right={n_right:>9,}: broadcast {b:6.2f}s  shuffle {s:6.2f}s  auto {a:6.2f}s"
            f"  -> auto/best {a / best:4.2f}"
        )


if __name__ == "__main__":
    main()
