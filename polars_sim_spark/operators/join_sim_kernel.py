"""Broadcast SpGEMM kernel path for the similarity join.

This is the Spark analog of the reference's in-memory kernel
(``src/cossim.rs:62-141`` sparse_dot_topn with its dense accumulator,
parallelized over left-row slices as in ``src/cossim.rs:143-167``):

* the RIGHT side's postings are collected into a compact inverted index
  (token id → numpy array of right row positions) and **broadcast** to
  every executor — the analog of each rayon worker holding all of Bᵀ
  (``src/cossim.rs:277``);
* the LEFT side is tokenized JVM-side (the same §1.4 Column exprs the
  declarative plan uses — whole-stage codegen, not Python regex), then
  streams through ``mapInPandas`` in Arrow batches carrying
  ``array<long>`` token ids; Python only does the dense-accumulator
  scatter via ``np.bincount`` and the fused top-n — the product+top-k
  of the reference, never materializing the full similarity matrix
  row set.

Compared to the declarative token-join plan (operators/join_sim.py) this
trades JVM codegen for zero shuffle: the only movement is the broadcast.
Use when the right side fits in executor memory (the same regime where
the reference operates — it ALWAYS holds B in memory); the declarative
shuffle plan remains the 100 TB default.

scipy is unavailable in this environment, so the CSR product is written
against numpy primitives directly (bincount IS the dense-accumulator
scatter-add; the result is identical).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VOCAB_SIZE = 26 * 26 * 26

#: The kernel path collects the whole right side onto the driver (the
#: reference's in-memory regime). Above this bound it fails fast with a
#: clear error instead of OOMing the driver. This is a MEMORY bound, not
#: a perf crossover (join_sim's ``strategy="auto"`` compares the right
#: side's size estimate with the session's autoBroadcastJoinThreshold):
#: 2M rows of postings ≈ low hundreds of MB, safe for a typical driver.
KERNEL_RIGHT_MAX_ROWS = 2_000_000

_INT_DTYPES = ("tinyint", "smallint", "int", "bigint")


def build_right_index(
    right: DataFrame, right_on: str, right_id: str, apply_word_normalization: bool
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """Collect the right side into (postings, ids, n_tok).

    postings[token_id] = int32 array of right POSITIONS holding that
    token; ids[pos] = the caller's right id; n_tok[pos] = |T(right_pos)|.
    Collected via a distributed explode + groupBy (never a full table
    scan on the driver), then assembled into numpy on the driver.
    """
    from polars_sim_spark.functions.text import normalize_string_col, trigram_token_ids

    # Bound check only needs "> cap or not" — a column-pruned LIMIT
    # cap+1 count short-circuits after cap+1 rows instead of scanning
    # the full right side.
    bounded = right.select(right_id).limit(KERNEL_RIGHT_MAX_ROWS + 1).count()
    if bounded > KERNEL_RIGHT_MAX_ROWS:
        raise ValueError(
            f"strategy='kernel' collects the right side onto the driver; it has "
            f"over {KERNEL_RIGHT_MAX_ROWS} rows (KERNEL_RIGHT_MAX_ROWS). "
            "Use strategy='shuffle' (the distributed scale path) or 'broadcast'."
        )

    s = F.col(right_on)
    if apply_word_normalization:
        s = normalize_string_col(s)
    rows = (
        right.select(F.col(right_id).alias("rid"), trigram_token_ids(s).alias("toks"))
        .where(F.size("toks") > 0)
        .collect()
    )
    # Preserve the caller's id dtype: natural keys are often strings (the
    # docstring recommends them), and forcing int64 crashed on them.
    if dict(right.dtypes)[right_id] in _INT_DTYPES:
        ids = np.array([r["rid"] for r in rows], dtype=np.int64)
    else:
        ids = np.empty(len(rows), dtype=object)
        ids[:] = [r["rid"] for r in rows]
    n_tok = np.array([len(r["toks"]) for r in rows], dtype=np.int32)
    tok_of_pos: list[np.ndarray] = [np.asarray(r["toks"], dtype=np.int32) for r in rows]
    # Invert: token -> positions (counting sort over the token space,
    # the same shape as the reference's CSR transpose csr.rs:148-185).
    counts = np.zeros(VOCAB_SIZE, dtype=np.int64)
    for toks in tok_of_pos:
        counts[toks] += 1
    offsets = np.zeros(VOCAB_SIZE + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    flat = np.empty(offsets[-1], dtype=np.int32)
    cursor = offsets[:-1].copy()
    for pos, toks in enumerate(tok_of_pos):
        flat[cursor[toks]] = pos
        cursor[toks] += 1
    postings = [flat[offsets[t] : offsets[t + 1]] for t in range(VOCAB_SIZE)]
    return postings, ids, n_tok


def similarity_mapping_kernel(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    top_n: int,
    normalization: str,
    apply_word_normalization: bool,
    left_id: str,
    right_id: str,
) -> DataFrame:
    """(left_id, right_id, sim) via the broadcast dense-accumulator kernel.

    Matches operators/join_sim.similarity_mapping(dedup_keys=False)
    exactly, including the deterministic tiebreak (sim DESC, right id
    ASC); physical-variant equivalence is pinned by tests.
    """
    postings, r_ids, r_ntok = build_right_index(
        right, right_on, right_id, apply_word_normalization
    )
    n_right = len(r_ids)
    sc = left.sparkSession.sparkContext
    bc = sc.broadcast((postings, r_ids, r_ntok))
    l2 = normalization == "l2"

    lid_type = dict(left.dtypes)[left_id]
    rid_type = dict(right.dtypes)[right_id]
    schema = T.StructType(
        [
            T.StructField("l_id", T._parse_datatype_string(lid_type)),
            T.StructField("r_id", T._parse_datatype_string(rid_type)),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def compute(batches):
        postings_, r_ids_, r_ntok_ = bc.value
        sqrt_nr = np.sqrt(r_ntok_.astype(np.float64))
        for pdf in batches:
            out_l, out_r, out_s = [], [], []
            for lid, toks in zip(pdf["__lid"], pdf["__toks"]):
                toks = np.asarray(toks, dtype=np.int64)
                if toks.size == 0 or n_right == 0:
                    continue
                hit_lists = [postings_[t] for t in toks]
                hits = np.concatenate(hit_lists) if len(hit_lists) > 1 else hit_lists[0]
                if hits.size == 0:
                    continue
                # Dense accumulator scatter-add (src/cossim.rs:88-108).
                sums = np.bincount(hits, minlength=n_right).astype(np.float64)
                if l2:
                    sums /= sqrt_nr * np.sqrt(float(toks.size))
                nz = np.nonzero(sums)[0]
                if nz.size > top_n:
                    # Fused top-n (src/cossim.rs:110-133) + deterministic
                    # (sim DESC, right id ASC) refinement — same tiebreak
                    # as the declarative plan, so the paths are equivalent.
                    cand = nz[np.lexsort((r_ids_[nz], -sums[nz]))][:top_n]
                else:
                    cand = nz
                out_l.extend([lid] * len(cand))
                out_r.extend(r_ids_[cand])
                out_s.extend(sums[cand])
            yield pd.DataFrame({"l_id": out_l, "r_id": out_r, "sim": out_s})

    from polars_sim_spark.functions.text import normalize_string_col, trigram_token_ids

    ls = F.col(left_on)
    if apply_word_normalization:
        ls = normalize_string_col(ls)
    # Tokenize in the JVM (codegen'd Column exprs, identical semantics to
    # the declarative plan) so the Arrow boundary carries compact token-id
    # arrays and Python is left with pure numpy scatter + top-n.
    src = left.select(F.col(left_id).alias("__lid"), trigram_token_ids(ls).alias("__toks"))
    out = src.mapInPandas(compute, schema=schema)
    return out.select(
        F.col("l_id").alias(left_id), F.col("r_id").alias(right_id), F.col("sim")
    )
