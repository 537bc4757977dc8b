"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical tables, another seed gives other tables of the same
shape. The engine only ever sees the parquet files written here.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_TRIGRAM = re.compile("[a-z]{3}")
_SYLLABLES = [
    c + v
    for c in "bcdfghjklmnprstvwz"
    for v in ("a", "e", "i", "o", "u", "ar", "en", "il", "on", "us")
]
_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window sort line data column join small big query order group "
    "filter stream customer vector"
).split()


def _name_pool(size: int, pool_seed: int) -> list[str]:
    """A fixed pool of distinct pronounceable lowercase names."""
    rng = np.random.default_rng(pool_seed)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < size:
        n = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


FIRST_NAMES = _name_pool(400, 101)
LAST_NAMES = _name_pool(2000, 202)


def _zipf_weights(pool_size: int, s: float = 1.05) -> np.ndarray:
    w = 1.0 / np.arange(1, pool_size + 1) ** s
    return w / w.sum()


_FIRST_W = _zipf_weights(len(FIRST_NAMES))
_LAST_W = _zipf_weights(len(LAST_NAMES))


def _draw_names(rng: np.random.Generator, n: int) -> list[str]:
    f = rng.choice(len(FIRST_NAMES), size=n, p=_FIRST_W)
    la = rng.choice(len(LAST_NAMES), size=n, p=_LAST_W)
    return [f"{FIRST_NAMES[i]} {LAST_NAMES[j]}" for i, j in zip(f, la)]


def without_collapses(rng: np.random.Generator, names: list[str]) -> list[str]:
    """Re-draw, from the pools, every name whose trigram set equals that
    of a different distinct name before it. ``join_sim`` takes its
    set-keyed path only on a side where distinct strings share a token
    set; with plain draws that happened on a random few seeds, so every
    seed now takes the default, unkeyed path."""
    owner: dict[frozenset[str], str] = {}
    out = []
    for s in names:
        while owner.setdefault(trigram_set(s), s) != s:
            s = _draw_names(rng, 1)[0]
        out.append(s)
    return out


def person_names(rng: np.random.Generator, n: int) -> list[str]:
    """``first last`` names, both parts drawn Zipf-like from fixed pools,
    so popular keys repeat; no two distinct names share a trigram set."""
    return without_collapses(rng, _draw_names(rng, n))


def typo(rng: np.random.Generator, s: str) -> str:
    """One random edit (substitute, insert or delete a letter)."""
    i = int(rng.integers(0, len(s)))
    op = int(rng.integers(0, 3))
    c = str(_LETTERS[rng.integers(0, 26)])
    if op == 0:
        return s[:i] + c + s[i + 1:]
    if op == 1:
        return s[:i] + c + s[i:]
    return s[:i] + s[i + 1:] if len(s) > 4 else s + c


def name_batch(rng: np.random.Generator, n: int, reference: list[str], typo_share: float = 0.5) -> list[str]:
    """``n`` probe names: about ``typo_share`` of them a one-edit typo of a
    reference name, the rest fresh draws from the pools; no two distinct
    names of the batch share a trigram set."""
    fresh = _draw_names(rng, n)
    pick = rng.integers(0, len(reference), n)
    use_typo = rng.random(n) < typo_share
    batch = [typo(rng, reference[p]) if t else f for f, p, t in zip(fresh, pick, use_typo)]
    return without_collapses(rng, batch)


def duplicate_share(names: list[str]) -> float:
    """Share of rows whose key is not the first occurrence of that key."""
    return 1.0 - len(set(names)) / max(len(names), 1)


def trigram_set(s: str) -> frozenset[str]:
    """Distinct lowercase ``[a-z]{3}`` windows: the engine's token set."""
    return frozenset(g for g in (s[i:i + 3] for i in range(len(s) - 2)) if _TRIGRAM.fullmatch(g))


def collapse_share(names: list[str]) -> float:
    """Share of distinct strings that share their trigram set with
    another distinct string."""
    distinct = set(names)
    return 1.0 - len({trigram_set(s) for s in distinct}) / max(len(distinct), 1)


def name_table(ids: np.ndarray, names: list[str], id_col: str, pay_col: str, rng: np.random.Generator) -> pa.Table:
    return pa.table(
        {
            id_col: pa.array(ids, pa.int64()),
            "name": pa.array(names, pa.string()),
            pay_col: pa.array(rng.integers(0, 1_000_000, len(names)), pa.int64()),
        }
    )


def write(table: pa.Table, data_dir: str, name: str) -> str:
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# The ``documents`` table of the registry's media rows, with the schema of
# the engine's testdata table, generated here so the benchmark needs
# nothing outside its checkout.
# ---------------------------------------------------------------------------


def documents(rng: np.random.Generator, n: int, dup_share: float = 0.2) -> pa.Table:
    """Word-soup documents; ``dup_share`` of them are near-copies (a few
    words replaced) of an earlier document, so near-dup pairs exist."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _DOC_WORDS[int(rng.integers(0, len(_DOC_WORDS)))]
        else:
            k = int(rng.integers(20, 80))
            words = [_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), k)]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)],
            "source": [f"src{i % 7}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
