"""The trigram tokenizer (``functions.text.trigram_tokens``) against a
pure-Python twin of the reference's vectorization (SURVEY.md §1.4,
reference ``src/cossim.rs:27-60``): overlapping character trigrams in
position order, kept only when all three characters are ``[a-z]``,
deduplicated on first occurrence. Order is part of the contract: the
set key of the similarity join sorts the tokens, but other callers
(the kernel's token ids, the persisted postings) read the array as is.
"""

from __future__ import annotations

from polars_sim_spark.functions.text import trigram_tokens


def model_tokens(s: str | None) -> list[str]:
    if s is None:
        return []
    out: list[str] = []
    for i in range(len(s) - 2):
        g = s[i : i + 3]
        if all("a" <= c <= "z" for c in g) and g not in out:
            out.append(g)
    return out


CASES = [
    None,
    "",
    "a",
    "ab",
    "abc",
    "abcabc",           # repeats keep their first occurrence only
    "aaaa",             # overlapping identical trigrams
    "Alice",            # uppercase breaks a window
    "ABC def",
    "abc123xyz",        # digits
    "ab-cd.ef,ghi!",    # punctuation
    "line one\nline two",
    "tab\tbed",
    "café olé naïve",   # non-ASCII letters are out of vocab
    "straße",
    "ab😀cd efg",       # emoji (a UTF-16 surrogate pair) between letters
    "😀😀abc😀",
    "日本語abcd",
    "zzz yyy zzz",
    "xyzzy" * 20,
]


def test_trigram_tokens_matches_python_model(spark):
    df = spark.createDataFrame(list(enumerate(CASES)), "id long, s string")
    got = {r["id"]: r["t"] for r in df.select("id", trigram_tokens("s").alias("t")).collect()}
    for i, s in enumerate(CASES):
        assert got[i] == model_tokens(s), (s, got[i])

