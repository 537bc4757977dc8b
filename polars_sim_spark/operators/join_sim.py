"""Approximate string-similarity join — the reference's single operator
(P1, reference ``python/polars_sim/dataframe/join.py:15-149``), rebuilt as
a declarative Spark pipeline.

Semantics (pinned by SURVEY.md §1.4 / FIXTURES.md):

* each key string → set of distinct in-vocab ``[a-z]{3}`` character
  trigrams, binary weights;
* ``normalization="l2"``: sim = |T(x) ∩ T(y)| / (√|T(x)| · √|T(y)|)
  (cosine over binary vectors); ``"count"``: sim = |T(x) ∩ T(y)|;
* per left row keep the ``top_n`` highest sims (reference ties are
  arbitrary, ``src/cossim.rs:120-127``; we refine to the deterministic
  tiebreak ``ORDER BY sim DESC, col`` so results are reproducible and
  oracle-comparable);
* left rows with no nonzero-sim candidate are absent from the output
  (inner-join semantics, reference ``join.py:145-146``);
* null / <3-char keys → no match (deviation: the reference panics on
  null, ``src/cossim.rs:42``).

Physical design (Spark-first, NOT a port of the Rust kernel):

The reference's multithreaded CSR sparse-matrix product with fused top-n
(``src/cossim.rs:62-141``, sparse_dot_topn) is algebraically an equi-join
on trigram token followed by a grouped count and a per-group top-k. We
declare exactly that and let Catalyst/Tungsten choose the execution:

    tokens(L) ⋈_token tokens(R) → groupBy(row,col).count → window top-n

* set-keying (always on): every row carries its trigram-SET key — its
  distinct trigrams sorted and concatenated. Tokens are exactly three
  characters, so the key is injective without a hash, and its postings
  are its 3-character chunks. Sims are computed once per pair of
  distinct keys and expanded back to rows by joining on the key, so
  repeated strings and strings that differ only outside the [a-z]³
  vocabulary never multiply the candidate join;
* ``strategy="broadcast"``: the right side's token postings are broadcast
  (the analog of the reference holding all of B in memory per thread,
  ``src/cossim.rs:277``) — no shuffle of the big left side at all.
* ``strategy="shuffle"``: both posting lists shuffle-partition BY TOKEN —
  this is the 100 TB path; work distributes over executors with no
  single-machine memory bound (the reference's dense accumulator is
  O(|B|) per thread; we have no such bound).
* ``strategy="auto"``: like the reference's ``threading_dimension="auto"``
  heuristic (``join.py:107-114``) we pick by size, at plan time: broadcast
  when the optimizer's size estimate of the right input is within the
  session's ``spark.sql.autoBroadcastJoinThreshold``. No job runs before
  the caller's action.

Scale notes (100 TB): the trigram vocabulary is only 26³ = 17,576, so
ultra-frequent tokens create join fan-out skew. Mitigations built in:
AQE skew-join splitting is enabled by the session factory, and
``max_token_df`` optionally prunes tokens whose document frequency
exceeds a cutoff (a documented deviation — such tokens carry almost no
cosine signal but dominate the pair count). Spark 3.5+ pushes the
``row_number() <= k`` predicate into a WindowGroupLimit, so the top-n is
applied partially before the final sort of each group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_sim_spark import cache as cache_registry
from polars_sim_spark.functions.text import normalize_string_col, trigram_tokens
from polars_sim_spark.operators.skew import cpu_floor_repartition

_ROW = "__pss_row"
_COL = "__pss_col"
_LKEY = "__pss_lkey"
_RKEY = "__pss_rkey"


def _tokens_long(
    df: DataFrame,
    key: str,
    id_col: str,
    out_id: str,
    apply_word_normalization: bool,
    n_tok_name: str,
) -> DataFrame:
    """(id, key) → exploded posting list (out_id, n_tok, token)."""
    s: Column = F.col(key)
    if apply_word_normalization:
        s = normalize_string_col(s)
    toks = trigram_tokens(s)
    return (
        df.select(F.col(id_col).alias(out_id), toks.alias("__toks"))
        .where(F.size("__toks") > 0)
        .select(
            out_id,
            F.size("__toks").alias(n_tok_name),
            F.explode("__toks").alias("__token"),
        )
    )


#: Micro-unit scale for TF-IDF weights: one weight unit = 1e-6 idf. All
#: dot products / norms are exact int64 sums of squared micro-weights
#: (1e-12 units), so the similarity is a deterministic function of the
#: corpus — reproducible bit-for-bit by the DuckDB oracle.
IDF_MICRO = 1_000_000


def _idf_micro_expr(n_docs: int, df_col: Column) -> Column:
    """Smoothed IDF in exact micro-units: round((ln((1+N)/(1+df)) + 1)·1e6).

    The sklearn-standard smooth formulation (never zero, defined at
    df=0). Every operation is IEEE-deterministic given integer inputs —
    exact double division, libm ln, exact +1.0, one HALF_UP round — so
    Spark and DuckDB produce the same bigint for the same (N, df); all
    downstream arithmetic is exact integer sums.
    """
    idf = F.log(
        F.lit(float(1 + n_docs)) / (F.lit(1.0) + df_col.cast("double"))
    ) + F.lit(1.0)
    return F.round(idf * F.lit(float(IDF_MICRO)), 0).cast("bigint")


def idf_micro_weight(n_docs: int, df: int) -> int:
    """Driver-side twin of :func:`_idf_micro_expr` (same HALF_UP round —
    python's round() is banker's, so floor(x+0.5) instead)."""
    import math

    return int(math.floor((math.log((1 + n_docs) / (1.0 + df)) + 1.0) * IDF_MICRO + 0.5))


def build_idf_weights(
    corpus: DataFrame,
    on: str,
    *,
    apply_word_normalization: bool = False,
) -> tuple[DataFrame, int, int]:
    """Per-trigram IDF weight table from a corpus — the fit half of the
    TF-IDF-weighted similarity join (the reference's own declared roadmap:
    the ``// TODO: eventually we could use tfidf`` comment above the
    binary-weight choice at ``src/cossim.rs:45-48``).

    Document frequency is counted over the corpus's DISTINCT (normalized,
    when ``apply_word_normalization``) key strings with a nonzero trigram
    set, so repeated rows never inflate a token's weight. Returns ``(weights, n_docs, default_w2)``:
    ``weights`` has columns ``(__token, __w2)`` where ``__w2`` is the
    SQUARED micro-unit weight (the only form the pipeline consumes:
    binary TF over distinct trigrams makes every dot-product term
    idf(t)²); ``default_w2`` is the squared weight of a token the corpus
    never saw (df=0).

    Scale: the weight table is bounded by the 26³=17,576-token vocabulary
    regardless of corpus size — always broadcastable; the df aggregation
    is one map-side-combining pass over distinct corpus strings. The
    document count is this function's only job: an RDD ``distinct`` runs
    both of its stages in ONE job, where a Dataset distinct + count
    under AQE costs a job per query stage.
    """
    s: Column = F.col(on)
    if apply_word_normalization:
        s = normalize_string_col(s)
    docs = corpus.select(s.alias("__s")).where(F.size(trigram_tokens(F.col("__s"))) > 0)
    n_docs = int(docs._jdf.javaRDD().distinct().count())
    w = _idf_micro_expr(n_docs, F.col("__df"))
    weights = (
        docs.distinct()
        .select(F.explode(trigram_tokens(F.col("__s"))).alias("__token"))
        .groupBy("__token")
        .agg(F.count(F.lit(1)).alias("__df"))
        .select("__token", (w * w).alias("__w2"))
    )
    w0 = idf_micro_weight(n_docs, 0)
    return weights, n_docs, w0 * w0


def _resolve_plan(
    right: DataFrame,
    right_on: str,
    *,
    top_n: int,
    normalization: str,
    apply_word_normalization: bool,
    strategy: str,
    weighting: str,
    idf_corpus: DataFrame | None,
    idf_on: str | None,
) -> tuple[str, tuple[DataFrame, int] | None]:
    """Validate the similarity options and resolve them into the plan's
    physical strategy and (for ``weighting="tfidf"``) the fitted
    ``(weights, default_w2)``. ``"auto"`` is decided here, at plan time:
    broadcast when the optimizer's size estimate of ``right`` is within
    the session's ``spark.sql.autoBroadcastJoinThreshold`` — the
    threshold the session already trusts for its own joins, so no
    constant of ours and no scout job decides it."""
    if normalization not in ("l2", "count"):
        raise ValueError(f"normalization must be 'l2' or 'count', got {normalization!r}")
    if strategy not in ("auto", "broadcast", "shuffle", "kernel"):
        raise ValueError(
            f"strategy must be 'auto', 'broadcast', 'shuffle' or 'kernel', got {strategy!r}"
        )
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    if weighting not in ("binary", "tfidf"):
        raise ValueError(f"weighting must be 'binary' or 'tfidf', got {weighting!r}")
    if weighting == "binary" and idf_corpus is not None:
        raise ValueError("idf_corpus only applies with weighting='tfidf'")
    idf = None
    if weighting == "tfidf":
        if strategy == "kernel":
            raise ValueError(
                "strategy='kernel' (the broadcast dense-accumulator twin of the "
                "reference's binary-weight SpGEMM) supports weighting='binary' only"
            )
        # Fit the IDF table ONCE, from the original corpus (default: the
        # right side's key strings). Cached: both sides' posting joins
        # read it.
        corpus, ccol = (
            (idf_corpus, idf_on if idf_on is not None else right_on)
            if idf_corpus is not None
            else (right, right_on)
        )
        if ccol not in corpus.columns:
            raise ValueError(f"idf corpus column {ccol!r} not in corpus frame")
        weights, _, w0_sq = build_idf_weights(
            corpus, ccol, apply_word_normalization=apply_word_normalization
        )
        idf = (cache_registry.track(weights), w0_sq)
    if strategy == "auto":
        jss = right.sparkSession._jsparkSession
        threshold = int(jss.sessionState().conf().autoBroadcastJoinThreshold())
        size = int(right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        strategy = "broadcast" if size <= threshold else "shuffle"
    return strategy, idf


def _set_key(s: Column, apply_word_normalization: bool) -> Column:
    """A string's trigram-SET key: its distinct in-vocab trigrams, sorted
    and concatenated ('' when it has none). Every token is exactly three
    ``[a-z]`` characters, so the key is injective on sets with no hash,
    and its postings are recovered as its 3-character chunks."""
    if apply_word_normalization:
        s = normalize_string_col(s)
    return F.array_join(F.sort_array(trigram_tokens(s)), "")


def _key_postings(keyed: DataFrame, key: str, n_tok_name: str) -> DataFrame:
    """Distinct set keys of ``keyed`` → posting list (key, n_tok, token).

    The keys are hash-repartitioned to an explicit CPU-floor width before
    the ``distinct`` (skew.cpu_floor_repartition): AQE would otherwise
    byte-coalesce a few thousand short keys onto one task, and every
    stage downstream of the postings — on the broadcast path the token
    join, the pair count and the set-level top-n, all clustered by the
    left key — would inherit that width."""
    keys = cpu_floor_repartition(keyed.select(key), key).distinct()
    return keys.select(
        key,
        (F.length(key) / F.lit(3)).cast("int").alias(n_tok_name),
        F.explode(F.regexp_extract_all(F.col(key), F.lit("([a-z]{3})"), 1)).alias("__token"),
    )


def _scored_pairs(
    lt: DataFrame,
    rt: DataFrame,
    lid: str,
    rid: str,
    *,
    normalization: str,
    strategy: str,
    max_token_df: int | None,
    idf: tuple[DataFrame, int] | None,
) -> DataFrame:
    """Postings ``(lid, __nl, __token)`` ⋈ ``(rid, __nr, __token)`` →
    ``(lid, rid, sim)`` for every pair sharing a (kept) token."""
    rt_full = rt
    if max_token_df is not None:
        # Prune ultra-frequent tokens on the right side (skew guard). A
        # token's document frequency is its number of right posting
        # owners: distinct right trigram SETS on the set-keyed path,
        # right rows under dedup_keys=False. Norms stay FULL on both
        # weightings (`__nr` is counted over the unpruned set, and the
        # tfidf branch computes `__nr2` from rt_full) — pruning only
        # removes overlap terms, so a doc containing a hot token keeps
        # its true norm and its sims can only shrink, never inflate.
        hot = (
            rt.groupBy("__token")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_token_df)
            .select("__token")
        )
        rt = rt.join(F.broadcast(hot), "__token", "left_anti")

    if idf is not None:
        # TF-IDF weighting (the reference's declared roadmap,
        # src/cossim.rs:45-48): each distinct trigram carries weight
        # idf(t) in exact micro-units, so a dot-product term is the
        # exact int64 idf(t)² and norms are exact int64 sums — the
        # similarity stays a deterministic (oracle-reproducible)
        # function of the corpus. The weight table is vocabulary-bounded
        # (≤ 26³ rows), hence always a broadcast join onto postings.
        weights, w0_sq = idf
        wb = F.broadcast(weights)

        def weighted(t: DataFrame, id_col: str) -> DataFrame:
            return t.join(wb, "__token", "left").select(
                id_col, "__token", F.coalesce("__w2", F.lit(w0_sq)).alias("__w2")
            )

        ltw, rtw = weighted(lt, lid), weighted(rt, rid)
        # Norms per id over each side's UNPRUNED postings (map-side-
        # combining aggs — skew-safe, no window).
        rtw_full = rtw if rt_full is rt else weighted(rt_full, rid)
        nl2 = ltw.groupBy(lid).agg(F.sum("__w2").alias("__nl2"))
        nr2 = rtw_full.groupBy(rid).agg(F.sum("__w2").alias("__nr2"))
        rtw_side = rtw.select(rid, "__token")
        if strategy == "broadcast":
            rtw_side = F.broadcast(rtw_side)
            nr2 = F.broadcast(nr2)
        # __w2 rides on the LEFT posting; the matched right token is the
        # same trigram, so each pair term is idf(t)² counted once.
        pairs = (
            ltw.join(rtw_side, "__token")
            .groupBy(lid, rid)
            .agg(F.sum("__w2").alias("__dot"))
            .join(nl2, lid)
            .join(nr2, rid)
        )
        if normalization == "l2":
            # Exact ints → one double division/multiply/sqrt each: IEEE-
            # deterministic, identical in the oracle.
            sim = F.col("__dot") / (F.sqrt(F.col("__nl2")) * F.sqrt(F.col("__nr2")))
        else:
            # Weighted overlap in natural idf units (micro² → unit).
            sim = F.col("__dot") / F.lit(float(IDF_MICRO) ** 2)
    else:
        rt_side = F.broadcast(rt) if strategy == "broadcast" else rt
        # Binary weights ⇒ the sparse dot product (src/cossim.rs:88-108)
        # is a plain overlap count per (row, col) pair.
        pairs = (
            lt.join(rt_side, "__token")
            .groupBy(lid, rid)
            .agg(
                F.count(F.lit(1)).alias("__overlap"),
                F.first("__nl").alias("__nl"),
                F.first("__nr").alias("__nr"),
            )
        )
        if normalization == "l2":
            # L2 row-normalization (src/csr.rs:194-210) folded into one
            # final multiply: with binary weights ‖x‖₂ = √|T(x)|.
            sim = F.col("__overlap") / (F.sqrt(F.col("__nl")) * F.sqrt(F.col("__nr")))
        else:
            sim = F.col("__overlap").cast("double")
    return pairs.select(lid, rid, sim.alias("sim"))


def _top_n(scored: DataFrame, part: str, order: list[Column], top_n: int, rankf) -> DataFrame:
    """Per-``part`` top-n; Catalyst rewrites ``rank <= k`` into a
    WindowGroupLimit (partial top-k before the sort — the analog of the
    reference's partial→final merge in csr.rs:213-269)."""
    w = Window.partitionBy(part).orderBy(*order)
    return scored.withColumn("__rn", rankf().over(w)).where(F.col("__rn") <= top_n).drop("__rn")


def _keyed_topn(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    left_id: str,
    right_id: str,
    top_n: int,
    apply_word_normalization: bool,
    **score,
) -> DataFrame:
    """Set-keyed top-n similarity rows (exact): every column of ``left``
    and ``right`` plus ``sim``, ``top_n`` right rows per left row.

    Two strings with the same trigram set have identical similarity
    vectors, so sims are computed once per pair of distinct trigram
    SETS — a grouping never larger than distinct strings, and orders of
    magnitude smaller on keys that collapse under tokenization (names
    differing only in digits/punctuation, which the [a-z]³ vocabulary
    drops).

    1. every row carries its set key (:func:`_set_key`, computed once);
    2. postings come from each side's distinct keys
       (:func:`_key_postings`) — representatives are never re-tokenized;
    3. per left set keep ``rank() <= top_n`` by sim DESC (rank, not
       row_number: boundary ties must survive because the row-level
       tiebreak crosses sets that share a sim);
    4. expand the kept set pairs to right rows by joining on the right
       key, and take the true row-level top-n per left set (sim DESC,
       right_id ASC);
    5. expand to left rows by joining on the left key.

    The expansion joins carry the rows' other columns, so
    :func:`join_sim` needs no separate id join-back; through
    :func:`similarity_mapping` only the ids survive column pruning.
    """
    lk = left.withColumn(_LKEY, _set_key(F.col(left_on), apply_word_normalization))
    rk = right.withColumn(_RKEY, _set_key(F.col(right_on), apply_word_normalization))
    sets = _scored_pairs(
        _key_postings(lk, _LKEY, "__nl"), _key_postings(rk, _RKEY, "__nr"), _LKEY, _RKEY, **score
    )
    sets = _top_n(sets, _LKEY, [F.desc("sim")], top_n, F.rank)
    per_set = _top_n(
        sets.join(rk, _RKEY).drop(_RKEY),
        _LKEY,
        [F.desc("sim"), F.asc(right_id)],
        top_n,
        F.row_number,
    )
    return per_set.join(lk, _LKEY).drop(_LKEY)


def similarity_mapping(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    top_n: int = 10,
    normalization: str = "l2",
    apply_word_normalization: bool = False,
    strategy: str = "auto",
    left_id: str = _ROW,
    right_id: str = _COL,
    max_token_df: int | None = None,
    dedup_keys: bool = True,
    weighting: str = "binary",
    idf_corpus: DataFrame | None = None,
    idf_on: str | None = None,
) -> DataFrame:
    """Compute the (row, col, sim) mapping table — the Spark equivalent of
    the reference kernel's COO output (``src/cossim.rs:203-262``).

    ``left``/``right`` must already carry unique id columns ``left_id`` /
    ``right_id``. Returns columns: ``left_id``, ``right_id``, ``sim``
    (double).

    ``dedup_keys=True`` (default) computes similarities once per pair of
    distinct trigram SETS and expands back to rows afterwards — exact
    (strings with one trigram set have identical similarity vectors),
    and it collapses the quadratic token-join fan-out when keys repeat.
    ``dedup_keys=False`` evaluates every row pair directly: the twin of
    :func:`similarity_mapping_against_postings`.

    ``max_token_df`` drops from the overlap every token whose right-side
    document frequency exceeds it. The frequency counts distinct right
    trigram sets (right rows under ``dedup_keys=False``), so repeated
    right strings never push a token over the cutoff.

    No Spark job runs before the caller's action, except the IDF fit's
    document count under ``weighting="tfidf"`` and the driver-side index
    build of ``strategy="kernel"``.
    """
    if left_id == right_id:
        raise ValueError(
            f"left_id and right_id must be distinct column names (both {left_id!r}); "
            "alias one side first, or use join_sim() which handles the rename"
        )
    strategy, idf = _resolve_plan(
        right,
        right_on,
        top_n=top_n,
        normalization=normalization,
        apply_word_normalization=apply_word_normalization,
        strategy=strategy,
        weighting=weighting,
        idf_corpus=idf_corpus,
        idf_on=idf_on,
    )
    if strategy == "kernel":
        # Broadcast dense-accumulator kernel (the reference's physical
        # plan, src/cossim.rs:62-141, as mapInPandas) — see
        # operators/join_sim_kernel.py. Right side must fit in memory.
        from polars_sim_spark.operators.join_sim_kernel import similarity_mapping_kernel

        return similarity_mapping_kernel(
            left,
            right,
            left_on=left_on,
            right_on=right_on,
            top_n=top_n,
            normalization=normalization,
            apply_word_normalization=apply_word_normalization,
            left_id=left_id,
            right_id=right_id,
        )

    score = dict(
        normalization=normalization, strategy=strategy, max_token_df=max_token_df, idf=idf
    )
    if dedup_keys:
        return _keyed_topn(
            left.select(left_id, left_on),
            right.select(right_id, right_on),
            left_on=left_on,
            right_on=right_on,
            left_id=left_id,
            right_id=right_id,
            top_n=top_n,
            apply_word_normalization=apply_word_normalization,
            **score,
        ).select(left_id, right_id, "sim")

    lt = _tokens_long(left, left_on, left_id, left_id, apply_word_normalization, "__nl")
    rt = _tokens_long(right, right_on, right_id, right_id, apply_word_normalization, "__nr")
    scored = _scored_pairs(lt, rt, left_id, right_id, **score)
    # Per-left-row top-n with the deterministic tiebreak (src/cossim.rs:110-133).
    return _top_n(scored, left_id, [F.desc("sim"), F.asc(right_id)], top_n, F.row_number)


def join_sim(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | None = None,
    left_on: str | None = None,
    right_on: str | None = None,
    top_n: int = 10,
    normalization: str = "l2",
    apply_word_normalization: bool = False,
    suffix: str = "_right",
    add_mapping: bool = False,
    add_similarity: bool = True,
    strategy: str = "auto",
    left_id: str | None = None,
    right_id: str | None = None,
    max_token_df: int | None = None,
    threads: int | None = None,
    threading_dimension: str | None = None,
    weighting: str = "binary",
    idf_corpus: DataFrame | None = None,
    idf_on: str | None = None,
) -> DataFrame:
    """Approximate string-similarity join (reference ``join_sim``,
    ``join.py:15-149``), keyword-compatible where Spark semantics allow.

    ``weighting="tfidf"`` implements the reference's own declared roadmap
    (the ``// TODO: eventually we could use tfidf`` comment above the
    binary-weight choice, ``src/cossim.rs:45-48``): trigrams are weighted
    by smoothed IDF (``ln((1+N)/(1+df)) + 1``) fitted over the distinct
    key strings of ``idf_corpus[idf_on]`` (default: the right side's key
    column), in exact micro-units so results are bit-reproducible.
    ``weighting="binary"`` (default) is the reference's shipped behavior,
    untouched.

    Differences from the reference, all deliberate and documented:

    * ``threads`` / ``threading_dimension`` → ``strategy`` — Spark owns
      parallelism; the left/right threading choice maps to the
      broadcast-vs-shuffle physical strategy (SURVEY.md §3.2/§3.4).
      Both reference keywords are ACCEPTED for drop-in compatibility:
      ``threading_dimension="left"`` selects the broadcast path (the
      analog of the reference's whole-B-per-thread kernel,
      ``src/cossim.rs:277``), ``"right"`` the shuffle path
      (``src/cossim.rs:281-288``), ``"auto"`` the size heuristic
      (``join.py:107-114``); ``threads`` (the reference sizes its rayon
      pool with it, ``join.py:68-69``, ``src/cossim.rs:301``) maps to
      ``repartition(threads)`` of the probe (left) side — the Spark
      analog of "how many workers chew on the left rows". Omit it to
      let Spark/AQE pick (the recommended default).
    * row identity: Spark has no stable row order, so ``row``/``col`` ids
      come from ``left_id``/``right_id`` columns you supply (natural
      keys); if omitted, non-contiguous ids are generated with
      ``monotonically_increasing_id`` (fine for join-back, not stable
      across runs — pass natural keys for reproducible output).
    * null/short keys yield no match instead of panicking.
    * top-n ties are broken deterministically (sim DESC, col ASC).
    """
    if threading_dimension is not None:
        mapped = {"left": "broadcast", "right": "shuffle", "auto": "auto"}
        if threading_dimension not in mapped:
            raise ValueError(
                f"threading_dimension must be 'left', 'right' or 'auto', got {threading_dimension!r}"
            )
        strategy = mapped[threading_dimension]
    if threads is not None:
        if threads < 1:
            raise ValueError(f"threads must be >= 1, got {threads}")
        # Parallelism hint (see docstring): partition the probe side the
        # way the reference sizes its thread pool.
        left = left.repartition(threads)

    if on is not None:
        if left_on is not None or right_on is not None:
            raise ValueError("pass either on= or left_on=/right_on=, not both")
        left_on, right_on = on, on
    if left_on is None or right_on is None:
        raise ValueError("must pass on= or both left_on= and right_on=")
    if left_on not in left.columns:
        raise ValueError(f"column {left_on!r} not in left frame")
    if right_on not in right.columns:
        raise ValueError(f"column {right_on!r} not in right frame")

    gen_left = left_id is None
    gen_right = right_id is None
    if gen_left:
        left_id = _ROW
        left = left.withColumn(_ROW, F.monotonically_increasing_id())
    if gen_right:
        right_id = _COL
        right = right.withColumn(_COL, F.monotonically_increasing_id())
    if not gen_left and left_id not in left.columns:
        raise ValueError(f"left_id column {left_id!r} not in left frame")
    if not gen_right and right_id not in right.columns:
        raise ValueError(f"right_id column {right_id!r} not in right frame")

    # Cache generated-id frames: monotonically_increasing_id is
    # plan-position dependent, and the plan reads each side twice (key
    # postings and row expansion), so both reads must observe one set of
    # ids. Note `left`/`right` here are the withColumn DERIVATIVES, never
    # the caller's own DataFrame, so a later cache.unpersist_all()
    # (non-cascading) cannot evict a cache the application holds on its
    # source frames (cache.py contract).
    if gen_left:
        left = cache_registry.track(left)
    if gen_right:
        right = cache_registry.track(right)

    # Self-join-key collision (left_id == right_id): internal id names
    # for the plan, undone at the end.
    map_left_id = left_id if left_id != right_id else "__pss_lid"
    map_right_id = right_id if left_id != right_id else "__pss_rid"

    # Re-assembly (join.py:143-149): both payloads ride with their rows.
    # Right-side name collisions get ``suffix`` (Spark has no join-suffix
    # option, so rename up front). The computed ``sim`` column is part of
    # the namespace too: a payload column literally named "sim" (either
    # side) must move out of its way, and a rename target that already
    # exists keeps gaining the suffix until unique.
    taken = set(left.columns) | {"sim"}

    def _uniquify(name: str, *extra_taken: set[str]) -> str:
        new = f"{name}{suffix}"
        while new in taken or any(new in s for s in extra_taken):
            new += suffix
        return new

    lj_on, rj_on = left_on, right_on  # the key columns' names after renaming
    if "sim" in left.columns and left_id != "sim":
        new = _uniquify("sim", set(right.columns))
        left = left.withColumnRenamed("sim", new)
        lj_on = new if left_on == "sim" else left_on
        taken = set(left.columns) | {"sim"}
    right_renamed = right
    for c in right.columns:
        if c == right_id:
            continue
        if c in taken:
            new = _uniquify(c, set(right_renamed.columns))
            right_renamed = right_renamed.withColumnRenamed(c, new)
            rj_on = new if right_on == c else rj_on
            taken.add(new)

    lj = left if map_left_id == left_id else left.withColumnRenamed(left_id, map_left_id)
    rj = (
        right_renamed
        if map_right_id == right_id
        else right_renamed.withColumnRenamed(right_id, map_right_id)
    )

    opts = dict(
        top_n=top_n,
        normalization=normalization,
        apply_word_normalization=apply_word_normalization,
        strategy=strategy,
        weighting=weighting,
        idf_corpus=idf_corpus,
        idf_on=idf_on,
    )
    if strategy == "kernel":
        # The kernel emits (ids, sim) only: join the payloads back.
        mapping = similarity_mapping(
            lj, rj, left_on=lj_on, right_on=rj_on, left_id=map_left_id,
            right_id=map_right_id, max_token_df=max_token_df, **opts,
        )
        out = mapping.join(lj, map_left_id).join(rj, map_right_id)
    else:
        # `right` under its own column names: the default idf_on is right_on
        plan_strategy, idf = _resolve_plan(right, right_on, **opts)
        out = _keyed_topn(
            lj,
            rj,
            left_on=lj_on,
            right_on=rj_on,
            left_id=map_left_id,
            right_id=map_right_id,
            top_n=top_n,
            apply_word_normalization=apply_word_normalization,
            normalization=normalization,
            strategy=plan_strategy,
            max_token_df=max_token_df,
            idf=idf,
        )

    # Column-set semantics of add_mapping/add_similarity (join.py:147-148).
    left_payload = [c for c in lj.columns if c != map_left_id]
    right_payload = [c for c in rj.columns if c != map_right_id]
    cols: list[str] = []
    if add_mapping:
        cols += [map_left_id, map_right_id]
    elif not gen_left or not gen_right:
        # Natural-key ids stay (they are real payload columns) — but only
        # the ones the caller supplied.
        if not gen_left:
            cols.append(map_left_id)
        if not gen_right:
            cols.append(map_right_id)
    cols += left_payload + right_payload
    if add_similarity:
        cols.append("sim")
    out = out.select(*cols)
    # Undo the internal id rename from the self-join-key collision case.
    if map_left_id != left_id and map_left_id in out.columns:
        out = out.withColumnRenamed(map_left_id, left_id)
    if map_right_id != right_id and map_right_id in out.columns:
        new_name = right_id if right_id not in out.columns else f"{right_id}{suffix}"
        out = out.withColumnRenamed(map_right_id, new_name)
    return out


def materialize_token_postings(
    right: DataFrame,
    table: str,
    *,
    on: str,
    id_col: str,
    apply_word_normalization: bool = False,
    num_buckets: int = 32,
    weighting: str = "binary",
) -> None:
    """Persist a reference table's trigram posting list as a catalog
    table BUCKETED on the token — the cross-run half of the similarity
    join, mirroring ``dedup.materialize_history_bands``: an entity-
    resolution pipeline fuzzy-joins every incoming batch against the
    same canonical dimension (master vendor list, catalog, gazetteer),
    and that side's tokenization + posting explosion is a pure function
    of its strings. Materialized once, every
    :func:`similarity_mapping_against_postings` run reads it co-located:
    the token join carries no Exchange on the reference side
    (plan-asserted in tests/test_sinks.py). Columns: ``(<id_col>,
    __nr, __token)`` — exactly the right side of the in-memory join.
    Set ``num_buckets`` to the probe runs' shuffle parallelism.

    ``weighting="tfidf"`` (round 10) additionally freezes the IDF model
    at build time — the BM25-append pattern's frozen-stats move applied
    to the similarity join: posting rows gain ``__w2`` (squared
    micro-unit weight) and ``__nr2`` (the row's denormalized doc
    norm²), and two sidecar tables are written — ``<table>_weights``
    (token, __w2: the FULL idf table, vocabulary-bounded) and
    ``<table>_stats`` (default_w2 for tokens the reference corpus never
    saw, which the probe side needs for ITS norms). Serving reads only
    these tables; the reference corpus is never re-fit.
    """
    from polars_sim_spark.sources.sinks import write_bucketed

    if weighting not in ("binary", "tfidf"):
        raise ValueError(f"weighting must be 'binary' or 'tfidf', got {weighting!r}")
    rt = _tokens_long(right, on, id_col, id_col, apply_word_normalization, "__nr")
    if weighting == "tfidf":
        spark = right.sparkSession
        weights, _, w0_sq = build_idf_weights(
            right, on, apply_word_normalization=apply_word_normalization
        )
        weights = cache_registry.track(weights)  # read by postings AND sidecar
        rtw = rt.join(F.broadcast(weights), "__token", "left").select(
            id_col,
            "__nr",
            "__token",
            F.coalesce("__w2", F.lit(w0_sq)).alias("__w2"),
        )
        nr2 = rtw.groupBy(id_col).agg(F.sum("__w2").alias("__nr2"))
        rt = rtw.join(nr2, id_col)
        weights.write.mode("overwrite").saveAsTable(f"{table}_weights")
        spark.createDataFrame([(w0_sq,)], "default_w2 long").write.mode(
            "overwrite"
        ).saveAsTable(f"{table}_stats")
    write_bucketed(
        rt, table, bucket_by=["__token"], num_buckets=num_buckets,
        sort_by=["__token"],
    )


def append_token_postings(
    new_rows: DataFrame,
    table: str,
    *,
    on: str,
    id_col: str,
    apply_word_normalization: bool = False,
    num_buckets: int = 32,
) -> None:
    """Incremental maintenance for the similarity-join postings — the
    index-append pattern (``append_to_bm25_index``,
    ``append_to_ivfpq_index``, ``append_packed_sequences``) applied to
    the reference's OWN operator: newly appended reference rows are
    fuzzy-matchable immediately, with the frozen-model contract a
    serving tier exhibits between rebuilds.

    Binary tables (no ``<table>_weights`` sidecar) append plain posting
    rows. TF-IDF tables weigh the new rows' tokens through the STORED
    sidecar — document frequencies are NOT refit (a token the build
    never saw gets the stored ``default_w2``, the frozen-idf behavior),
    and the sidecars are not rewritten; weights refresh only on the
    next full build. Equivalence to a rebuild with pinned weights is
    tested in tests/test_sinks.py.

    Scale: one pass over the NEW rows only; the existing index is
    touched solely through the vocabulary-bounded weights sidecar. The
    append lands through the same token-bucketed writer, so the serve
    plan keeps its exchange-free reference side (Spark rejects a
    mismatched ``num_buckets`` loudly)."""
    from polars_sim_spark.sources.sinks import write_bucketed

    spark = new_rows.sparkSession
    rt = _tokens_long(new_rows, on, id_col, id_col, apply_word_normalization, "__nr")
    tfidf = spark.catalog.tableExists(f"{table}_weights")
    if tfidf:
        weights = spark.table(f"{table}_weights")
        w0_sq = int(spark.table(f"{table}_stats").collect()[0]["default_w2"])
        rtw = rt.join(F.broadcast(weights), "__token", "left").select(
            id_col,
            "__nr",
            "__token",
            F.coalesce("__w2", F.lit(w0_sq)).alias("__w2"),
        )
        nr2 = rtw.groupBy(id_col).agg(F.sum("__w2").alias("__nr2"))
        rt = rtw.join(nr2, id_col)
    write_bucketed(
        rt, table, bucket_by=["__token"], num_buckets=num_buckets,
        sort_by=["__token"], mode="append",
    )


def similarity_mapping_against_postings(
    left: DataFrame,
    right_postings: DataFrame,
    *,
    left_on: str,
    right_id: str,
    top_n: int = 10,
    normalization: str = "l2",
    apply_word_normalization: bool = False,
    left_id: str = _ROW,
    weighting: str = "binary",
    idf_weights: DataFrame | None = None,
    default_w2: int | None = None,
) -> DataFrame:
    """:func:`similarity_mapping` with a PRECOMPUTED right posting list
    (``materialize_token_postings`` output, typically
    ``spark.table(...)``) — identical (left_id, right_id, sim) rows to
    the shuffle-strategy live join over the same reference table
    (equivalence-tested), but the reference side is never re-tokenized,
    re-exploded, or re-shuffled. The probe (left) side tokenizes and
    shuffles only its own postings; overlap counting, normalization,
    and the WindowGroupLimit top-n are byte-for-byte the live plan.

    Fit: reference tables of NEAR-UNIQUE strings (the master-list /
    gazetteer case). This twin matches ``dedup_keys=False`` semantics,
    so on collapse-prone corpora (heavy key duplication, e.g. strings
    drawn from a small shared vocabulary) the LIVE operator's
    distinct-key pre-pass dominates any postings reuse — measured:
    a part-name corpus that the deduped live path joins in ~6 s did not
    finish un-deduped (BASELINE.md round 5, persisted-index serving).

    ``weighting="tfidf"`` serves a TF-IDF-weighted postings table
    (``materialize_token_postings(weighting="tfidf")``): pass the
    ``<table>_weights`` sidecar as ``idf_weights`` and the stored
    ``default_w2``. The reference side's weights and norms come
    entirely from the stored rows (frozen at build time — the
    BM25-append frozen-stats contract); the probe side weighs its own
    tokens through the same sidecar. Equivalence to the live
    ``weighting="tfidf"`` path is pinned in tests/test_sinks.py."""
    if normalization not in ("l2", "count"):
        raise ValueError(
            f"normalization must be 'l2' or 'count', got {normalization!r}"
        )
    if weighting not in ("binary", "tfidf"):
        raise ValueError(f"weighting must be 'binary' or 'tfidf', got {weighting!r}")
    lt = _tokens_long(
        left, left_on, left_id, left_id, apply_word_normalization, "__nl"
    )
    if weighting == "tfidf":
        if idf_weights is None or default_w2 is None:
            raise ValueError(
                "weighting='tfidf' serving needs the stored idf sidecar: pass "
                "idf_weights (the <table>_weights table) and default_w2 (from "
                "<table>_stats)"
            )
        ltw = lt.join(F.broadcast(idf_weights), "__token", "left").select(
            left_id, "__token", F.coalesce("__w2", F.lit(int(default_w2))).alias("__w2")
        )
        nl2 = ltw.groupBy(left_id).agg(F.sum("__w2").alias("__nl2"))
        pairs = (
            ltw.drop("__w2")
            .join(right_postings, "__token")
            .groupBy(left_id, right_id)
            .agg(
                F.sum("__w2").alias("__dot"),  # the stored row's weight
                F.first("__nr2").alias("__nr2"),
            )
            .join(nl2, left_id)
        )
        if normalization == "l2":
            sim = F.col("__dot") / (F.sqrt(F.col("__nl2")) * F.sqrt(F.col("__nr2")))
        else:
            sim = F.col("__dot") / F.lit(float(IDF_MICRO) ** 2)
        scored = pairs.select(left_id, right_id, sim.alias("sim"))
    else:
        pairs = (
            lt.join(right_postings, "__token")
            .groupBy(left_id, right_id)
            .agg(
                F.count(F.lit(1)).alias("__overlap"),
                F.first("__nl").alias("__nl"),
                F.first("__nr").alias("__nr"),
            )
        )
        if normalization == "l2":
            sim = F.col("__overlap") / (F.sqrt(F.col("__nl")) * F.sqrt(F.col("__nr")))
        else:
            sim = F.col("__overlap").cast("double")
        scored = pairs.select(left_id, right_id, sim.alias("sim"))
    w = Window.partitionBy(left_id).orderBy(F.desc("sim"), F.asc(right_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= top_n)
        .drop("__rn")
    )
