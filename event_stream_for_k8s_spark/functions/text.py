"""Text-analysis expressions for the training-data pipeline.

All pure Catalyst expressions (split / higher-order functions /
regexp) — no UDFs, so they vectorize in codegen and scale linearly
with no Python overhead. Each has an exact DuckDB twin for the oracle.

Hash arithmetic stays in int64 with a 31-radix polynomial mod 2^31-1:
exact on both engines, overflow-free (31 * (2^31) << 2^63).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 2_147_483_647  # 2^31 - 1

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, r"\s+")


def bpe_ish_tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_RE), 0)


def token_hash(tok: Column) -> Column:
    """Rolling 31-radix hash of a token's character codes (int64)."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(tok)),
        lambda i: F.ascii(F.substr(tok, i, F.lit(1))).cast("bigint"),
    )
    return F.aggregate(
        codes, F.lit(0).cast("bigint"), lambda acc, x: (acc * 31 + x) % MOD
    )


def fingerprint_minhash3(toks: Column) -> Column:
    """Document fingerprint: min over rolling 3-token-window hashes —
    a winnowing-style rolling-hash signature (k=3 shingles)."""
    h = F.transform(toks, token_hash)
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(h) - 3, F.lit(0))),
        lambda i: (
            (F.try_element_at(h, i + 1) * 31 + F.try_element_at(h, i + 2)) % MOD * 31
            + F.try_element_at(h, i + 3)
        )
        % MOD,
    )
    return F.array_min(windows)


def quality_features(text: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword / word-length features."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_tok = F.size(toks)
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return {
        "n_chars": F.length(c),
        "n_tokens": n_tok,
        # try_divide: empty text has length 0 and ANSI '/' would throw;
        # DuckDB's x/0 is NULL, so NULL ratios are the parity semantics
        "punct_ratio": F.try_divide(n_punct.cast("double"), F.length(c)),
        "stopword_ratio": F.try_divide(n_stop.cast("double"), n_tok),
        "avg_token_len": F.try_divide(
            (F.length(c) - n_tok + 1).cast("double"), n_tok
        ),
    }


def gram3_hashes(ht: Column) -> Column:
    """3-gram rolling hashes over an array of token hashes."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ht) - 3, F.lit(0))),
        lambda i: (
            (F.try_element_at(ht, i + 1) * 31 + F.try_element_at(ht, i + 2))
            % MOD * 31
            + F.try_element_at(ht, i + 3)
        )
        % MOD,
    )


def winnow_numpy(grams, w: int = 4):
    """Winnowing selection as a numpy sliding-window-min inside
    mapInPandas: for every sliding window of ``w`` gram hashes pick the
    RIGHTMOST minimum, emitting distinct (doc_id, fp_pos, fp_hash) rows
    (1-based positions). Same guarantee as ``winnow_select`` (Schleimer
    et al., MOSS) but ~5x faster: the expression form evaluates an
    interpreted slice/array_min/reverse/array_position chain per
    position, while this runs one vectorized pass per document on Arrow
    batches. Null gram hashes (docs shorter than the shingle width) are
    mapped to a +inf sentinel so they never win a window; an all-null
    window emits nothing — exactly the expression form's
    ``fp_hash IS NOT NULL`` filter.

    ``grams``: DataFrame(doc_id bigint, h array<bigint>). No shuffle:
    one narrow mapInPandas over however ``grams`` is already
    partitioned.
    """
    import numpy as np
    import pandas as pd

    sent = 1 << 40  # > any 31-bit gram hash; never selected as a min

    def batches(it):
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in it:
            ids: list = []
            poss: list = []
            hashes: list = []
            for doc_id, lst in zip(pdf["doc_id"], pdf["h"]):
                if lst is None or len(lst) == 0:
                    continue
                a = np.asarray(lst, dtype="float64")
                a = np.where(np.isnan(a), float(sent), a).astype(np.int64)
                if len(a) <= w:
                    win = a[None, :]  # one short window = whole array
                    base = np.zeros(1, dtype=np.int64)
                else:
                    win = sliding_window_view(a, w)
                    base = np.arange(len(a) - w + 1, dtype=np.int64)
                mins = win.min(axis=1)
                # rightmost occurrence of the min within each window
                ridx = (
                    win.shape[1]
                    - 1
                    - np.argmax(win[:, ::-1] == mins[:, None], axis=1)
                )
                keep = mins < sent
                if not keep.any():
                    continue
                pos = base[keep] + ridx[keep] + 1  # 1-based into h
                key = pos * (1 << 32) + mins[keep]
                uniq = np.unique(key)
                ids.extend([doc_id] * len(uniq))
                poss.extend((uniq >> 32).tolist())
                hashes.extend((uniq & ((1 << 32) - 1)).tolist())
            yield pd.DataFrame(
                {"doc_id": ids, "fp_pos": poss, "fp_hash": hashes}
            )

    return grams.mapInPandas(
        batches, "doc_id bigint, fp_pos bigint, fp_hash bigint"
    )


def winnow_select(h: Column, w: int = 4) -> Column:
    """Winnowing selection over a gram-hash array: for every sliding
    window of ``w`` hashes pick the RIGHTMOST minimum, returning the
    per-doc distinct array of (fp_pos, fp_hash) structs (1-based
    positions into ``h``). Guarantee (Schleimer et al., MOSS): every
    window of ``w`` consecutive grams contributes a fingerprint, so
    any shared run of ``w + 2`` tokens between two docs shares one.
    Expression-only reference form; the hot path is ``winnow_numpy``.
    """

    def pick(j):
        s = F.slice(h, j + 1, w)
        m = F.array_min(s)
        rpos = F.array_position(F.reverse(s), m)
        # size(s), not w: the only short window is a doc with fewer
        # than w grams (then j = 0 and s is the whole array)
        return F.struct(
            (j + (F.size(s) + 1) - rpos).cast("bigint").alias("fp_pos"),
            m.alias("fp_hash"),
        )

    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(h) - w, F.lit(0))), pick
        )
    )
