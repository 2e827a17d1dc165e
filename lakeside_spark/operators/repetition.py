"""Gopher-style repetition signals for pre-training corpus curation.

Rae et al. 2021 ("Scaling Language Models: ... Gopher", §A1.1) filter
documents whose character mass concentrates in a few repeated n-grams.
This module computes, per document:

- ``top{n}_chars``  — char mass (count × gram length) of the single most
  character-covering word n-gram (n = ``top_n``, default 2);
- ``dup{m}_chars``  — total char mass of word m-grams occurring more than
  once (m = ``dup_n``, default 5);
- the corresponding fractions of the document's total n-gram char mass.

Scale design: everything is computed *inside the row's task* — an
Arrow-batched ``mapInPandas`` kernel counts gram runs per document, so the
operator is embarrassingly parallel with ZERO shuffles; never a groupBy
over exploded grams (which would shuffle ~L rows per document — at 100 TB
that is the difference between a map-only pass and a corpus-sized
exchange).

Why a Pandas kernel and not Column expressions: the natural pure-Spark
formulation (array_sort + an ``F.aggregate`` run-length fold) is
interpreted per array element — higher-order lambdas get no codegen and
no subexpression elimination (fresh lambda ExprIds defeat both), measured
~1 ms/doc and re-evaluated once per referencing predicate after filter
pushdown (~6× more). The Arrow kernel is ~100× faster per doc and is a
natural pushdown barrier, so downstream filters consume the computed
columns instead of re-deriving them at the scan. Same pattern as the ANN
scoring kernel in operators/similarity.py. Cross-engine determinism:
pure-integer char-mass numerators in Python, final double division +
round(6) left in JVM expressions to match the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java's \s and trim() are ASCII-only; mirror them exactly so the kernel
# agrees with functions.text.normalized (and the DuckDB oracle regex)
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _normalize_py(text: str) -> str:
    return _WS.sub(" ", (text or "").strip(" \t\n\x0b\f\r\x00")).lower()


def _gram_masses(words: list[str], n: int) -> tuple[int, int, int]:
    """(top_chars, dup_chars, tot_chars) over word n-grams: char mass of
    the most character-covering gram, of grams occurring >1 time, and of
    all grams. Pure-integer arithmetic."""
    if len(words) < n:
        return 0, 0, 0
    counts = Counter(
        " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
    )
    top = dup = tot = 0
    for gram, cnt in counts.items():
        mass = cnt * len(gram)
        tot += mass
        if mass > top:
            top = mass
        if cnt > 1:
            dup += mass
    return top, dup, tot


def _signal_base(
    docs: DataFrame, top_n: int, dup_n: int, text_col: str, id_col: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Map-only Arrow kernel emitting one row of integer signal columns per
    document; consumers derive the fractions in JVM expressions. ``keep``
    columns pass through with their input dtypes."""
    keep_schema = "".join(
        f", {c} {docs.schema[c].dataType.simpleString()}" for c in keep
    )
    schema = (
        f"doc_id long{keep_schema}, n_words long, norm_chars long, "
        "top_chars long, top_tot long, dup_chars long, dup_tot long"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf[id_col].astype("int64"),
                **{c: pdf[c] for c in keep},
            }
            cols = {k: [] for k in
                    ("n_words", "norm_chars", "top_chars", "top_tot",
                     "dup_chars", "dup_tot")}
            for text in pdf[text_col]:
                norm = _normalize_py(text)
                words = [w for w in norm.split(" ") if w]
                t_top, _t_dup, t_tot = _gram_masses(words, top_n)
                _d_top, d_dup, d_tot = _gram_masses(words, dup_n)
                cols["n_words"].append(len(words))
                cols["norm_chars"].append(len(norm))
                cols["top_chars"].append(t_top)
                cols["top_tot"].append(t_tot)
                cols["dup_chars"].append(d_dup)
                cols["dup_tot"].append(d_tot)
            for k, v in cols.items():
                out[k] = pd.Series(v, dtype="int64")
            yield pd.DataFrame(out)

    in_cols = [id_col, *keep] + ([text_col] if text_col not in keep else [])
    return docs.select(*in_cols).mapInPandas(kernel, schema)


def repetition_signals(
    docs: DataFrame,
    top_n: int = 2,
    dup_n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    one = F.lit(1).cast("long")
    base = _signal_base(docs, top_n, dup_n, text_col, id_col)
    return base.select(
        "doc_id",
        "n_words",
        F.col("top_chars").alias(f"top{top_n}_chars"),
        F.col("dup_chars").alias(f"dup{dup_n}_chars"),
        F.round(F.col("top_chars") / F.greatest(F.col("top_tot"), one), 6).alias(
            f"top{top_n}_frac"
        ),
        F.round(F.col("dup_chars") / F.greatest(F.col("dup_tot"), one), 6).alias(
            f"dup{dup_n}_frac"
        ),
    )


def gopher_filter(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 90,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 12.0,
    max_top2_frac: float = 0.20,
    max_dup5_frac: float = 0.15,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Gopher rule filter: word-count band, mean-word-length band, and the
    repetition caps, evaluated in one map-only pass (zero shuffles; the
    signal columns are computed once per row inside the Arrow kernel).
    ``keep`` columns ride through typed, so pipelines can keep e.g. the
    text column for downstream stages without re-joining the source."""
    one = F.lit(1).cast("long")
    base = _signal_base(docs, 2, 5, text_col, id_col, keep=keep)
    mean_wl = (F.col("norm_chars") - (F.col("n_words") - 1)) / F.greatest(
        F.col("n_words"), one
    )
    out = base.select(
        "doc_id",
        *keep,
        "n_words",
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(F.col("top_chars") / F.greatest(F.col("top_tot"), one), 6).alias(
            "top2_frac"
        ),
        F.round(F.col("dup_chars") / F.greatest(F.col("dup_tot"), one), 6).alias(
            "dup5_frac"
        ),
    )
    return out.filter(
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("top2_frac") <= max_top2_frac)
        & (F.col("dup5_frac") <= max_dup5_frac)
    )
