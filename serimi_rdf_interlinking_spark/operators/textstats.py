"""Text analysis over document tables: language-ID, quality scoring,
token counting, fingerprinting. Pure column expressions (codegen'd);
each has an exact ANSI-SQL mirror for oracle checks.

Every operator widens its input to cluster parallelism first
(operators/partitioning.py): the per-row regex/tokenize work runs in
the SCAN's tasks, and a single-file fixture input serializes the whole
corpus behind one core (measured: quality_score 14s over 50k docs on 1
task; ~1s after widening). On a properly-split scan the widen is a
no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import norm_text, norm_tokens
from .partitioning import widen_to_cluster

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "it"],
    "pt": ["de", "que", "e", "do", "da", "em", "um", "para", "com", "os"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "im", "ein"],
}


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """n-gram/function-word heuristic language ID.
    Returns (doc_id, lang_pred, lang_hits) — argmax of marker-token
    hits, ties broken by language code order ('de' < 'en' < 'pt').

    Per-row marker counts (array filter on the token array): a pure
    scan, no explode+groupBy shuffle."""
    docs = widen_to_cluster(docs)
    toks = docs.select(F.col(id_col), norm_tokens(text_col).alias("toks"))
    per_doc = toks.select(
        id_col,
        *[
            F.size(
                F.filter(F.col("toks"), lambda t: t.isin(words))
            ).cast("long").alias(f"hits_{lang}")
            for lang, words in sorted(LANG_MARKERS.items())
        ],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    # first (alphabetical) language reaching the max wins
    expr = None
    for lg in langs:
        cond = F.col(f"hits_{lg}") == best
        expr = F.when(cond, F.lit(lg)) if expr is None else expr.when(cond, F.lit(lg))
    return per_doc.select(
        id_col, expr.alias("lang_pred"), best.cast("long").alias("lang_hits")
    ).orderBy(id_col)


def quality_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality: length, alpha ratio, stopword ratio, mean
    token length. score = clamped blend in [0,1] (rounded to 6).

    Staged projections, not one expression tree: the ratio/score
    formulas reference the heavy subexpressions (two per-char regex
    rewrites, the tokenize chain, the interpreted stopword filter)
    many times, and Catalyst re-inlines a multiply-referenced alias's
    tree per reference — measured ~10 full tokenize evaluations per
    row in the single-select form (49s at 50k docs; ~1s staged).
    CollapseProject keeps the stages separate precisely because the
    aliases are expensive and multiply-referenced; the arithmetic is
    unchanged, so the output is bit-identical."""
    docs = widen_to_cluster(docs)
    t = F.col(text_col)
    en_sw = LANG_MARKERS["en"]
    # stage 1: each heavy expression exactly once per row
    base = docs.select(
        F.col(id_col),
        F.length(t).alias("_nc"),
        F.length(F.regexp_replace(t, r"(?i)[^a-z]", "")).alias("_na"),
        F.length(F.regexp_replace(t, r"[^ ]", "")).alias("_nw"),
        norm_tokens(text_col).alias("_toks"),
    )
    # stage 2: token counts from the materialized array
    counts = base.select(
        id_col,
        "_nc",
        "_na",
        "_nw",
        F.size(F.col("_toks")).alias("_nt"),
        F.size(
            F.filter(F.col("_toks"), lambda x: x.isin(en_sw))
        ).alias("_nsw"),
    )
    # stage 3: the original formulas over plain attributes
    n_chars, n_alpha, n_ws = F.col("_nc"), F.col("_na"), F.col("_nw")
    n_tok, n_sw = F.col("_nt"), F.col("_nsw")
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    sw_ratio = F.when(n_tok > 0, n_sw / n_tok).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tok > 0, (n_chars - n_ws) / n_tok).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    tok_len_score = F.when(
        (mean_tok_len >= 3) & (mean_tok_len <= 10), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    score = F.round(
        0.3 * len_score + 0.3 * alpha_ratio + 0.2 * sw_ratio + 0.2 * tok_len_score, 6
    )
    return counts.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars_m"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        score.alias("quality"),
    ).orderBy(id_col)


def token_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens): whitespace tokens and a
    BPE-ish regex token count (word pieces + standalone punctuation)."""
    docs = widen_to_cluster(docs)
    t = F.col(text_col)
    ws = F.size(F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit("")))
    bpe = F.size(F.regexp_extract_all(t, F.lit(r"(?i)[a-z0-9]+|[^a-z0-9\s]"), 0))
    return docs.select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
    ).orderBy(id_col)


def fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprints: md5 of the normalized text (exact-dup
    key) and md5 of the sorted distinct token set (bag-of-words key,
    order/shuffle-insensitive)."""
    docs = widen_to_cluster(docs)
    bow = F.concat_ws(" ", F.array_sort(F.array_distinct(norm_tokens(text_col))))
    return docs.select(
        F.col(id_col),
        F.md5(norm_text(text_col)).alias("fp_exact"),
        F.md5(bow).alias("fp_bow"),
    ).orderBy(id_col)


def pack_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 2048,
    range_width: int = 1000,
) -> DataFrame:
    """Context-window packing: greedy first-fit of documents into bins
    of at most `max_tokens` whitespace tokens — the pretraining
    data-prep step that turns a corpus into fixed-budget training
    sequences. Returns (doc_id, bin_id, n_tokens, bin_tokens).

    Determinism + scale: docs are grouped into VALUE-based id ranges
    (range = floor(doc_id / range_width)) — no global sort, no
    single-partition window, fully parallel — and packed greedily in
    doc_id order within each range (bin_id = range * 1_000_000 +
    bin-ordinal). Packing never crosses a range boundary, which is the
    documented trade for parallelism (at most one under-filled bin per
    range). A document longer than max_tokens gets its own bin. The
    per-range pandas fold is a bounded sequential loop — ranges are the
    parallelism unit, so range_width controls group size.
    """
    import pandas as pd

    from pyspark.sql import functions as F

    docs = widen_to_cluster(docs)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.filter(
                F.split(F.trim(F.col(text_col)), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).cast("long").alias("n_tokens"),
    ).withColumn("rng", F.floor(F.col("doc_id") / F.lit(range_width)))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        rng = int(pdf["rng"].iloc[0])
        bins, fills = [], []
        bin_ord, fill = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > max_tokens:
                bin_ord += 1
                fill = 0
            fill += n
            bins.append(rng * 1_000_000 + bin_ord)
            fills.append(fill)
        out = pdf[["doc_id", "n_tokens"]].copy()
        out["bin_id"] = bins
        # bin_tokens = final fill of each bin
        out["bin_tokens"] = (
            pd.Series(bins, index=out.index).map(
                pd.Series(fills, index=bins).groupby(level=0).max()
            )
        )
        return out[["doc_id", "bin_id", "n_tokens", "bin_tokens"]]

    return (
        toks.groupBy("rng")
        .applyInPandas(
            pack, "doc_id long, bin_id long, n_tokens long, bin_tokens long"
        )
        .orderBy("doc_id")
    )
