"""A2 entity-label property selection + A3 stop-word mining.

Label selection (serimi_module.rb:228-278) runs over a bounded class
sample (reference: `limit 4000`), so it is collected to the driver and
computed with the pure kernel — the cap makes this scale-safe at any
corpus size. Stop-word mining (serimi_module.rb:280-343) scans every
label value of the class, so it stays distributed (explode + groupBy +
stats — two shuffles, map-side combined).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import kernels as K
from ..functions.columns import is_numericish_col, norm_tokens
from ..sources.triples import RDFS_LABEL
from . import rds_core

CLASS_SAMPLE_LIMIT = 4000  # label-selection sample (serimi_module.rb:233-235)
LABEL_TOP = 3              # top-3 label predicates (serimi_module.rb:269)


def _ruby_to_f_str(s: str) -> str:
    """Ruby String#to_f followed by Float#to_s (leading-float parse,
    '0.0' for garbage; integral floats print with a trailing .0)."""
    mt = re.match(r"^\s*[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?", s or "")
    if not mt:
        return "0.0"
    f = float(mt.group(0))
    if f == int(f) and abs(f) < 1e16:
        return f"{int(f)}.0"
    return repr(f)


def select_entity_labels(sample_triples: list[tuple]) -> list[str]:
    """get_entity_labels over a collected class sample.

    sample rows: (s, p, o, o_is_uri). Returns the label predicates,
    rdfs:label first.

    Quirks preserved: the post-text-filter dedup is discarded in the
    reference (serimi_module.rb:239 return value unused), so entropy
    keeps multiplicity; the numeric-literal exclusion compares string
    SIZES of to_i/to_f round-trips (serimi_module.rb:251).
    """
    as4 = [(t[0], t[1], str(t[2]), bool(t[3])) for t in sample_triples]
    textp = rds_core.get_text_properties([as4])
    textp_set = set(textp)
    data = [t for t in as4 if t[1] not in textp_set]
    candidates, _scores = rds_core.entropy_computation([data], textp=[])
    cand_set = set(candidates)

    eligible: set[str] = set()
    for _s, p, o, is_uri in data:
        if is_uri or p not in cand_set:
            continue
        if len(o) <= 3:
            continue
        if len(str(K.ruby_to_i(o))) == len(o):
            continue  # pure integer by size
        if len(_ruby_to_f_str(o)) == len(o):
            continue  # pure float by size
        eligible.add(p)

    labels = [p for p in candidates if p in eligible][:LABEL_TOP]
    return list(dict.fromkeys([RDFS_LABEL, *labels]))


def mine_stopwords(
    triples: DataFrame, members: DataFrame, labels: list[str]
) -> tuple[str, ...]:
    """All labels in ONE Spark job: per-label value counts join the
    token frequencies inside the plan (broadcast — one tiny row per
    label), so frequencies, stats, the per-label volatility gate and
    the final filter land in a single collect of just the stop words."""
    vals = (
        triples.join(members, "s", "left_semi")
        .filter(F.col("p").isin(labels))
        .select(F.col("p").alias("label"), "o")
    )
    totals = vals.groupBy("label").agg(
        F.count("*").cast("double").alias("n")
    )
    toks = vals.select(
        "label", F.explode(norm_tokens("o")).alias("tok")
    ).filter(~is_numericish_col("tok"))
    wc = (
        toks.groupBy("label", "tok")
        .agg(F.count("*").alias("c"))
        .join(F.broadcast(totals), "label")
        .select("label", "tok", (F.col("c") / F.col("n")).alias("v"))
    )
    stats = wc.groupBy("label").agg(
        F.avg("v").alias("m"), F.stddev_pop("v").alias("sd")
    )
    flagged = (
        wc.join(stats, "label")
        .filter(
            (F.col("sd") >= F.col("m") * 2)  # per-label volatility gate
            & (F.col("v") >= F.col("m"))
            & (F.length("tok") > 1)
        )
        .select("label", "tok")
        .collect()  # only the stop words come to the driver
    )
    by_label: dict[str, set[str]] = {}
    for r in flagged:
        by_label.setdefault(r.label, set()).add(r.tok)
    out: list[str] = []
    for label in labels:  # reference iterates labels in order
        sw = sorted(by_label.get(label, ()), key=lambda x: (-len(x), x))
        out.extend(sw)
    return tuple(dict.fromkeys(out))


def class_members(triples: DataFrame, class_uri: str) -> DataFrame:
    """J1/F1: subjects having any (s, ?, <K>) triple with K a URI object
    (initializer.rb:72, serimi_module.rb:235)."""
    return (
        triples.filter((F.col("o") == class_uri) & F.col("o_is_uri"))
        .select("s")
        .distinct()
    )


def collect_class_sample(triples: DataFrame, members: DataFrame) -> list[tuple]:
    """F2: distinct member triples, deterministically capped (the
    reference's LIMIT 4000 takes an endpoint-ordered subset; we order by
    (s,p,o) so runs are reproducible)."""
    rows = (
        triples.join(members, "s", "left_semi")
        .filter(~F.col("is_bnode"))
        .select("s", "p", "o", "o_is_uri")
        .distinct()
        .orderBy("s", "p", "o")
        .limit(CLASS_SAMPLE_LIMIT)
        .collect()
    )
    return [(r.s, r.p, r.o, r.o_is_uri) for r in rows]
