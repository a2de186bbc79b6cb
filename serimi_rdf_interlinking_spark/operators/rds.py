"""The one chunk-scoring path: parse → F12 → F13 → RDS.

One chunk (<= ~20 source resources + their candidate descriptions) is
exactly the reference's sequential unit of work (initializer.rb:93-130).
Every caller scores it the same way: `parse_chunk` builds the per-source
groups from the chunk's rows in one pass, and the scorer from
`make_chunk_scorer` runs F12 label filtering, F13 redirect expansion and
`rds_core.score_chunk`. The matcher's warm-up and sequential loop call
them on collected Rows; in batch mode `make_chunk_kernel` wraps them for
``groupBy(bucket).applyInPandas`` — thousands of chunks score in
parallel with a single shuffle. Chunk sizes are bounded by construction
(blocking + sigma), so groups are uniformly small: no skew, no spill.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass

import pandas as pd

from . import rds_core

CHUNK_OUTPUT_SCHEMA = (
    "chunk_id long, src string, cand string, score double,"
    " threshold double, accepted boolean"
)
_OUTPUT_DTYPES = {
    "chunk_id": "int64",
    "src": "object",
    "cand": "object",
    "score": "float64",
    "threshold": "float64",
    "accepted": "bool",
}


def apply_dbpedia_redirect(
    group: list[tuple],
    redirect_map: dict[str, str],
    redirect_desc: dict[str, list[tuple]],
) -> list[tuple]:
    """F13/J5 (serimi_module.rb:82-106): replace candidates that have a
    wikiPageRedirects triple with the redirect target's description."""
    aliases = {t[0] for t in group if t[0] in redirect_map}
    if not aliases:
        return group
    out = [t for t in group if t[0] not in aliases]
    seen = set(out)
    for alias in sorted(aliases):
        tgt = redirect_map[alias]
        for t in redirect_desc.get(tgt, []):
            if t not in seen:
                seen.add(t)
                out.append(t)
    return out


@dataclass
class Chunk:
    """One chunk's rows grouped per source, sources in blocking-rank
    order, plus the chunk's F13 redirect edges."""

    srcs: list[str]
    groups: list[list[tuple]]       # candidate triples (cand, p, o, is_uri)
    origins: list[list[tuple]]      # source description pairs (p, o, is_uri)
    searched: list[list[str]]       # searched labels
    redirect_map: dict[str, str]
    redirect_desc: dict[str, list[tuple]]


def parse_chunk(rows: Iterable) -> Chunk:
    """One pass over a chunk's rows — Spark Rows or pandas itertuples,
    both exposing rank, src, role, cand, p, o, o_is_uri. Roles:
    'cand'  (src, cand, p, o, o_is_uri) candidate description triples
    'origin'(src, -,    p, o, o_is_uri) source description pairs
    'kw'    (src, -,    p=kw)           searched labels
    'rdir'  (-,  cand=alias, o=target)  redirect edges (dbpedia only)
    'rdesc' (-,  cand=target, p, o, u)  redirect-target descriptions

    Every source gets a group, an empty one when retrieval found nothing
    for it: F12's entropy sees it (the warm-up's discriminative
    predicates depend on it), and the scorer drops it after F12.
    """
    by_src: dict[str, tuple[int, set, set, set]] = {}
    redirect_map: dict[str, str] = {}
    redirect_desc: dict[str, list[tuple]] = {}
    for r in rows:
        role = r.role
        if role == "rdir":
            redirect_map[r.cand] = r.o
            continue
        if role == "rdesc":
            redirect_desc.setdefault(r.cand, []).append(
                (r.cand, r.p, r.o, bool(r.o_is_uri))
            )
            continue
        d = by_src.get(r.src)
        if d is None:
            d = by_src[r.src] = (int(r.rank), set(), set(), set())
        if role == "cand":
            d[1].add((r.cand, r.p, r.o, bool(r.o_is_uri)))
        elif role == "origin":
            d[2].add((r.p, r.o, bool(r.o_is_uri)))
        elif role == "kw":
            d[3].add(r.p)
    srcs = sorted(by_src, key=lambda s: (by_src[s][0], s))
    return Chunk(
        srcs=srcs,
        groups=[sorted(by_src[s][1]) for s in srcs],
        origins=[sorted(by_src[s][2]) for s in srcs],
        searched=[sorted(by_src[s][3]) for s in srcs],
        redirect_map=redirect_map,
        redirect_desc=redirect_desc,
    )


def make_chunk_scorer(
    textp: list[str],
    stopwords: tuple[str, ...],
    topk: int = 0,
    rds_threshold: float | None = None,
    filter_threshold: float = 0.7,
) -> Callable[..., tuple[list[tuple], list[str]]]:
    """Builds score(chunk, pivot_fifo=None) -> (rows, discriminative
    predicates), rows being (src, cand, score, threshold, accepted)."""
    textp = list(textp)
    stopwords = tuple(stopwords)

    def score(
        chunk: Chunk, pivot_fifo: rds_core.PivotFifo | None = None
    ) -> tuple[list[tuple], list[str]]:
        filtered, disc = rds_core.entity_label_filtering(
            chunk.groups, chunk.searched, textp, stopwords, filter_threshold
        )
        if chunk.redirect_map:
            filtered = [
                apply_dbpedia_redirect(g, chunk.redirect_map, chunk.redirect_desc)
                for g in filtered
            ]
        keep = [i for i, g in enumerate(filtered) if g]
        # the reference skips chunks that collapse to <=1 group
        # (initializer.rb:123) — no alignments from them.
        if len(keep) <= 1:
            return [], disc
        rows = rds_core.score_chunk(
            [filtered[i] for i in keep],
            [chunk.origins[i] for i in keep],
            textp,
            topk=topk,
            rds_threshold=rds_threshold,
            pivot_fifo=pivot_fifo,
        )
        return [(chunk.srcs[keep[g]], c, v, t, a) for g, c, v, t, a in rows], disc

    return score


def make_chunk_kernel(
    score: Callable[..., tuple[list[tuple], list[str]]],
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """The applyInPandas kernel over a bucket of chunks: it loops
    `score` over every chunk_id inside one pandas group — grouping by a
    bucket of chunks amortizes the Arrow dispatch overhead that
    dominates when thousands of ~20-row chunks each become their own
    group (measured round-1: RDS stage scaling efficiency 0.59, the
    group-dispatch laggard)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = [
            (chunk_id, *row)
            for chunk_id, sub in pdf.groupby("chunk_id", sort=True)
            for row in score(parse_chunk(sub.itertuples(index=False)))[0]
        ]
        return pd.DataFrame(out, columns=list(_OUTPUT_DTYPES)).astype(_OUTPUT_DTYPES)

    return kernel
