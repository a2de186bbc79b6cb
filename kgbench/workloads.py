"""Seeded inputs for the KG-pipeline benchmark.

Every input comes from `sources/fixtures.build_interlinking_fixture`:
web pages (written as parquet per PAGE_SCHEMA) and a target dataset
(parquet per TRIPLE_SCHEMA), plus what the pipeline should produce from
them — the fixture's expected extractions and its gold alignment, with
the source city `src/city/i` replaced by the mention id
`mention://<name of city i>` that the pipeline links.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from serimi_rdf_interlinking_spark.functions.kernels import (
    keyword_normalization,
    removeaccents,
)
from serimi_rdf_interlinking_spark.sources.fixtures import (
    TGT_ONT,
    build_interlinking_fixture,
)

PAGE_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
TRIPLE_ARROW = pa.schema(
    [
        pa.field("s", pa.string(), nullable=False),
        pa.field("p", pa.string(), nullable=False),
        pa.field("o", pa.string()),
        pa.field("o_is_uri", pa.bool_(), nullable=False),
        pa.field("is_bnode", pa.bool_(), nullable=False),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    n_entities: int      # fixture cities, one web page each
    homonym_rate: float  # fixture homonym rivers/persons per city


WORKLOADS = {
    w.name: w
    for w in (
        # names all come from the fixture's 200-name two-syllable space
        Workload("kg_small", 100, 0.25),
        # past 100 cities the fixture draws three-syllable names
        Workload("link_ambiguous", 1000, 1.0),
    )
}


def fixture_seed(seed: int, k: int) -> int:
    """Fixture seed of input k of a run."""
    return seed * 10_000 + k


def mention_id(name: str) -> str:
    # the pipeline's own mention lift (extract.mentions_as_source_triples)
    return "mention://" + re.sub(r"\s+", "_", name)


def _tokens(label: str) -> set[str]:
    return set(removeaccents(keyword_normalization(label)).split())


@dataclass
class Inputs:
    pages_dir: str
    target_dir: str
    n_pages: int
    n_mentions: int
    expected: Counter                   # (url, s, p, o) -> multiplicity
    gold: set[tuple[str, str]]          # (mention id, target uri)
    label_pairs: set[tuple[str, str]]   # (mention label, target name)


def _write(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // max(1, n_files))
    for f, start in enumerate(range(0, table.num_rows, step)):
        pq.write_table(
            table.slice(start, step), os.path.join(out_dir, f"part-{f:05d}.parquet")
        )


def make_inputs(
    wl: Workload, seed: int, k: int, out_dir: str, n_files: int, scale: float = 1.0
) -> Inputs:
    """Generate input k of a run and write it under out_dir as n_files
    parquet files per table."""
    fx = build_interlinking_fixture(
        n_entities=max(10, int(wl.n_entities * scale)),
        seed=fixture_seed(seed, k),
        homonym_rate=wl.homonym_rate,
    )
    pages_dir = os.path.join(out_dir, "pages")
    target_dir = os.path.join(out_dir, "target")
    _write(
        pa.Table.from_pylist(
            [
                {"url": u, "warc_ts": ts * 1_000_000, "html": h, "text": t, "lang": lg}
                for u, ts, h, t, lg in fx.pages
            ],
            schema=PAGE_ARROW,
        ),
        pages_dir, n_files,
    )
    _write(
        pa.Table.from_pylist(
            [dict(zip(TRIPLE_ARROW.names, t)) for t in fx.target], schema=TRIPLE_ARROW
        ),
        target_dir, n_files,
    )

    # page i states the facts of city i under its name
    name_of_url = {url: s for url, s, _p, _o in fx.expected_extractions}
    names = [name_of_url[page[0]] for page in fx.pages]
    gold = {(mention_id(names[int(s.rsplit("/", 1)[1])]), t) for s, t in fx.gold}
    by_token: dict[str, set[str]] = {}
    for _s, p, o, _uri, bnode in fx.target:
        if p == f"{TGT_ONT}name" and not bnode:
            for tok in _tokens(o):
                by_token.setdefault(tok, set()).add(o)
    pairs = {
        (label, name)
        for label in names
        for tok in _tokens(label)
        for name in by_token.get(tok, ())
    }
    return Inputs(
        pages_dir=pages_dir,
        target_dir=target_dir,
        n_pages=len(fx.pages),
        n_mentions=len(set(names)),
        expected=Counter(fx.expected_extractions),
        gold=gold,
        label_pairs=pairs,
    )
