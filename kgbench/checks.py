"""Output checks of one pipeline run, read from its committed stage
tables with pyarrow so that checking adds no Spark job."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.dataset as ds

from serimi_rdf_interlinking_spark.sources.fixtures import TGT

# Link-quality floors per pipeline run, below the lowest values measured
# when the benchmark was written (kg_small: precision 0.947-0.989, recall
# 1.0; link_ambiguous: precision 0.852-0.866, recall 0.947-0.962).
FLOORS = {
    "kg_small": {"precision": 0.85, "recall": 0.90},
    "link_ambiguous": {"precision": 0.80, "recall": 0.90},
}


def _rows(path: str, cols: list[str]) -> list[tuple]:
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def link_counts(run_root: str, gold: set[tuple[str, str]]) -> tuple[int, int, int]:
    """(true positives, predicted, gold) of the run's alignments."""
    pred = set(_rows(os.path.join(run_root, "link", "out"), ["source", "target"]))
    return len(pred & gold), len(pred), len(gold)


def output_errors(run_root: str, expected: Counter) -> list[str]:
    """Violations of the pipeline's output contract: extraction equals
    the fixture's expected (url, s, p, o) multiset; materialize holds
    exactly the distinct extracted rows, each under a mention id or a
    target URI."""
    errors = []
    extracted = _rows(
        os.path.join(run_root, "extract", "out"), ["src_url", "s", "p", "o", "o_is_uri"]
    )
    if Counter(r[:4] for r in extracted) != expected:
        errors.append("extracted (url,s,p,o) differ from the expected extractions")
    material = _rows(
        os.path.join(run_root, "materialize", "out"), ["s", "p", "o", "o_is_uri", "src_url"]
    )
    distinct = {(u, s, p, o, uri) for u, s, p, o, uri in extracted}
    if Counter((u, p, o, uri) for s, p, o, uri, u in material) != Counter(
        (u, p, o, uri) for u, _s, p, o, uri in distinct
    ):
        errors.append("materialized rows differ from the distinct extracted rows")
    if any(not (s.startswith("mention://") or s.startswith(TGT)) for s, *_ in material):
        errors.append("a materialized subject is neither a mention id nor a target URI")
    return errors
