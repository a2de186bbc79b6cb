"""Dump query plans to files.

Usage:
    python tools/explain_dump.py <sf_dir> <out_dir> <suffix> [query ...]
    python tools/explain_dump.py --matcher <out_dir>

The first form writes `.explain("formatted")` of each declared query to
<out_dir>/<query>_<suffix>.txt. Streaming replay queries build their
DataFrame by RUNNING the stream; the dumped plan is the plan of the
returned (batch) DataFrame either way.

The second form runs SerimiMatcher in batch and in sequential mode on
`build_interlinking_fixture(120, seed=3)` and writes the optimized
logical plan of every `_mat` stage boundary, expression ids and
lambda variables normalized (`#N`, `x_N`), to
<out_dir>/<mode>_<boundary>.txt (a boundary materialized again — a
sequential chunk retried with a doubled limit — gets a `_2`, `_3`,
... suffix), plus <out_dir>/<mode>_boundaries.txt listing
the boundary names in call order. Diffing two such directories shows
whether a matcher change kept its plans; the first three boundaries
(`blocking_ordered`, `keywords`, `index_all`) are built concurrently,
so their order in the listing may vary between runs.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(app_name: str):
    from serimi_rdf_interlinking_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return get_spark(app_name=app_name, master=f"local[{cpus}]",
                     shuffle_partitions=int(cpus))


def dump_queries(sf_dir: str, out_dir: str, suffix: str, names) -> None:
    import __spark_entry__ as entry_mod

    spark = _spark("explain-dump")
    os.makedirs(out_dir, exist_ok=True)
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"# wrote {name}_{suffix}.txt", file=sys.stderr, flush=True)
    spark.stop()


def _normalize_ids(plan: str) -> str:
    """Expression ids (`#123`) and PySpark's session-global lambda
    variable counters (`lambda x_8`) differ between runs of one plan."""
    plan = re.sub(r"#\d+", "#N", plan)
    return re.sub(r"(lambda [a-z]+)_\d+", r"\1_N", plan)


def dump_matcher_boundaries(out_dir: str) -> None:
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
    from serimi_rdf_interlinking_spark.sources.fixtures import (
        CLASS_CITY,
        build_interlinking_fixture,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    spark = _spark("explain-dump-matcher")
    os.makedirs(out_dir, exist_ok=True)
    fx = build_interlinking_fixture(120, seed=3)
    source = spark.createDataFrame(fx.source, TRIPLE_SCHEMA)
    target = spark.createDataFrame(fx.target, TRIPLE_SCHEMA)
    mat = SerimiMatcher._mat
    for mode in ("batch", "sequential"):
        names: list[str] = []

        def recording_mat(self, df, name, mode=mode, names=names):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            names.append(name)
            n = names.count(name)
            fname = f"{mode}_{name}" + (f"_{n}" if n > 1 else "") + ".txt"
            with open(os.path.join(out_dir, fname), "w") as f:
                f.write(_normalize_ids(plan))
            return mat(self, df, name)

        SerimiMatcher._mat = recording_mat
        try:
            cfg = SerimiConfig(mode=mode, shuffle_partitions=4)
            SerimiMatcher(cfg).run(spark, source, target, CLASS_CITY)
        finally:
            SerimiMatcher._mat = mat
        with open(os.path.join(out_dir, f"{mode}_boundaries.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
        print(f"# {mode}: {len(names)} boundaries", file=sys.stderr,
              flush=True)
    spark.stop()


def main() -> None:
    if sys.argv[1] == "--matcher":
        dump_matcher_boundaries(sys.argv[2])
    else:
        dump_queries(sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:])


if __name__ == "__main__":
    main()
