"""Round-5 items: the randomized kill-point sweep over the crash-safe
append sink (round-4 verdict #9)."""

import os
import shutil

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# ---------------------------------------------------------------------------
# randomized kill-point sweep over the crash-safe append sink
# ---------------------------------------------------------------------------

# the append swap's reachable crash states, as (live, tmp, aside)
# contents where v1 = the pre-append output, m = the complete merged
# output, "partial" = a torn tmp write:
#   before_anything      live=v1
#   during_tmp_write     live=v1  tmp=partial
#   after_tmp_write      live=v1  tmp=m
#   between_renames      aside=v1 tmp=m   (the delete-then-rename hole)
#   before_aside_delete  live=m   aside=v1
CRASH_STEPS = (
    "before_anything",
    "during_tmp_write",
    "after_tmp_write",
    "between_renames",
    "before_aside_delete",
)


def _write_text_dir(path: str, lines: list) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000"), "w") as f:
        for ln in sorted(lines):
            f.write(ln + "\n")
    open(os.path.join(path, "_SUCCESS"), "w").close()


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    crash=st.sampled_from(CRASH_STEPS),
    ids1=st.sets(st.integers(0, 9), min_size=1, max_size=5),
    ids2=st.sets(st.integers(5, 14), min_size=0, max_size=5),
    data=st.data(),
)
def test_append_sink_randomized_kill_points(spark, tmp_path_factory, crash, ids1, ids2, data):
    """Property: from EVERY reachable crash state of the append swap —
    over randomized alignment sets — a rerun of
    write_alignments(mode='append') converges to exactly the merged
    output with no tmp/aside remnants (round-4 verdict #9: the fixed
    crash points never exercised the state space)."""
    from serimi_rdf_interlinking_spark.sources import alignments as A

    base = tmp_path_factory.mktemp("chaos")
    path = str(base / "out")
    v1 = [f"s{i}=t{i}" for i in sorted(ids1)]
    v2 = [f"s{i}=t{i}" for i in sorted(ids2)]
    merged = sorted(set(v1) | set(v2))
    df2 = spark.createDataFrame(
        [(f"s{i}", f"t{i}", 0.5) for i in sorted(ids2)] or [("sX", "tX", 0.0)],
        "source string, target string, score double",
    )
    if not ids2:
        df2 = df2.filter("source <> source")  # empty frame, same schema

    # build the crash state directly on the local fs (the protocol's
    # own invariants define what each state contains)
    _write_text_dir(path, v1)
    if crash == "during_tmp_write":
        os.makedirs(path + A.TMP_SUFFIX, exist_ok=True)
        with open(path + A.TMP_SUFFIX + "/part-00000", "w") as f:
            f.write("GARBAGE-TORN-WRITE")  # torn tmp: no _SUCCESS
    elif crash == "after_tmp_write":
        _write_text_dir(path + A.TMP_SUFFIX, merged)
    elif crash == "between_renames":
        shutil.move(path, path + A.ASIDE_SUFFIX)
        _write_text_dir(path + A.TMP_SUFFIX, merged)
    elif crash == "before_aside_delete":
        shutil.move(path, path + A.ASIDE_SUFFIX)
        _write_text_dir(path, merged)

    # optionally crash AGAIN during the recovery rerun's tmp write
    if data.draw(st.booleans(), label="second_crash") and os.path.isdir(path):
        os.makedirs(path + A.TMP_SUFFIX, exist_ok=True)
        with open(path + A.TMP_SUFFIX + "/part-extra", "w") as f:
            f.write("MORE-GARBAGE")

    A.write_alignments(df2, path, mode="append")
    got = sorted(
        ln
        for fn in os.listdir(path)
        if fn.startswith("part-")
        for ln in open(os.path.join(path, fn)).read().splitlines()
    )
    assert got == merged, (crash, v1, v2)
    assert not os.path.exists(path + A.TMP_SUFFIX)
    assert not os.path.exists(path + A.ASIDE_SUFFIX)
