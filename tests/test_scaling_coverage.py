"""Meta-gates over the published scale evidence: the lane must keep
covering the catalog as it grows, and super-linear ratios must carry a
SCALE.md adjudication — the invariants the 100-TB story rests on."""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Newly-registered queries may trail the lane by one working session,
# but the gap must stay small — a growing gap means the evidence is
# rotting.
MAX_UNMEASURED = 10


def _scaling():
    with open(os.path.join(REPO, "SCALING.json")) as fh:
        return json.load(fh)["queries"]


def test_lane_covers_the_catalog():
    from olist_snowflake_dbt_spark.queries import QUERIES

    measured = set(_scaling())
    missing = sorted(set(QUERIES) - measured)
    assert len(missing) <= MAX_UNMEASURED, (
        f"{len(missing)} registered queries have no SCALING.json entry "
        f"(> {MAX_UNMEASURED}): {missing[:15]} — run tools/scale_bench.py "
        f"--only <names>"
    )


def test_no_unadjudicated_super_linear():
    with open(os.path.join(REPO, "SCALE.md")) as fh:
        scale_md = fh.read()
    offenders = [
        name
        for name, m in _scaling().items()
        if m.get("ratio", 0) > 10 and name not in scale_md
    ]
    assert not offenders, (
        f"super-linear (wall ratio > data ratio) without a SCALE.md "
        f"adjudication: {offenders}"
    )


def test_lane_entries_are_well_formed():
    for name, m in _scaling().items():
        assert m.get("sf0.1", 0) > 0 and m.get("sf1", 0) > 0, name
        assert m.get("ratio", None) is not None, name
