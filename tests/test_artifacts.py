"""Consistency gates over the committed measurement artifacts.

The growth probes (SCALING.json, SHUFFLE.json) are committed evidence;
these tests pin the invariants the evidence rests on so the artifacts
can't silently rot as the registry evolves:

* every measured key is a real registry key (no orphaned measurements
  masquerading as coverage);
* the flag lists are empty — a superlinear wall-time op or an
  unadjudicated wire-amplifying op is a bug the probe caught, and the
  fix belongs in the operator, not in re-wording the artifact;
* every shuffle-probe adjudication names an op that was actually
  measured over the flag threshold (an adjudication for a key that no
  longer trips the rule is stale text).

Coverage is deliberately checked as subset, not equality: a newly added
operator doesn't invalidate the committed sweep, it just isn't measured
yet — the probes' own docstrings say when to re-run.
"""

from __future__ import annotations

import json
import os

import pytest

from assignment4_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str) -> dict:
    path = os.path.join(REPO, name)
    if not os.path.exists(path):
        pytest.skip(f"{name} not generated yet")
    with open(path) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def reg():
    registry.load_all()
    return registry


def test_scaling_artifact_keys_and_flags(reg):
    art = _load("SCALING.json")
    assert set(art["queries"]) <= set(reg.QUERIES)
    assert art["flagged_superlinear"] == []
    for name, row in art["queries"].items():
        ok = all(row[sf] >= 0 for sf in ("sf0.001", "sf0.01", "sf0.1"))
        assert ok, f"{name}: failed timing recorded in committed artifact"


def test_shuffle_artifact_keys_and_flags(reg):
    art = _load("SHUFFLE.json")
    assert set(art["queries"]) <= set(reg.QUERIES)
    assert art["flagged_amplifying"] == []
    for name, row in art["queries"].items():
        assert "error" not in row, f"{name}: probe error in committed artifact"


def test_shuffle_adjudications_are_live(reg):
    """Each adjudicated op must still measure over the flag threshold —
    otherwise the adjudication text describes a regime that no longer
    exists and should be deleted. The thresholds come from the artifact
    itself (the probe writes flag_ratio/min_flag_bytes alongside the
    measurements), so adjudications are always judged against the rule
    that generated them — no constant re-typing, no script exec."""
    art = _load("SHUFFLE.json")
    flag_ratio, min_bytes = art["flag_ratio"], art["min_flag_bytes"]
    for name in art["adjudicated_pre_asymptotic"]:
        row = art["queries"][name]
        assert row["shuffle_ratio"] > flag_ratio, (
            f"{name}: adjudicated but measured ratio {row['shuffle_ratio']} "
            "no longer trips the flag rule — stale adjudication"
        )
        assert row["sf0.1"]["shuffle_bytes"] >= min_bytes


def test_baseline_totals_derive_from_rows():
    """BASELINE.md's three totals lines are exactly what the baseline
    script's one totals rule sums from the committed table's rows."""
    from scripts.make_baseline import TABLE_RE, table_rows, totals

    with open(os.path.join(REPO, "BASELINE.md")) as f:
        text = f.read()
    lines = TABLE_RE.search(text).group(1).splitlines()
    want = [line for line in lines if line.startswith("| **total")]
    assert len(want) == 3
    assert totals(table_rows(text)) == want


def test_scripts_import_and_resolve():
    """Every scripts/*.py module imports, and every ``scripts.*`` name it
    imports, at module level or inside a function, exists — folding one
    script into another cannot leave a dangling import behind."""
    import ast
    import glob
    import importlib

    paths = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))
    assert paths
    for path in paths:
        stem = os.path.splitext(os.path.basename(path))[0]
        importlib.import_module(f"scripts.{stem}")
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith("scripts."):
                        importlib.import_module(alias.name)
            elif isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).startswith("scripts."):
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    assert hasattr(mod, alias.name), (
                        f"{stem}: {node.module}.{alias.name} does not exist"
                    )


def test_lakehouse_reads_parquet_through_one_helper():
    """In ``operators/lakehouse.py`` a SparkSession's ``.read`` appears
    only inside ``_read_parquet`` (the manifest-schema read every table
    and sidecar read goes through) and ``read_quarantine`` (the
    quarantine table's schema is not in the manifest): a new inferring
    read elsewhere would bring back a schema-inference job and a second
    schema source."""
    import ast

    path = os.path.join(REPO, "assignment4_spark", "operators", "lakehouse.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    readers = set()
    for top in tree.body:
        calls = {
            id(n.func) for n in ast.walk(top) if isinstance(n, ast.Call)
        }
        for node in ast.walk(top):
            # ``x.read.parquet(...)``: the property, not a ``f.read()`` call
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "read"
                and id(node) not in calls
            ):
                readers.add(getattr(top, "name", "<module>"))
    assert readers == {"_read_parquet", "read_quarantine"}
