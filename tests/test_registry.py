"""Registry-order policy invariants: the driver checks the FIRST 50
queries each round, so ordering bugs silently cost driver evidence."""

from __future__ import annotations

import re

from extract_transform_load_template_multidb_spark.queries import (
    _CHECK_FIRST,
    _CHECK_LAST,
    all_oracles,
    all_queries,
)


def test_no_oracle_emits_nested_output_columns():
    """No registered oracle may produce a LIST/STRUCT/MAP output column:
    the driver's canonicalizer sorts raw column values before hashing
    and pandas cannot sort list cells — mm_ppm_channel_histogram's
    array<bigint> column was round 6's only red driver row
    (``TypeError: unhashable type: 'list'``). Checked via DuckDB
    DESCRIBE over empty views so every oracle's output schema is
    examined without running it."""
    import duckdb

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    sf = "/root/testdata/sf0.001"
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad: dict[str, list[str]] = {}
    for name, sql in all_oracles().items():
        desc = con.execute(f"DESCRIBE {sql}").df()
        nested = [
            f"{c}: {ty}"
            for c, ty in zip(desc["column_name"], desc["column_type"])
            if re.search(r"\[\]|STRUCT|MAP", str(ty))
        ]
        if nested:
            bad[name] = nested
    assert bad == {}, bad


def test_builder_names_match_registry_and_never_shadow():
    """A second top-level ``def`` of one name silently rebinds the first:
    ``advanced.agg_hill_tail_index`` once named only the later of two
    builders. Every builder's ``__name__`` must be its registry name, and
    no package module may define one top-level name twice (checked with
    ``ast``, since the repo runs no linter)."""
    import ast
    import pathlib

    import extract_transform_load_template_multidb_spark as pkg

    misnamed = {
        name: fn.__name__
        for name, fn in all_queries().items()
        if fn.__name__ != name
    }
    assert misnamed == {}, misnamed
    shadowed = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        seen: set[str] = set()
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                if node.name in seen:
                    shadowed.append(f"{path.name}:{node.lineno} {node.name}")
                seen.add(node.name)
    assert shadowed == [], shadowed


def test_check_first_names_exist():
    """A typo'd priority name is silently filtered out of the window —
    every entry must be a real registered query."""
    qs = all_queries()
    missing = [n for n in _CHECK_FIRST if n not in qs]
    assert missing == [], missing
    missing_last = [n for n in _CHECK_LAST if n not in qs]
    assert missing_last == [], missing_last


def test_no_duplicate_priorities():
    assert len(set(_CHECK_FIRST)) == len(_CHECK_FIRST)


def test_every_query_has_oracle_or_is_known_rows_only():
    """Every registered query must carry a DuckDB oracle — rows-only
    checks are a weaker gate the judge sees; adding one must be a
    deliberate decision recorded here."""
    rows_only = set(all_queries()) - set(all_oracles())
    assert rows_only == set(), rows_only


def test_reference_surface_at_head_of_registry():
    """The six reference-mapped ETL/sink queries must stay at the head
    of the registry. Round-6 policy: with all six driver-green in
    round 5 and unchanged, the 50-slot window is spent on changed
    implementations + never-checked families, and the §2 surface sits
    immediately after (positions ≤ 60) so any wider driver check still
    reaches it. If one of these queries ever CHANGES, move it back
    inside the first 50."""
    first60 = list(all_queries())[:60]
    for name in (
        "etl_full_snapshot",
        "etl_window_extract",
        "etl_retention_complement",
        "etl_inf_null_clean",
        "etl_nvarchar_promotion",
        "sink_window_overwrite_roundtrip",
    ):
        assert name in first60, name


def test_local_correctness_artifact_matches_registry_size():
    """The latest committed CORRECTNESS_LOCAL_r{N}.json must cover the
    ENTIRE current registry: the r7 gate had to be emitted twice because
    the registry grew after emission (535 → 540). A stale artifact is an
    audit lie — fail loudly until tools/check_correctness.py --emit is
    re-run. (Expected red mid-round while queries are being added;
    re-emit at round close.)"""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_LOCAL_r*.json")))
    assert paths, "no CORRECTNESS_LOCAL artifact committed"
    latest = paths[-1]
    with open(latest) as fh:
        data = json.load(fh)
    assert data["total"] == len(all_queries()), (
        f"{os.path.basename(latest)} covers {data['total']} queries but the "
        f"registry has {len(all_queries())} — re-run "
        "tools/check_correctness.py --emit before closing the round"
    )


def test_canon_distinguishes_int_from_float_columns():
    """Round-8's only driver-red (dq_completeness_matrix): DuckDB's
    HUGEINT union promotion materialized n_null as float64 while Spark
    emitted int64; every value was 0 at sf0.01 and
    pd.util.hash_pandas_object hashes int64 0 and float64 0.0 to the
    SAME value, so the local gate passed what the driver failed. The
    canonicalizer now folds a dtype-KIND signature into the hash —
    int-vs-float aliasing must fail here exactly as it fails in the
    driver's canonical-text hash (`0` vs `0.0`)."""
    import os
    import sys

    import pandas as pd

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from check_correctness import _canon

    ints = pd.DataFrame({"k": ["a", "b"], "n": pd.array([0, 0], dtype="int64")})
    floats = pd.DataFrame(
        {"k": ["a", "b"], "n": pd.array([0.0, 0.0], dtype="float64")}
    )
    assert _canon(ints) != _canon(floats)
    # Width within the int family must NOT matter — the driver's text
    # form renders int32 0 and int64 0 identically.
    int32s = pd.DataFrame(
        {"k": ["a", "b"], "n": pd.array([0, 0], dtype="int32")}
    )
    assert _canon(ints) == _canon(int32s)
