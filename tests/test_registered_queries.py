"""CI gate for the 50 driver-slot catalog queries (``DRIVER_SLOTS``).

The authoritative check is the driver's sf0.01 gate, but that only runs
once per round — this module applies the identical driver-mimicking
comparison (row count, sorted columns, type-sensitive order-insensitive
value hash and integer-width drift vs the DuckDB oracle, through
``check_oracle.compare``) at sf0.001 on every pytest run, so a
regression in a registered query (e.g. an environment change in how
parquet timestamps are read) fails CI immediately instead of surfacing
in the next CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest

from tests.conftest import assert_matches_oracle, oracle_gate_results


def _registered_names():
    # all_catalogs auto-discovers every catalog module — the earlier
    # hardcoded import list froze this parametrization at the round-5
    # catalogs, and the round-7 rotation (which moved ALL registered
    # queries into later tiers) would have left the registered set with
    # ZERO per-query CI (round-7 find; same fix as test_extra_queries).
    from beacon_data_importer_spark import all_catalogs as catalog

    return sorted(catalog.DRIVER_SLOTS)


@pytest.fixture(scope="module")
def spark_results(request, spark):
    """Results of the selected driver-slot queries, computed once per
    module (``oracle_gate_results``)."""
    return oracle_gate_results(
        request, spark, "test_registered_query_matches_oracle"
    )


@pytest.mark.parametrize("name", _registered_names())
def test_registered_query_matches_oracle(duck, spark_results, name):
    assert_matches_oracle(spark_results, duck, name)


# ---------------------------------------------------------------------------
# Source guards over the catalog modules (AST only — no Spark session)
# ---------------------------------------------------------------------------

_CATALOG_SOURCES = sorted(
    glob.glob(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "beacon_data_importer_spark",
            "catalog*.py",
        )
    )
)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read())


def test_catalog_modules_have_no_unused_imports():
    """No linter runs in CI: this is the unused-import gate for the
    catalog modules (every ``from … import`` name must be referenced)."""
    dead = {}
    for path in _CATALOG_SOURCES:
        tree = _parse(path)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        names = [
            f"{node.lineno}:{a.asname or a.name}"
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.module != "__future__"
            for a in node.names
            if (a.asname or a.name) not in used
        ]
        if names:
            dead[os.path.basename(path)] = names
    assert not dead, f"unused imports: {dead}"


def _plain_view_registration(stmt: ast.stmt) -> bool:
    """True for a statement ``register_views`` reproduces exactly: a
    ``register_views``/``_views`` call, or ``read_table(...)`` +
    ``createOrReplaceTempView`` of tables without a parallel key (those
    two take the split-gated scan in ``register_views``, so a plain
    ``read_table`` view of them is a different plan)."""
    from beacon_data_importer_spark.sources.parquet import _PARALLEL_KEY

    src = ast.unparse(stmt)
    views = r"(_views|register_views)\(spark, sf_dir(, '\w+')*\)"
    if re.fullmatch(views, src):
        return True
    if isinstance(stmt, ast.For):
        m = re.fullmatch(
            r"for (\w+) in \(((?:'\w+',? ?)+)\):\n    "
            r"read_table\(spark, sf_dir, \1\)\.createOrReplaceTempView\(\1\)",
            src,
        )
        tables = re.findall(r"'(\w+)'", m.group(2)) if m else []
    else:
        m = re.fullmatch(
            r"read_table\(spark, sf_dir, '(\w+)'\)"
            r"\.createOrReplaceTempView\('\1'\)",
            src,
        )
        tables = [m.group(1)] if m else []
    return bool(m) and not set(tables) & set(_PARALLEL_KEY)


def test_pure_sql_queries_register_through_sql_query():
    """Ratchet: an ``@query`` whose body only registers views and
    returns ``spark.sql(R(SPARK))`` with ``oracle=R(DUCK)`` is exactly
    ``sql_query(name, R, *tables)`` — write it that way."""
    hand_written = []
    for path in _CATALOG_SOURCES:
        for fn in _parse(path).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            oracle = next(
                (
                    k.value
                    for d in fn.decorator_list
                    if isinstance(d, ast.Call) and ast.unparse(d.func) == "query"
                    for k in d.keywords
                    if k.arg == "oracle"
                ),
                None,
            )
            if not (
                isinstance(oracle, ast.Call)
                and isinstance(oracle.func, ast.Name)
                and [ast.unparse(a) for a in oracle.args] == ["DUCK"]
            ):
                continue
            body = fn.body[1:] if ast.get_docstring(fn) else fn.body
            if ast.unparse(body[-1]) == (
                f"return spark.sql({oracle.func.id}(SPARK))"
            ) and all(_plain_view_registration(s) for s in body[:-1]):
                hand_written.append(f"{os.path.basename(path)}:{fn.name}")
    assert not hand_written, f"use sql_query for: {hand_written}"


def test_sql_query_keeps_query_metadata():
    """A ``sql_query`` registration looks like the ``@query`` function
    it replaced: same module, ``q_<name>``, docstring, duck-rendered
    oracle (QUERIES.md and the driver read these)."""
    import __spark_entry__ as entry
    from beacon_data_importer_spark import catalog_r9f
    from beacon_data_importer_spark.catalog import DUCK

    fn = entry.queries()["trigram_novelty_curve"]
    assert fn.__module__.endswith("catalog_r9f")
    assert fn.__name__ == "q_trigram_novelty_curve"
    assert (fn.__doc__ or "").strip()
    assert (
        entry.oracle_sql()["trigram_novelty_curve"]
        == catalog_r9f._novelty_sql(DUCK)
    )


def test_driver_slots_are_the_only_slot_policy():
    """Ratchet: ``catalog.DRIVER_SLOTS`` is the one place that decides
    the driver's 50 slots.  No ``query``/``sql_query`` call takes a
    per-query ``registered`` flag, and no second registry
    (``EXTRA_QUERIES``/``EXTRA_ORACLES``) or oracle-exemption set
    (``ROWS_ONLY``) comes back."""
    retired = {"EXTRA_QUERIES", "EXTRA_ORACLES", "ROWS_ONLY"}
    pkg = os.path.dirname(_CATALOG_SOURCES[0])
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                callee = ast.unparse(node.func).split(".")[-1]
                if callee in ("query", "sql_query") and any(
                    k.arg == "registered" for k in node.keywords
                ):
                    found.append(f"{rel}:{node.lineno}: registered=")
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            else:
                names = [getattr(node, "id", None) or getattr(node, "attr", None)]
            found += [f"{rel}:{node.lineno}: {n}" for n in names if n in retired]
    assert not found, f"slot policy outside DRIVER_SLOTS: {found}"


def test_engine_spellings_live_in_dialect():
    """Ratchet: ``catalog.Dialect`` is the one place that decides how
    Spark and DuckDB spell a construct.  Outside that class and its two
    instances ``SPARK``/``DUCK``, no catalog module compares against
    ``"spark"``/``"duck"``, passes either as a call's first argument, or
    takes a ``dialect`` first parameter not annotated ``Dialect``."""
    engines = {"spark", "duck"}
    instances = ("SPARK = Dialect('spark')", "DUCK = Dialect('duck')")
    found = []
    for path in _CATALOG_SOURCES:
        tree = _parse(path)
        exempt = {
            id(n)
            for c in tree.body
            if (isinstance(c, ast.ClassDef) and c.name == "Dialect")
            or ast.unparse(c) in instances
            for n in ast.walk(c)
        }
        for node in ast.walk(tree):
            if id(node) in exempt:
                continue
            where = f"{os.path.basename(path)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Compare) and any(
                isinstance(x, ast.Constant) and x.value in engines
                for x in (node.left, *node.comparators)
            ):
                found.append(f"{where}: {ast.unparse(node)}")
            elif (
                isinstance(node, ast.Call)
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value in engines
            ):
                found.append(f"{where}: {ast.unparse(node)}")
            elif (
                isinstance(node, ast.FunctionDef)
                and node.args.args
                and node.args.args[0].arg == "dialect"
                and not (
                    isinstance(node.args.args[0].annotation, ast.Name)
                    and node.args.args[0].annotation.id == "Dialect"
                )
            ):
                found.append(f"{where}: def {node.name}(dialect) not Dialect")
    assert not found, f"{len(found)} engine spellings outside Dialect: {found}"


def test_staged_inputs_live_in_staging_meter():
    """Ratchet: ``plans/staging_meter.py`` is the one place that decides
    how long a staged input lives, what keys it, who serialises its
    build and who times it.  Elsewhere in the package, no subscript
    assignment caches a ``.localCheckpoint()`` and no module-level
    ``Lock()``/``RLock()`` guards a private stage-once cache."""
    pkg = os.path.dirname(_CATALOG_SOURCES[0])
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        if rel == os.path.join("plans", "staging_meter.py"):
            continue
        tree = _parse(path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Subscript) for t in node.targets)
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Attribute)
                and node.value.func.attr == "localCheckpoint"
            ):
                found.append(f"{rel}:{node.lineno}: {ast.unparse(node)}")
        module_level = (
            node
            for stmt in tree.body
            if not isinstance(stmt, (ast.FunctionDef, ast.ClassDef))
            for node in ast.walk(stmt)
        )
        for node in module_level:
            if isinstance(node, ast.Call) and (
                ast.unparse(node.func).split(".")[-1] in ("Lock", "RLock")
            ):
                found.append(f"{rel}:{node.lineno}: {ast.unparse(node)}")
    assert not found, f"{len(found)} stage-once caches outside staging_meter: {found}"
