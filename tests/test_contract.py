"""Driver-contract surface guards: every query wired end-to-end, no
silent rows-only downgrades from a typo'd oracle key."""

from __future__ import annotations

import __spark_entry__ as entrymod
import bench

# No rows-only queries: the approximate family
# (q90/q91/q93/q94/q109/q117) is gated via in-plan property checks
# whose expected values are plain SQL, so EVERY query is oracle-backed.
ROWS_ONLY: set[str] = set()


def test_every_query_has_oracle():
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    assert set(osql) <= set(qs), f"orphan oracles: {set(osql) - set(qs)}"
    assert set(qs) - set(osql) == ROWS_ONLY


def test_bench_covers_every_query():
    assert set(bench.BENCH_QUERIES) == set(entrymod.queries())


def test_baseline_covers_every_query():
    """Every registered query carries a committed sf0.1 baseline —
    without one a perf regression is invisible to bench.py's flag
    pass (``tools/certify.wiring_check`` is the tool-side twin of this
    check)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".benchmarks",
        "baseline_sf0.1.json",
    )
    with open(path) as fh:
        baseline = set(json.load(fh)["queries"])
    missing = set(entrymod.queries()) - baseline
    assert not missing, sorted(missing)


def test_oracle_sql_mentions_no_spark_syntax():
    for name, sql in entrymod.oracle_sql().items():
        assert "F." not in sql and "pyspark" not in sql, name


def test_gate_prefix_rotation_invariants():
    """The driver certifies only the FIRST 50 queries() entries — pin
    the rotation rules so a reorder can't silently waste the gate:
    at least 50 entries, every prefix entry oracle-backed, the
    composite pipelines (q92/q37) always in the prefix, and the
    queries that must be certified next in a certified slot."""
    names = list(entrymod.queries())
    assert len(names) >= 50
    prefix = set(names[:50])
    assert "q92_feature_pipeline" in prefix
    assert "q37_ingest_pipeline" in prefix
    # every prefix entry has an oracle (the approximate family via
    # property gates)
    osql = set(entrymod.oracle_sql())
    assert all(n in osql for n in prefix), sorted(prefix - osql)
    # must occupy certified slots: the newest registrations
    # (q234–q237), the plans changed since their last certification
    # (graph.py connected_components eager snapshot release →
    # q187/q189; market.py prepared_stats threshold guard →
    # q79/q213; q198/q199 degree_assortativity factoring + prepared
    # support edges), and the queries with the stalest driver rows
    must_certify = {
        "q234_", "q235_", "q236_", "q237_",
        "q187_", "q189_", "q79_", "q213_", "q198_", "q199_",
        "q20_", "q21_", "q25_", "q54_", "q59_", "q90_", "q91_",
        "q93_", "q94_", "q99_",
    }
    stranded = [
        n
        for n in names[50:]
        if any(n.startswith(p) for p in must_certify)
    ]
    assert stranded == [], stranded


def test_every_package_module_is_reachable_from_an_entry_point():
    """Every module of the package is imported, directly or through other
    package modules, from the CLI (``__main__.py``) or the query registry
    (``__spark_entry__.py``). A module only tests reach is dead weight.
    Static (stdlib ``ast``), so it needs no Spark: imports inside
    functions count, and importing ``a.b.c`` also runs ``a`` and
    ``a.b``'s ``__init__``."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = "big_data_project_datapipeline_spark"
    modules = {}
    for dirpath, _, files in os.walk(os.path.join(repo, pkg)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), repo)[:-3]
                parts = rel.split(os.sep)
                if parts[-1] == "__init__":
                    parts.pop()
                modules[".".join(parts)] = os.path.join(dirpath, f)

    def imported(name, path):
        """Package modules a module imports (itself a package if
        ``path`` is an ``__init__.py``)."""
        base = name if path.endswith("__init__.py") else name.rpartition(".")[0]
        out = set()
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level:
                    anchor = base.split(".")
                    anchor = anchor[: len(anchor) - (node.level - 1)]
                    mod = ".".join(anchor + ([mod] if mod else []))
                # ``from pkg import sub`` imports the submodule ``sub``
                targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
            else:
                continue
            for t in targets:
                parts = t.split(".")
                for i in range(1, len(parts) + 1):
                    if ".".join(parts[:i]) in modules:
                        out.add(".".join(parts[:i]))
        return out

    seen = set()
    todo = set()
    for entry in ("__spark_entry__.py", os.path.join(pkg, "__main__.py")):
        todo |= imported(pkg, os.path.join(repo, entry))
    todo.add(f"{pkg}.__main__")
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= imported(name, modules[name])
    assert sorted(set(modules) - seen) == []


def test_no_package_write_overwrites_in_place():
    """No package module calls ``.mode("overwrite")`` (or passes
    ``mode="overwrite"``): every write that replaces data is staged and
    swapped in by ``sinks._commit``, so a crash mid-write leaves the
    old or the new version, never a half-written one. Static (stdlib
    ``ast``), so it needs no Spark."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "big_data_project_datapipeline_spark")

    def overwrite(node):
        if not isinstance(node, ast.Call):
            return False
        args = list(node.args) if (
            isinstance(node.func, ast.Attribute) and node.func.attr == "mode"
        ) else []
        args += [k.value for k in node.keywords if k.arg == "mode"]
        return any(
            isinstance(a, ast.Constant) and a.value == "overwrite" for a in args
        )

    found = []
    for dirpath, _, files in os.walk(pkg):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                found += [
                    f"{os.path.relpath(path, repo)}:{node.lineno}"
                    for node in ast.walk(tree)
                    if overwrite(node)
                ]
    assert found == [], found


def test_driver_rows_enter_a_plan_only_through_local_frame():
    """No package module and not ``__spark_entry__.py`` calls
    ``createDataFrame`` except ``session.local_frame``: driver-side rows
    plan as a ``LocalRelation``, so no job reads a Python RDD and no
    registry query or cron job starts a Python worker for them. Static
    (stdlib ``ast``), so it needs no Spark."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "big_data_project_datapipeline_spark")
    paths = [os.path.join(repo, "__spark_entry__.py")] + [
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(pkg)
        for f in sorted(files)
        if f.endswith(".py")
    ]
    allowed = {(os.path.join("big_data_project_datapipeline_spark", "session.py"),
                "local_frame")}
    found = []
    for path in paths:
        rel = os.path.relpath(path, repo)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and (rel, getattr(top, "name", None)) not in allowed
                ):
                    found.append(f"{rel}:{node.lineno}")
    assert found == [], found
