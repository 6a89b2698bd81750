"""Every public operator must be reached by a declared query.

The walk is by name over the AST (comments and docstrings never
count). It starts from the roots a user or the driver can call:

* the code of ``__spark_entry__.py`` — ``queries()``, ``oracle_sql()``
  and their helpers, including the string ``fromlist=[...]`` imports;
* ``functions._SQL_UDFS`` / ``register_all`` and the public ``st_*``
  Column API;
* ``geobench/``, the benchmark harness.

From each reached name it follows every top-level definition of that
name anywhere in the package (def, class, module-level assignment or
import alias) and collects the names its code uses. A public top-level
``def``/``class`` in ``operators/`` or ``streaming/`` that the walk
never reaches is dead surface: delete it, or reach it from a declared
query.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

#: reference implementations no query calls but a remaining test
#: compares a reached operator against; each names that test
KEEP = {
    "grid_join": "tests/test_skew_hardening.py::"
                 "test_cogroup_dense_cell_blocked_matrix",
    "hilbert_key": "tests/test_hilbert.py::"
                   "test_frame_and_scalar_forms_agree",
    "js_unigram_divergence": "tests/test_evals_overlap.py::"
                             "test_js_flagged_equals_two_frame_operator",
}


def _docstrings(tree: ast.AST) -> set:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                out.add(id(body[0].value))
    return out


def _names(node: ast.AST, docstrings: set):
    """Identifiers a piece of code uses: names, attributes, imported
    names, and string literals that are whole identifiers (``getattr``
    / ``__import__(fromlist=...)`` targets)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier() and id(n) not in docstrings):
            yield n.value


def _parse(path: Path):
    tree = ast.parse(path.read_text(encoding="utf-8"))
    return tree, _docstrings(tree)


def unreached(repo: Path) -> list:
    """Sorted ``(module:line, name)`` of every public top-level
    def/class in ``operators/`` and ``streaming/`` the roots never
    reach."""
    pkg = repo / "datafusion_geo_spark"
    defs: dict = {}
    targets: dict = {}
    roots: set = set()

    for path in sorted(pkg.rglob("*.py")):
        tree, docs = _parse(path)
        scope = path.relative_to(pkg).parts[0]
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((st, docs))
                if scope in ("operators", "streaming") \
                        and not st.name.startswith("_"):
                    rel = path.relative_to(pkg).as_posix()
                    targets[st.name] = f"{rel}:{st.lineno}"
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                tgts = (st.targets if isinstance(st, ast.Assign)
                        else [st.target])
                for t in tgts:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append((st, docs))
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                # re-exports reach nothing; an alias is an edge
                for a in st.names:
                    if a.asname:
                        defs.setdefault(a.asname, []).append((a, docs))
            elif not (isinstance(st, ast.Expr) and id(st.value) in docs):
                # import-time code runs whenever the module is imported
                roots.update(_names(st, docs))

    for path in [repo / "__spark_entry__.py",
                 *sorted((repo / "geobench").rglob("*.py"))]:
        roots.update(_names(*_parse(path)))
    ftree, _ = _parse(pkg / "functions" / "__init__.py")
    roots |= {"_SQL_UDFS", "register_all"}
    roots |= {st.name for st in ftree.body
              if isinstance(st, ast.FunctionDef)
              and st.name.startswith("st_")}

    reached: set = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node, docs in defs.get(name, ()):
            todo.extend(n for n in _names(node, docs) if n not in reached)
    return sorted((loc, n) for n, loc in targets.items()
                  if n not in reached)


def test_every_public_operator_is_reached():
    dead = [f"{loc} {n}" for loc, n in unreached(REPO) if n not in KEEP]
    assert not dead, (
        "public operators no declared query reaches (delete them, or "
        "reach them from a declared query):\n  " + "\n  ".join(dead))


def test_keep_list_is_current():
    """Each keep-list entry is still unreached (otherwise it no longer
    needs the list) and its named test still exists and calls it."""
    flagged = {n for _, n in unreached(REPO)}
    for name, test_id in KEEP.items():
        assert name in flagged, f"{name} is reached; drop it from KEEP"
        path, test = test_id.split("::")
        tree, docs = _parse(REPO / path)
        fn = [st for st in tree.body
              if isinstance(st, ast.FunctionDef) and st.name == test]
        assert fn, f"{test_id} is gone; {name} lost its reason to stay"
        assert name in set(_names(fn[0], docs)), (test_id, name)


def test_walk_flags_an_unreached_operator(tmp_path):
    """The walk itself: a def only a docstring, a comment or an
    ``__all__`` list mentions is unreached; one called through a
    private helper or named by a ``getattr`` string is reached."""
    pkg = tmp_path / "datafusion_geo_spark"
    for sub in ("functions", "operators", "streaming"):
        (pkg / sub).mkdir(parents=True)
    (pkg / "functions" / "__init__.py").write_text(
        "_SQL_UDFS = {}\n\n\ndef register_all(spark):\n    pass\n")
    (pkg / "operators" / "ops.py").write_text(
        '__all__ = ["used", "orphan"]\n\n\n'
        'def used():\n    """orphan"""\n    return _helper()\n\n\n'
        "def _helper():\n    return via_helper()\n\n\n"
        "def via_helper():\n    pass\n\n\n"
        "def via_getattr():\n    pass\n\n\n"
        "def orphan():\n    pass\n")
    (pkg / "streaming" / "live.py").write_text(
        "def streaming_orphan():\n    # orphan()\n    pass\n")
    (tmp_path / "geobench").mkdir()
    (tmp_path / "__spark_entry__.py").write_text(
        "def queries():\n"
        "    # streaming_orphan() is mentioned in a comment only\n"
        "    from datafusion_geo_spark.operators import ops\n"
        '    return ops.used(), getattr(ops, "via_getattr")\n')
    assert [n for _, n in unreached(tmp_path)] == [
        "orphan", "streaming_orphan"]
