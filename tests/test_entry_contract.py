"""Mimics the driver's verify: run each queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet tables; compare row count,
column names, and (order-insensitively) exact values — floats included,
since every float is produced by an IEEE-identical expression on both sides.
"""

import math
import os

import duckdb
import numpy as np
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"
TABLES = ["documents"]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return c


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(E.oracle_sql().keys()))
def test_query_matches_duckdb_oracle(spark, con, name):
    q = E.queries()[name]
    sp = _normalize(q(spark, SF).toPandas())
    dk = _normalize(con.sql(E.oracle_sql()[name]).df())
    assert list(sp.columns) == list(dk.columns), (sp.columns, dk.columns)
    assert len(sp) == len(dk)
    for c in sp.columns:
        a, b = sp[c].to_numpy(), dk[c].to_numpy()
        if np.issubdtype(sp[c].dtype, np.floating):
            assert np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True), c
        else:
            mism = [
                (x, y) for x, y in zip(a, b)
                if x != y and not (_isnan(x) and _isnan(y))
            ]
            assert not mism, (c, mism[:5])


def _isnan(v):
    try:
        return v is None or (isinstance(v, float) and math.isnan(v))
    except Exception:
        return False


def test_rows_only_queries_run(spark):
    # non-SQL-expressible entries: must run and return >= 0 rows, stable schema
    for name in sorted(set(E.queries()) - set(E.oracle_sql())):
        df = E.queries()[name](spark, SF)
        n = df.count()
        assert n >= 0
        assert len(df.columns) > 0


def test_bench_queries_are_registered_once():
    import bench

    names = bench.BENCH_QUERIES
    assert [n for n in names if n not in E.queries()] == []
    assert len(set(names)) == len(names)


def _operators_md_query_names():
    """Query cells of OPERATORS.md's `| query | ...` tables, combined
    cells ("a / b") split; parenthesised cells name a pipeline rule or a
    helper, not a registered query."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names, in_table = [], False
    with open(os.path.join(repo, "OPERATORS.md")) as f:
        for line in f:
            if not line.startswith("|"):
                in_table = False
                continue
            cell = line.split("|")[1].strip()
            if cell == "query":
                in_table = True
            elif in_table and not cell.startswith(("---", "(")):
                names += [n.strip() for n in cell.split(" / ")]
    return names


def test_operators_md_rows_match_registry():
    names = _operators_md_query_names()
    assert sorted(set(names) - set(E.queries())) == []
    assert sorted(set(E.queries()) - set(names)) == []
    assert len(set(names)) == len(names)


# module-level word lists of __spark_entry__.py that hold stopwords but
# are other checks, not a copy of corpora.STOPWORDS
_OTHER_WORD_LISTS = {
    "_WM_WORDS": "watermark green-list vocabulary",
    "DANGLING_WORDS": "words a cut-off sentence ends on (truncation_scan)",
    "QUESTION_WORDS": "question openers (dialog_acts)",
}


def test_entry_restates_no_rule_parameter():
    """A rule's parameters are written once, in config.DEFAULT_SETTINGS,
    corpora, rules.pii and ops.text; __spark_entry__.py imports them.
    Fails when its text spells out a PII pattern or PUNCT_CLASS, or holds
    a run of three quoted stopwords (a re-typed stopword list, in Python
    or in a SQL twin), or when a module-level name is bound to a literal
    equal to a DEFAULT_SETTINGS value, int settings included (only bools
    are skipped: True/False would match any 1/0)."""
    import ast
    import re

    from qamd_spark import corpora
    from qamd_spark.config import DEFAULT_SETTINGS
    from qamd_spark.ops.text import PUNCT_CLASS
    from qamd_spark.rules.pii import PII_PATTERNS

    with open(E.__file__, encoding="utf-8") as f:
        src = f.read()
    for lit in [rx.pattern for _, rx, _ in PII_PATTERNS] + [PUNCT_CLASS]:
        # as written in a raw string and in a plain one
        for spelling in {lit, lit.replace("\\", "\\\\")}:
            assert spelling not in src, f"re-typed rule pattern {spelling!r}"

    tree = ast.parse(src)
    assigns = [n for n in tree.body if isinstance(n, ast.Assign)]
    lines = src.split("\n")
    for node in assigns:
        if any(getattr(t, "id", None) in _OTHER_WORD_LISTS for t in node.targets):
            for i in range(node.lineno - 1, node.end_lineno):
                lines[i] = ""
    stop = set(corpora.STOPWORDS)
    quoted = r"""['"]([a-z]+)['"]"""
    for run in re.finditer(rf"{quoted}(?:\s*,\s*{quoted})+", "\n".join(lines)):
        words = re.findall(quoted, run.group(0))
        for i in range(len(words) - 2):
            assert not set(words[i:i + 3]) <= stop, (
                f"re-typed stopword run {run.group(0)[:60]!r}"
            )

    def norm(v):
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        return v

    values = []
    for v in DEFAULT_SETTINGS.values():
        if v is None or isinstance(v, bool):
            continue
        values.append(norm(v))
        if isinstance(v, dict):
            values.append(norm(list(v.values())))
    for node in assigns:
        try:
            lit = norm(ast.literal_eval(node.value))
        except ValueError:
            continue
        names = [ast.unparse(t) for t in node.targets]
        assert lit not in values, f"{names} restates a DEFAULT_SETTINGS value"


# top-level qamd_spark names that only tests call, on purpose (the pandas
# and pure-Python twins, named *_py / *_pdf, are exempt by name)
_TEST_ONLY_LIBRARY = {
    ("qamd_spark.io", "csv_metadata"): "the reference's CSV metadata golden",
    ("qamd_spark.io", "write_bucketed_table"): "the co-located-join plan pin",
}


def _reached_library():
    """Static walk from the program's roots: the module-level code of
    every module outside tests/ (qamd_spark's import-time statements, and
    the scripts main.py, bench.py, perfbench/*.py and scripts/*.py) and
    the bodies of queries(), oracle_sql() and entry() in
    __spark_entry__.py. A reached function or class has its whole body
    walked; so is a module-level assignment once a name it binds is
    reached. Names resolve through the module's own top-level definitions
    and through its imports, wherever in the file they are (lazy imports
    included), so ``dd.f`` after ``from qamd_spark.ops import dedup as
    dd`` reaches ``qamd_spark.ops.dedup.f``. Returns every top-level
    function and class, every name a module-level assignment or import
    binds, and the reached ones, as (module, name) keys. oracle/ is
    walked only where reached code calls it: its twins serve the tests."""
    import ast
    from pathlib import Path

    repo = Path(E.__file__).resolve().parent
    paths = {}
    for p in sorted(repo.glob("qamd_spark/**/*.py")) + sorted(repo.glob("oracle/*.py")):
        parts = p.relative_to(repo).with_suffix("").parts
        paths[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = p
    for name in ("__spark_entry__", "bench"):
        paths[name] = repo / f"{name}.py"
    for d in ("perfbench", "scripts"):
        for p in sorted((repo / d).glob("*.py")):
            paths[p.stem] = p  # run as scripts: siblings import each other bare
    trees = {m: ast.parse(p.read_text(encoding="utf-8")) for m, p in paths.items()}
    scopes = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    defs = {(m, n.name): n for m, t in trees.items() for n in t.body
            if isinstance(n, scopes)}
    # module-level `X = ...` / `X, Y = ...`: walked lazily, like a def
    values = {}
    for m, t in trees.items():
        for n in t.body:
            if isinstance(n, (ast.Assign, ast.AnnAssign)):
                targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                if all(isinstance(x, (ast.Name, ast.Tuple)) for x in targets):
                    for x in targets:
                        for v in ast.walk(x):
                            if isinstance(v, ast.Name):
                                values[m, v.id] = n
    bound = {(m, (a.asname or a.name).split(".")[0])
             for m, t in trees.items() for n in t.body
             if isinstance(n, (ast.Import, ast.ImportFrom))
             and getattr(n, "module", None) != "__future__" for a in n.names}

    # per module: local name -> {(module, None) | (module, attr)}
    imports = {m: {} for m in trees}
    for m, t in trees.items():
        for n in ast.walk(t):
            if isinstance(n, ast.Import):
                for a in n.names:
                    tgt = a.name if a.asname else a.name.split(".")[0]
                    imports[m].setdefault(a.asname or tgt, set()).add((tgt, None))
            elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
                for a in n.names:
                    sub = f"{n.module}.{a.name}"
                    tgt = (sub, None) if sub in trees else (n.module, a.name)
                    imports[m].setdefault(a.asname or a.name, set()).add(tgt)

    reached, work = set(), []

    def reach(mod, name, seen=frozenset()):
        node = defs.get((mod, name)) or values.get((mod, name))
        if node is not None:
            if (mod, name) not in reached:
                reached.add((mod, name))
                work.append((mod, node))
        elif mod in imports and (mod, name) not in seen:  # imported by mod
            if (mod, name) in bound:
                reached.add((mod, name))
            for tgt_mod, attr in imports[mod].get(name, ()):
                if attr is not None:
                    reach(tgt_mod, attr, seen | {(mod, name)})

    def visit(mod, node):
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                reach(mod, n.id)
            elif isinstance(n, ast.Attribute):
                chain, base = [], n
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if not isinstance(base, ast.Name):
                    continue
                for cur, attr in imports[mod].get(base.id, ()):
                    if attr is not None:
                        continue
                    for part in reversed(chain):  # a.b.c: longest module prefix
                        if f"{cur}.{part}" not in trees:
                            reach(cur, part)
                            break
                        cur = f"{cur}.{part}"

    lazy = set(values.values())
    for m, t in trees.items():
        for stmt in t.body:
            if isinstance(stmt, scopes):
                for d in stmt.decorator_list:
                    visit(m, d)
            elif not m.startswith("oracle") and stmt not in lazy:
                visit(m, stmt)
    for name in ("queries", "oracle_sql", "entry"):
        reach("__spark_entry__", name)
    while work:
        visit(*work.pop())
    return defs, set(values) | bound, reached


def test_no_library_code_only_tests_reach():
    """Every top-level qamd_spark function and class is reached from a
    command, the registry, the benchmarks or the scripts (see
    _reached_library). Code that only tests call is dead to users: delete
    it with its test, or name it in _TEST_ONLY_LIBRARY with the reason."""
    defs, _, reached = _reached_library()
    unreached = sorted(
        (m, n) for m, n in defs
        if m.startswith("qamd_spark") and (m, n) not in reached
        and not n.endswith(("_py", "_pdf")) and (m, n) not in _TEST_ONLY_LIBRARY
    )
    assert unreached == []
    assert set(_TEST_ONLY_LIBRARY) <= set(defs) - reached


def _unused_imports(tree):
    """(line, name) of each import whose bound name is never loaded in
    the scope that binds it: the module for a module-level import (its
    functions read module names too), else the enclosing function with
    its nested functions. ``from __future__`` imports are exempt."""
    import ast

    scopes = (ast.FunctionDef, ast.AsyncFunctionDef)
    bound = {}

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.Import, ast.ImportFrom)):
                if getattr(child, "module", None) != "__future__":
                    for a in child.names:
                        name = a.asname or a.name.split(".")[0]
                        bound.setdefault(scope, []).append((child.lineno, name))
            visit(child, child if isinstance(child, scopes) else scope)

    visit(tree, tree)
    unused = []
    for scope, pairs in bound.items():
        loaded = {n.id for n in ast.walk(scope)
                  if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        unused += [(line, name) for line, name in pairs if name not in loaded]
    return sorted(unused)


def test_no_unused_imports():
    """No import binds a name its scope never reads, module-level or
    function-local, in the program (qamd_spark/, oracle/, scripts/, the
    top-level scripts) or in tests/. The project depends on no linter,
    so this test is the check."""
    import ast
    from pathlib import Path

    repo = Path(E.__file__).resolve().parent
    paths = [*repo.glob("*.py"), *repo.glob("qamd_spark/**/*.py"),
             *repo.glob("oracle/*.py"), *repo.glob("scripts/*.py"),
             *repo.glob("tests/**/*.py")]
    unused = [
        f"{p.relative_to(repo)}:{line} {name}"
        for p in sorted(paths)
        for line, name in _unused_imports(ast.parse(p.read_text(encoding="utf-8")))
    ]
    assert unused == []


def test_registry_module_has_no_dead_names():
    """Every top-level function of __spark_entry__.py, and every name a
    module-level assignment or import there binds, is reached from a
    program root (see _reached_library; tests/ is not a root). A query's
    helper or constant left behind when the query goes fails here."""
    defs, names, reached = _reached_library()
    top = {k for k in (*defs, *names) if k[0] == "__spark_entry__"}
    assert sorted(n for _, n in top - reached) == []


def test_registry_reads_only_documents():
    """The pipeline's input is one transcript table; of the test-data
    tables only documents.parquet has its shape (FIXTURES.md §5). The
    registry reads it and nothing else: no events clickstream, no
    embeddings, no TPC-H table. Fails on any other ``*.parquet`` named in
    __spark_entry__.py, a computed name included."""
    import re

    with open(E.__file__, encoding="utf-8") as f:
        src = f.read()
    named = set(re.findall(r"([\w{}]+)\.parquet\b(?!\()", src))
    assert named == {"documents"}


def test_entry_runs(spark):
    df = E.entry(spark)
    assert df.count() > 0


def test_lang_agreement_composes_from_langid_docs(spark):
    """lang_agreement (rows-only) must equal the direct composition of
    the langid prediction with the declared lang column — cell counts
    sum to the corpus size and match a pandas groupby of the same join."""
    got = (
        E.queries()["lang_agreement"](spark, SF)
        .toPandas()
        .sort_values(["decl_lang", "pred_lang"])
        .reset_index(drop=True)
    )
    pred = E.queries()["langid_docs"](spark, SF).toPandas()[["doc_id", "lang"]]
    pred["doc_id"] = pred["doc_id"].astype("int64")  # langid_docs emits string ids
    decl = spark.read.parquet(f"{SF}/documents.parquet").toPandas()[
        ["doc_id", "lang"]
    ]
    want = (
        pred.merge(decl, on="doc_id", suffixes=("_pred", "_decl"))
        .groupby(["lang_decl", "lang_pred"])
        .size()
        .reset_index(name="n")
        .sort_values(["lang_decl", "lang_pred"])
        .reset_index(drop=True)
    )
    assert got["n"].sum() == len(decl)
    assert len(got) == len(want)
    assert (got["decl_lang"].to_numpy() == want["lang_decl"].to_numpy()).all()
    assert (got["pred_lang"].to_numpy() == want["lang_pred"].to_numpy()).all()
    assert (got["n"].to_numpy() == want["n"].to_numpy()).all()
    assert (
        got["agree"].to_numpy()
        == (got["decl_lang"] == got["pred_lang"]).to_numpy()
    ).all()


def test_neardup_by_source_composes_from_minhash_pairs(spark):
    """neardup_by_source (rows-only) must equal the pandas composition of
    the bit-exact-pinned minhash pair set with the doc→source map."""
    from qamd_spark.ops import dedup as dd

    got = {
        (r["dup_source"], r["keep_source"]): r["n_pairs"]
        for r in E.queries()["neardup_by_source"](spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = dd.minhash_duplicates(docs).toPandas()
    src = docs.select("doc_id", "source").toPandas().set_index("doc_id")["source"]
    want = {}
    for d, k in zip(pairs["doc_id"], pairs["dup_of"]):
        key = (src[d], src[k])
        want[key] = want.get(key, 0) + 1
    assert got == want and sum(got.values()) == len(pairs)
