"""Every function in the package reads each of its parameters. A parameter
that nothing reads is a knob that selects nothing: callers can set it and
no behaviour changes. The listed exceptions are signatures fixed by Spark
or by the query registry, each with its reason. A source scan, so it runs
without Spark."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).parents[1] / "les_etl_pipeline_spark"

#: (module, enclosing function, parameter) -> why it may go unread
ALLOWED = {
    ("streaming/windows.py", "stream_to_lakehouse.write_batch", "batch_id"): (
        "foreachBatch callback: Spark passes (batch_df, batch_id)"
    ),
    ("sources/pydatasource.py", "SynthDocsDataSource.reader", "schema"): (
        "DataSource.reader(schema) is the Python data source API signature"
    ),
    ("sources/pydatasource.py", "JsonlShardsDataSource.writer", "overwrite"): (
        "DataSource.writer(schema, overwrite) is the Python data source API signature"
    ),
    ("sources/pydatasource.py", "SynthEventsStreamDataSource.simpleStreamReader", "schema"): (
        "DataSource.simpleStreamReader(schema) is the Python data source API signature"
    ),
    ("queries/etl_semantics.py", "etl_cast_engine", "sf_dir"): (
        "QueryFn(spark, sf_dir): the query builds its own input rows"
    ),
    ("queries/setops_json.py", "scalar_multiformat_date", "sf_dir"): (
        "QueryFn(spark, sf_dir): the query builds its own input rows"
    ),
    ("queries/setops_json.py", "scalar_transliterate", "sf_dir"): (
        "QueryFn(spark, sf_dir): the query builds its own input rows"
    ),
}


def _unread_parameters() -> set[tuple[str, str, str]]:
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def visit(node, scope):
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    inner = f"{scope}.{child.name}" if scope else child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = child.args
                    params = [p.arg for p in (*a.posonlyargs, *a.args, *a.kwonlyargs,
                                              a.vararg, a.kwarg) if p is not None]
                    read = {n.id for stmt in child.body for n in ast.walk(stmt)
                            if isinstance(n, ast.Name)}
                    found.update((rel, inner, p) for p in params
                                 if p not in ("self", "cls") and p not in read)
                visit(child, inner)

        visit(ast.parse(path.read_text()), "")
    return found


def test_every_parameter_is_read():
    assert _unread_parameters() == set(ALLOWED)
