"""Pins the commit decision to ``sinks/atomic.py``: no other module in
the package commits a file or directory by rename/replace or appends
into a shared output path, except the listed sites (each with its
reason). A source scan, so it runs without Spark."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).parents[1] / "les_etl_pipeline_spark"

#: (module, enclosing function, operation) -> why it may bypass atomic.py
ALLOWED = {
    ("sinks/snapshot_store.py", "SnapshotStore._claim_rename", "os.rename"): (
        "SnapshotStore claim path: the store's commit point"
    ),
    ("queries/llm_data15.py", "_build_stream_index.write_batch", "append"): (
        "stream-source fixture: lands the input files a stream then reads"
    ),
    ("streaming/windows.py", "stream_to_lakehouse.write_batch", "append"): (
        "foreachBatch landing sink: exactly-once via the checkpointed batch id"
    ),
}


def _commit_sites() -> set[tuple[str, str, str]]:
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "sinks/atomic.py":
            continue

        def visit(node, scope):
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                    inner = f"{scope}.{child.name}" if scope else child.name
                if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                    f = child.func
                    if (
                        f.attr in ("rename", "replace")
                        and getattr(f.value, "id", None) == "os"
                    ):
                        found.add((rel, scope, f"os.{f.attr}"))
                    modes = [k.value for k in child.keywords if k.arg == "mode"]
                    if f.attr == "mode":
                        modes += child.args
                    if any(getattr(m, "value", None) == "append" for m in modes):
                        found.add((rel, scope, "append"))
                visit(child, inner)

        visit(ast.parse(path.read_text()), "")
    return found


def test_only_atomic_module_commits_by_rename_or_append():
    assert _commit_sites() == set(ALLOWED)


def test_retired_commit_helpers_are_gone():
    from les_etl_pipeline_spark.sinks import snapshot_store
    from les_etl_pipeline_spark.streaming import _exactly_once as xo
    from les_etl_pipeline_spark.streaming import ann_index

    for name in ("publish_segment", "recover_swap", "mark_complete", "is_complete"):
        assert not hasattr(xo, name), name
    assert not hasattr(ann_index, "_FLAT")
    # one commit point (the rename claim), one current-version source
    # (the validity chain): no marker-protocol or pointer-file helpers
    store_names = [
        n for n in vars(snapshot_store.SnapshotStore)
        if n == "_move" or any(w in n for w in ("marker", "finalize", "pointer"))
    ]
    assert store_names == []
    assert [n for n in vars(snapshot_store) if "MARKER" in n or n == "CURRENT"] == []
