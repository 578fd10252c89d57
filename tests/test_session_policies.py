"""The two session-wide dataflow policies in ``pyld_spark/session.py``.

- Lineage truncation (``cut_lineage``): reliable checkpoints once the
  SparkContext has a checkpoint directory, local ones otherwise. The
  iterative operators must give the same output either way, and with a
  directory set they must actually write checkpoint files there.
- Both decisions live in ``session.py`` only: no other module in the
  package calls ``localCheckpoint``/``checkpoint`` or reads either shuffle
  width (``spark.sql.shuffle.partitions``, ``defaultParallelism``) itself,
  no operator takes a per-call ``reliable`` flag, and the per-document
  kernel map takes its width from ``repartition_per_slot``.
"""

from __future__ import annotations

import ast
import contextlib
import json
import pathlib
import re

from pyld_spark.operators.canonicalize import canonicalize_triples
from pyld_spark.operators.communities import label_propagation
from pyld_spark.operators.components import connected_components
from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
from pyld_spark.operators.graph_stats import pagerank_fixed_point
from pyld_spark.operators.walks import random_walks

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pyld_spark"

EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "f"), ("f", "g")]

DOCS = {
    # distinct first-degree hashes: URDNA2015's simple path
    "chain": {
        "@context": {"@vocab": "http://v/"},
        "@id": "http://x/1",
        "knows": {"name": "a", "knows": {"name": "b"}},
    },
    # colliding first-degree hashes: hash-n-degree
    "sym-pair": {
        "@context": {"@vocab": "http://v/"},
        "@graph": [
            {"@id": "_:a", "link": {"@id": "_:b"}},
            {"@id": "_:b", "link": {"@id": "_:a"}},
        ],
    },
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _runs(spark):
    """name → zero-argument callable returning the operator's sorted rows."""
    edges = spark.createDataFrame(EDGES, ["src", "dst"])
    docs = spark.createDataFrame(
        [(k, json.dumps(v)) for k, v in DOCS.items()], ["conv_id", "doc"]
    )
    triples, _ = split_quarantine(docs_to_triples(docs))
    return {
        "connected_components": lambda: _rows(
            connected_components(edges, src="src", dst="dst")
        ),
        "pagerank_fixed_point": lambda: _rows(pagerank_fixed_point(edges, iters=3)),
        "label_propagation": lambda: _rows(label_propagation(edges, iters=3)),
        "random_walks": lambda: _rows(random_walks(edges, length=3, walks_per_node=2)),
        "canonicalize_triples": lambda: _rows(canonicalize_triples(triples)),
    }


#: operators that truncate no lineage: a checkpoint directory must leave
#: their output as it is and get no files from them
_NO_CHECKPOINT = {"canonicalize_triples"}


@contextlib.contextmanager
def _checkpoint_dir(spark, path):
    sc = spark.sparkContext
    sc.setCheckpointDir(str(path))
    try:
        yield
    finally:
        # there is no public way to unset the directory; clear it on the
        # JVM side so it cannot leak into the session-scoped fixture
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None


def test_reliable_checkpoints_keep_outputs_and_write_files(spark, tmp_path):
    runs = _runs(spark)
    local = {name: run() for name, run in runs.items()}
    assert all(local.values())

    written = {}
    with _checkpoint_dir(spark, tmp_path):
        for name, run in runs.items():
            before = len(list(tmp_path.glob("*/rdd-*")))
            assert run() == local[name], name
            written[name] = len(list(tmp_path.glob("*/rdd-*"))) - before
    assert all((n == 0) == (name in _NO_CHECKPOINT) for name, n in written.items()), written


def _package_sources():
    return sorted(PACKAGE.rglob("*.py"))


def test_lineage_and_shuffle_width_decided_only_in_session():
    banned = re.compile(
        r"localCheckpoint\(|\.checkpoint\(|[\"']spark\.sql\.shuffle\.partitions[\"']"
        r"|defaultParallelism"
    )
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{lineno}: {line.strip()}"
        for path in _package_sources()
        if path != PACKAGE / "session.py"
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not offenders, "\n".join(offenders)

    reliable_params = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {node.name}"
        for path in _package_sources()
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and "reliable" in {a.arg for a in node.args.args + node.args.kwonlyargs}
    ]
    assert not reliable_params, reliable_params

    # the per-document kernel map and the per-document groups take the
    # per-slot width from session.py and set no width of their own
    runner = ast.parse((PACKAGE / "operators" / "doc_runner.py").read_text())
    widths = {
        n.func.attr for n in ast.walk(runner)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    } & {"repartition", "coalesce", "repartitionByRange"}
    assert not widths, widths
    for name in ("map_docs", "map_doc_groups"):
        [fn] = [n for n in runner.body
                if isinstance(n, ast.FunctionDef) and n.name == name]
        assert "repartition_per_slot" in {
            n.func.id for n in ast.walk(fn)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        }, name
