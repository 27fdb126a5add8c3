"""Check self-test: each workload's check, fed a corrupted expected
answer, must count a failed operation. Needs no Spark session.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.checks import Ops, close_map, equal, precision_recall  # noqa: E402
from perfbench.gen import RDF_QUERIES, rdf_corpus  # noqa: E402


def _counts(ops: Ops, name: str, failures: list[str]) -> tuple[int, int]:
    ops.check(name, failures)
    return ops.attempted, ops.failed


def test_kg_build_precision_recall_check():
    got = {("s", "p", str(i)) for i in range(100)}
    ops = Ops()
    assert _counts(ops, "kg_build precision/recall", precision_recall(got, set(got))) == (1, 0)
    corrupted = {("s", "p", str(i)) for i in range(10, 110)}  # 10% wrong
    assert _counts(ops, "kg_build precision/recall", precision_recall(got, corrupted)) == (2, 1)
    # the digest stability check
    assert _counts(ops, "kg_build quad digest", equal("digest", (5, 7), (5, 8))) == (3, 2)


def test_kg_ingest_graph_check():
    ops = Ops()
    assert _counts(ops, "kg_ingest final graph", equal("graph digest", "ab12", "ab12")) == (1, 0)
    assert _counts(ops, "kg_ingest final graph", equal("graph digest", "ab12", "ab13")) == (2, 1)


def test_rdf_pipeline_checks():
    _lines, exp = rdf_corpus(3, n_people=50, n_orgs=4, n_social=20, n_bnodes=10, n_bad=2)
    assert set(RDF_QUERIES) <= set(exp)
    ops = Ops()
    for name in RDF_QUERIES:
        ops.check(name, equal(name, list(exp[name]), exp[name]))
    assert (ops.attempted, ops.failed) == (3, 0)
    corrupted = dict(exp, topk=list(reversed(exp["topk"])))
    ops.check("topk", equal("topk", exp["topk"], corrupted["topk"]))
    assert ops.failed == 1
    ops.check("counts", equal("rows, err_rows", (exp["rows"], 2), (exp["rows"], 3)))
    assert ops.failed == 2


def test_graph_iterate_checks():
    ops = Ops()
    want = {"a": 0.25, "b": 0.75}
    assert _counts(ops, "pagerank", close_map("pagerank", {"a": 0.2500001, "b": 0.75}, want, 1e-6)) == (1, 0)
    assert _counts(ops, "pagerank", close_map("pagerank", {"a": 0.26, "b": 0.74}, want, 1e-6)) == (2, 1)
    assert _counts(ops, "components", equal("components", {"x": "a"}, {"x": "b"})) == (3, 2)


def test_raising_operation_counts_as_failed():
    ops = Ops()

    def boom():
        raise RuntimeError("no output")

    assert ops.run("pass", boom) is None
    assert (ops.attempted, ops.failed) == (1, 1)
