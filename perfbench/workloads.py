"""The workloads. Each one generates its inputs in ``setup``, runs one
pass of sopspark's public functions in ``run_pass`` (the timed part, which
returns its wall-clock seconds), checks the pass's output outside the
timed region, and runs the same pass under the span recorder in
``traced_pass``. ``items`` is the input size a pass processes.

Sizes are fixed per workload so that a run with set-up, warm-up and its
timed passes fits the benchmark's run budget on 4 cores (README.md).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

import perfbench.gen as gen
from perfbench.checks import close_map, equal, precision_recall

ASSEMBLE = "kg.extract.assemble_turns"
EXTRACT = "kg.extract.extract_triples"
LINK = "kg.link.link_entities"
SAMEAS = "kg.canon.sameas_closure"
MATERIALIZE = "kg.canon.materialize_graph"
MERGE = "kg.canon.merge_incremental"
INGEST = "streaming.pipeline.streaming_kg_ingest"
PARSE = "sources.ntriples.parse_ntriples"
FILTER = "operators.filter_map.filter_quads"
SPARQL = "functions.sparql.sparql_query"
CANON = "operators.canonicalize.canonicalize"
SERIALIZE = "operators.serialize.serialize_nquads"
CC = "plans.graph.connected_components"
PAGERANK = "kg.graphalgo.pagerank"
LPA = "kg.graphalgo.label_propagation"

LAYERS = [
    ASSEMBLE, EXTRACT, LINK, SAMEAS, MATERIALIZE, MERGE, INGEST,
    PARSE, FILTER, SPARQL, CANON, SERIALIZE, CC, PAGERANK, LPA,
]
# layers that run Python operators (Arrow batches to and from Python workers)
PYTHON_LAYERS = [EXTRACT, INGEST, PARSE]
RATIOS = {
    f"{LINK}.link_ratio": "ratio",
    f"{MATERIALIZE}.dedup_ratio": "ratio",
    f"{CANON}.bnode_share": "ratio",
    f"{PARSE}.err_rows": "count",
    f"{INGEST}.jobs_per_batch": "count",
    f"{PAGERANK}.round_s": "s",
    f"{LPA}.round_s": "s",
}
PAGERANK_ITERS = 3
LPA_ITERS = 2


@contextmanager
def patched(module, name: str, value):
    old = getattr(module, name)
    setattr(module, name, value)
    try:
        yield
    finally:
        setattr(module, name, old)


# --- kg_build -----------------------------------------------------------------

def kg_graph(spark, transcripts):
    """transcripts -> sameAs-merged quads, the one-shot KG build."""
    from sopspark.kg.canon import materialize_graph, sameas_closure
    from sopspark.kg.extract import assemble_turns, extract_triples
    from sopspark.kg.link import link_entities
    from sopspark.kg.synth import alias_df, sameas_df

    linked = link_entities(extract_triples(assemble_turns(transcripts)), alias_df(spark))
    return materialize_graph(linked, sameas_closure(sameas_df(spark)))


def quad_digest(quads) -> tuple:
    """(count, order-free hash) of the canonical lines; computing it is
    the action that runs the whole build."""
    from sopspark.terms import nq_line

    row = (
        quads.select(nq_line(F.col("s"), F.col("p"), F.col("o"), F.col("g")).alias("line"))
        .agg(F.count(F.lit(1)), F.expr("bit_xor(xxhash64(line))"))
        .collect()[0]
    )
    return (row[0], row[1])


class KgBuild:
    name = "kg_build"
    unit = "turns"
    n_convs = 48_000
    partitions = 8
    layers = [ASSEMBLE, EXTRACT, LINK, SAMEAS, CC, MATERIALIZE, MERGE, INGEST]

    def setup(self, spark, seed, work):
        self.work = work
        self.tr, self.items, digest, self.expected = gen.kg_corpus(
            spark, self.n_convs, seed, self.partitions
        )
        return {"transcripts": digest, "turns": self.items}

    def warmup(self, spark, ops):
        from sopspark.kg.canon import sameas_closure
        from sopspark.kg.synth import sameas_df

        quads = kg_graph(spark, self.tr).persist()
        self.digest = quad_digest(quads)
        got = {(r.s.value, r.p.value, r.o.value) for r in quads.select("s", "p", "o").collect()}
        quads.unpersist()
        rep = {r.iri: r.rep for r in sameas_closure(sameas_df(spark)).collect()}
        want = {(rep.get(s, s), p, rep.get(o, o)) for s, p, o in gen.expected_triples(self.expected)}
        ops.check("kg_build precision/recall", precision_recall(got, want))

    def run_pass(self, spark, ops):
        t0 = time.perf_counter()
        d = quad_digest(kg_graph(spark, self.tr))
        wall = time.perf_counter() - t0
        ops.check("kg_build quad digest", equal("digest", d, self.digest))
        return wall

    def traced_pass(self, spark, tracer, ops):
        import sopspark.kg.canon as canon
        import sopspark.plans.graph as graph
        from sopspark.kg.extract import assemble_turns, extract_triples
        from sopspark.kg.link import link_entities
        from sopspark.kg.synth import alias_df, sameas_df

        T = tracer
        with patched(canon, "connected_components", T.wrap(CC, graph.connected_components)):
            with T.span("pass"):
                a = T.call(ASSEMBLE, assemble_turns, self.tr)
                m = T.call(EXTRACT, extract_triples, a)
                linked = T.call(LINK, link_entities, m, alias_df(spark))
                mapping = T.call(SAMEAS, canon.sameas_closure, sameas_df(spark))
                T.call(MATERIALIZE, canon.materialize_graph, linked, mapping)
        rows = {sp.name: sp.rows_out for sp in T.spans}
        extras = {
            f"{LINK}.link_ratio": rows[LINK] / max(rows[EXTRACT], 1),
            f"{MATERIALIZE}.dedup_ratio": rows[MATERIALIZE] / max(rows[LINK], 1),
        }
        # the same layers in small writing jobs: one untraced stream for the
        # job count, then the traced stream
        ingest = IngestStream(spark, self.tr, self.work)
        extras.update(ingest.run(spark, ops))
        ingest.traced(spark, T, ops)
        return extras


# --- streaming ingest (traced on kg_build) ----------------------------------

class IngestStream:
    """``streaming_kg_ingest`` over whole-conversation parquet files, one
    file per micro-batch, into a fresh graph table per pass. Its final
    graph must equal the one-shot build over the same transcripts, which
    is ``merge_incremental``'s documented contract."""

    n_convs = 1_800
    n_files = 3

    def __init__(self, spark, transcripts, work):
        from sopspark.operators.serialize import collect_nq_lines

        self.work = work
        self.src = os.path.join(work, "ingest_src")
        subset = transcripts.where(F.col("conv_id") < f"conv-{self.n_convs:08d}")
        gen.write_ingest_files(subset, self.src, self.n_files)
        self.schema = transcripts.schema
        self.want = gen.sha(collect_nq_lines(kg_graph(spark, subset)))
        self.passes = 0

    def _start(self, spark):
        from sopspark.streaming.pipeline import streaming_kg_ingest

        self.passes += 1
        self.wd = os.path.join(self.work, f"ingest_pass{self.passes}")
        shutil.rmtree(self.wd, ignore_errors=True)
        stream = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        return streaming_kg_ingest(stream, self.wd)

    def _finish(self, spark, ops, q):
        from sopspark.operators.serialize import collect_nq_lines

        self.batches = [p for p in q.recentProgress if p.numInputRows > 0]
        graph = spark.read.parquet(os.path.join(self.wd, "graph"))
        rows = graph.count()
        got = gen.sha(collect_nq_lines(graph))
        ops.check("kg_ingest final graph", equal("graph digest", got, self.want))
        shutil.rmtree(self.wd, ignore_errors=True)
        return rows

    def run(self, spark, ops) -> dict:
        """Untraced pass; jobs per batch come from the status store."""
        from perfbench.spans import sql_executions

        t0 = time.time()
        q = self._start(spark)
        q.awaitTermination()
        t1 = time.time()
        self._finish(spark, ops, q)
        jobs = sum(ex.jobs for ex in sql_executions(spark, t0) if ex.submitted <= t1)
        return {f"{INGEST}.jobs_per_batch": jobs / max(len(self.batches), 1)}

    def traced(self, spark, tracer, ops) -> None:
        import sopspark.kg.canon as canon
        import sopspark.kg.extract as extract
        import sopspark.kg.link as link
        import sopspark.plans.graph as graph

        T = tracer
        # streaming_kg_ingest imports these names when it is called, so the
        # per-batch calls go through the traced wrappers. The KG layers'
        # per-batch spans get an "ingest/" prefix: the layer table keeps
        # the bulk pass's numbers, the spans file keeps the per-batch ones.
        with patched(extract, "assemble_turns", T.wrap(f"ingest/{ASSEMBLE}", extract.assemble_turns)), \
                patched(extract, "extract_triples", T.wrap(f"ingest/{EXTRACT}", extract.extract_triples)), \
                patched(link, "link_entities", T.wrap(f"ingest/{LINK}", link.link_entities)), \
                patched(canon, "connected_components", T.wrap(f"ingest/{CC}", graph.connected_components)), \
                patched(canon, "sameas_closure", T.wrap(f"ingest/{SAMEAS}", canon.sameas_closure)), \
                patched(canon, "materialize_graph", T.wrap(f"ingest/{MATERIALIZE}", canon.materialize_graph)), \
                patched(canon, "merge_incremental", T.wrap(MERGE, canon.merge_incremental)):
            idx = T.open(INGEST)
            try:
                t0 = time.time()
                q = self._start(spark)
                T.spans[idx].call_s = time.time() - t0
                q.awaitTermination()
            finally:
                T.close(idx)
        T.spans[idx].rows_out = self._finish(spark, ops, q)


# --- rdf_pipeline -------------------------------------------------------------

def _rows(name: str, df) -> list:
    rows = df.collect()
    if name == "bgp_group":
        return [(r.org.value, r.n.value) for r in rows]
    if name == "topk":
        return [(r.x.value, r.a.value) for r in rows]
    return sorted(r.y.value for r in rows)


def write_canonical(lines, out) -> None:
    """The canonical document as one file, as ``sop canonicalize`` writes it."""
    lines.coalesce(1).write.mode("overwrite").text(out)


class RdfPipeline:
    """The sop path, traced inside ``graph_iterate``'s traced run: it is
    not a timed workload (README.md)."""

    sizes = dict(n_people=2_500, n_orgs=20, n_social=341, n_bnodes=1_000, n_bad=50)
    n_files = 8

    def setup(self, spark, seed, work):
        from sopspark.operators.filter_map import filter_quads
        from sopspark.sources.ntriples import parse_ntriples

        lines, self.expected = gen.rdf_corpus(seed, **self.sizes)
        self.src = os.path.join(work, "rdf_src")
        self.out = os.path.join(work, "rdf_canonical")
        self.out_nq = os.path.join(work, "rdf_nquads")
        gen.write_lines(lines, self.src, self.n_files)
        self.paths = sorted(glob.glob(os.path.join(self.src, "*.nq")))
        # the checked run works on the parsed, filtered quads held in memory
        self.base = filter_quads(parse_ntriples(spark, self.paths), gen.RDF_FILTER).persist()
        self.base.count()
        self.doc_digest = None
        return {"nquads": gen.sha(lines), "lines": len(lines)}

    def check(self, spark, ops):
        """One untraced, checked run of the stages up to the documents; the
        traced pass's SPARQL answers are checked after it."""
        from sopspark.operators.canonicalize import canonicalize
        from sopspark.operators.serialize import serialize_nquads
        from sopspark.sources.ntriples import parse_ntriples

        row = parse_ntriples(spark, self.paths).agg(
            F.count(F.lit(1)), F.count("err")
        ).collect()[0]
        ops.check("rdf parse counts", equal(
            "rows, err_rows", (row[0], row[1]), (self.expected["rows"], self.expected["err_rows"])
        ))
        ops.check("rdf filter count", equal(
            "filtered rows", self.base.count(), self.expected["filtered_rows"]
        ))
        serialize_nquads(self.base, self.out_nq)
        write_canonical(canonicalize(self.base), self.out)
        self.check_documents(ops)

    def check_documents(self, ops):
        """Both documents have the closed-form line count; the canonical
        one has the same digest every time it is written."""
        doc = self._doc(self.out)
        digest = gen.sha(doc)
        if self.doc_digest is None:
            self.doc_digest = digest
        ops.check("rdf canonical document", equal(
            "lines", len(doc), self.expected["doc_lines"]
        ) + equal("digest", digest, self.doc_digest))
        ops.check("rdf serialized quads", equal(
            "lines", len(self._doc(self.out_nq)), self.expected["doc_lines"]
        ))

    @staticmethod
    def _doc(out):
        lines = []
        for p in sorted(glob.glob(os.path.join(out, "part-*"))):
            with open(p) as f:
                lines += f.read().splitlines()
        return lines

    def traced_pass(self, spark, tracer, ops):
        from sopspark.functions.sparql import sparql_query
        from sopspark.operators.canonicalize import canonicalize
        from sopspark.operators.filter_map import filter_quads
        from sopspark.operators.serialize import serialize_nquads
        from sopspark.sources.ntriples import parse_ntriples
        from sopspark.terms import BNODE

        T = tracer
        with T.span("rdf/pass"):
            q = T.call(PARSE, parse_ntriples, spark, self.paths)
            f = T.call(FILTER, filter_quads, q, gen.RDF_FILTER)
            answers = {
                name: T.call(SPARQL, lambda df, t: sparql_query(df, t).df, f, text)
                for name, text in gen.RDF_QUERIES.items()
            }
            idx = len(T.spans)
            T.call(SERIALIZE, serialize_nquads, f, self.out_nq)
            T.spans[idx].rows_out = len(self._doc(self.out_nq))
            c = T.call(CANON, canonicalize, f)
            T.call("write_canonical", write_canonical, c, self.out)
        self.check_documents(ops)
        for name, df in answers.items():
            ops.check(f"sparql {name}", equal(name, _rows(name, df), self.expected[name]))
        ok = f.where(F.col("err").isNull())
        bnode = F.lit(False)
        for tag in ("s", "p", "o", "g"):
            bnode = bnode | F.coalesce(F.col(tag)["kind"] == BNODE, F.lit(False))
        return {
            f"{PARSE}.err_rows": q.where(F.col("err").isNotNull()).count(),
            f"{CANON}.bnode_share": ok.where(bnode).count() / max(ok.count(), 1),
        }


# --- graph_iterate ------------------------------------------------------------

class GraphIterate:
    name = "graph_iterate"
    unit = "edges"
    sizes = dict(n_aliases=10_000, n_entities=1_000, n_relations=10_000)
    layers = [SAMEAS, CC, PAGERANK, LPA, PARSE, FILTER, SPARQL, CANON, SERIALIZE]

    def setup(self, spark, seed, work):
        self.work, self.seed = work, seed
        import duckdb
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sopspark.kg.graphalgo import label_propagation_oracle_sql, pagerank_oracle_sql

        sameas, rel, self.rep, merged = gen.entity_graph(seed, **self.sizes)
        d = os.path.join(work, "graph")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({"iri_a": sameas[0], "iri_b": sameas[1]}), f"{d}/sameas.parquet")
        pq.write_table(pa.table({"src": rel[0], "dst": rel[1]}), f"{d}/relations.parquet")
        self.sameas = spark.read.parquet(f"{d}/sameas.parquet")
        self.rel = spark.read.parquet(f"{d}/relations.parquet")
        self.items = len(sameas[0]) + len(rel[0])

        con = duckdb.connect()
        try:
            con.register("m", pd.DataFrame({"src": merged[0], "dst": merged[1]}))
            edges = "SELECT src, dst FROM m"
            self.want_pr = dict(con.execute(pagerank_oracle_sql(edges, iters=PAGERANK_ITERS)).fetchall())
            self.want_lpa = dict(con.execute(label_propagation_oracle_sql(edges, iters=LPA_ITERS)).fetchall())
        finally:
            con.close()
        return {"graph": gen.graph_digest(sameas, rel), "edges": self.items}

    def warmup(self, spark, ops):
        self.run_pass(spark, ops)

    def _merged(self, mapping):
        from sopspark.kg.canon import remap_strings

        return remap_strings(self.rel, mapping, ["src", "dst"]).localCheckpoint(eager=True)

    def run_pass(self, spark, ops):
        from sopspark.kg.canon import sameas_closure
        from sopspark.kg.graphalgo import label_propagation, pagerank

        t0 = time.perf_counter()
        mapping = sameas_closure(self.sameas)
        merged = self._merged(mapping)
        pr = pagerank(merged, iters=PAGERANK_ITERS)
        lp = label_propagation(merged, iters=LPA_ITERS)
        wall = time.perf_counter() - t0

        got_rep = {r.iri: r.rep for r in mapping.collect()}
        ops.check("graph components", equal("components", got_rep, self.rep))
        got_pr = {r.node: r.rank for r in pr.collect()}
        ops.check("graph pagerank", close_map("pagerank", got_pr, self.want_pr, 1e-6))
        got_lpa = {r.node: r.community for r in lp.collect()}
        ops.check("graph label propagation", equal("communities", got_lpa, self.want_lpa))
        return wall

    def traced_pass(self, spark, tracer, ops):
        import sopspark.kg.canon as canon
        import sopspark.plans.graph as graph
        from sopspark.kg.graphalgo import label_propagation, pagerank

        T = tracer
        with patched(canon, "connected_components", T.wrap(CC, graph.connected_components)):
            with T.span("pass"):
                mapping = T.call(SAMEAS, canon.sameas_closure, self.sameas)
                merged = T.call("merge_edges", self._merged, mapping)
                pr = T.call(PAGERANK, pagerank, merged, iters=PAGERANK_ITERS)
                lp = T.call(LPA, label_propagation, merged, iters=LPA_ITERS)
        got_pr = {r.node: r.rank for r in pr.collect()}
        ops.check("graph pagerank", close_map("pagerank", got_pr, self.want_pr, 1e-6))
        got_lpa = {r.node: r.community for r in lp.collect()}
        ops.check("graph label propagation", equal("communities", got_lpa, self.want_lpa))
        # marginal cost of one round: k rounds against one, outside the pass
        T.call("pagerank_1_round", pagerank, merged, iters=1)
        T.call("label_propagation_1_round", label_propagation, merged, iters=1)
        dur = {sp.name: sp.duration for sp in T.spans}
        extras = {
            f"{PAGERANK}.round_s": (dur[PAGERANK] - dur["pagerank_1_round"]) / (PAGERANK_ITERS - 1),
            f"{LPA}.round_s": (dur[LPA] - dur["label_propagation_1_round"]) / (LPA_ITERS - 1),
        }
        # the sop path: rdf_pipeline is not a timed workload (README.md)
        rdf = RdfPipeline()
        rdf.setup(spark, self.seed, self.work)
        rdf.check(spark, ops)
        extras.update(rdf.traced_pass(spark, T, ops))
        return extras


WORKLOADS = {w.name: w for w in (KgBuild, GraphIterate)}
