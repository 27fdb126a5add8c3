"""Seeded input generators and their closed-form expected answers.

Every generator takes the seed as an argument and derives everything from
it: the same seed gives byte-identical inputs and digests, whatever the
interpreter's hash seed or the checkout path. Digests cover content only,
never file names or paths.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import deque

import numpy as np

EX = "http://example.org/bench/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def sha(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# --- transcript corpus (kg_build, kg_ingest) ---------------------------------

def kg_corpus(spark, n_convs: int, seed: int, partitions: int):
    """``kg.synth.synth_corpus`` with the transcripts persisted:
    (transcripts, n_turns, input digest, lazy expected (s, p, o) rows).
    The digest is an order-free JVM hash over every column, so it does not
    depend on Python hashing."""
    from pyspark.sql import functions as F

    from sopspark.kg.synth import synth_corpus

    transcripts, expected = synth_corpus(spark, n_convs, seed=seed, partitions=partitions)
    transcripts = transcripts.persist()
    row = transcripts.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(conv_id, turn_idx, role, text, tool, ts))").alias("h"),
    ).collect()[0]
    return transcripts, row["n"], sha([f"{row['n']}:{row['h']}"]), expected


def expected_triples(expected) -> set:
    return {(r.s, r.p, r.o) for r in expected.distinct().collect()}


def write_ingest_files(transcripts, out_dir: str, n_files: int) -> None:
    """One parquet file per micro-batch, each holding whole conversations
    (hash partitioned on conv_id), the layout streaming_kg_ingest needs."""
    transcripts.repartition(n_files, "conv_id").write.mode("overwrite").parquet(out_dir)


# --- N-Quads corpus (rdf_pipeline) -------------------------------------------

RDF_FILTER = f"?p != <{EX}note>"

RDF_QUERIES = {
    "bgp_group": f"""
        SELECT ?org (COUNT(?x) AS ?n) WHERE {{
          ?x <{EX}worksFor> ?org . ?x <{EX}age> ?a . FILTER(?a >= 40)
        }} GROUP BY ?org ORDER BY ?org""",
    "topk": f"""
        SELECT ?x ?a WHERE {{ ?x <{EX}age> ?a }} ORDER BY DESC(?a) ?x LIMIT 10""",
    "path": f"""
        SELECT ?y WHERE {{ <{EX}p/000000> <{EX}knows>+ ?y }}""",
}


def rdf_corpus(seed: int, n_people: int, n_orgs: int, n_social: int, n_bnodes: int, n_bad: int):
    """N-Quads lines plus the closed-form answers the checks compare with.

    Per person: an rdf:type IRI, a typed age, an employer IRI, a
    language-tagged name in one of eight named graphs and a ``note`` the
    filter removes. A ``knows`` tree over the first ``n_social`` people
    feeds the property path; ``n_bnodes`` blank-node addresses (two quads
    each) feed RDFC-1.0; ``n_bad`` malformed lines feed the error channel.
    """
    rng = random.Random(seed)
    lines, ages, orgs = [], {}, {}
    person = [f"{EX}p/{i:06d}" for i in range(n_people)]
    for i, p in enumerate(person):
        ages[p] = rng.randint(18, 90)
        orgs[p] = f"{EX}org/{rng.randrange(n_orgs):03d}"
        lines += [
            f"<{p}> <{RDF_TYPE}> <{EX}Person> .",
            f'<{p}> <{EX}age> "{ages[p]}"^^<{XSD_INT}> .',
            f"<{p}> <{EX}worksFor> <{orgs[p]}> .",
            f'<{p}> <{EX}name> "Person {i}"@en <{EX}g/{i % 8}> .',
            f'<{p}> <{EX}note> "n{rng.randrange(10**6)}" .',
        ]
    # knows: a 4-ary tree over the first n_social people, rooted at person
    # 0, plus an edge back to the root from every 7th person. The property
    # path closes in a few rounds, since its depth is log4(n_social).
    knows: dict[str, set] = {}
    for i in range(1, n_social):
        edges = [(person[(i - 1) // 4], person[i])]
        if i % 7 == 0:
            edges.append((person[i], person[0]))
        for a, b in edges:
            knows.setdefault(a, set()).add(b)
            lines.append(f"<{a}> <{EX}knows> <{b}> .")
    for k in range(n_bnodes // 2):
        lines.append(f"<{person[k % n_people]}> <{EX}address> _:a{k} .")
        lines.append(f'_:a{k} <{EX}city> "City {rng.randrange(50)}" .')
    for k in range(n_bad):
        lines.append(f'<{EX}bad/{k}> <{EX}p> "unterminated .')
    rng.shuffle(lines)

    # closed forms
    groups: dict[str, int] = {}
    for p in person:
        if ages[p] >= 40:
            groups[orgs[p]] = groups.get(orgs[p], 0) + 1
    topk = sorted(person, key=lambda p: (-ages[p], p))[:10]
    reach, todo = set(), deque([person[0]])
    while todo:
        for nxt in knows.get(todo.popleft(), ()):
            if nxt not in reach:
                reach.add(nxt)
                todo.append(nxt)
    n_valid = len(lines) - n_bad
    expected = {
        "rows": len(lines),
        "err_rows": n_bad,
        "filtered_rows": len(lines) - n_people,  # every note removed; errors kept
        "doc_lines": n_valid - n_people,
        "bnode_quads": 2 * (n_bnodes // 2),
        "bgp_group": sorted((o, str(n)) for o, n in groups.items()),
        "topk": [(p, str(ages[p])) for p in topk],
        "path": sorted(reach),
    }
    return lines, expected


def write_lines(lines: list[str], out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(out_dir):
        os.remove(os.path.join(out_dir, f))
    for k in range(n_files):
        with open(os.path.join(out_dir, f"part-{k:02d}.nq"), "w") as f:
            f.write("\n".join(lines[k::n_files]) + "\n")


# --- hub-skewed entity graph (graph_iterate) ---------------------------------

def entity_graph(seed: int, n_aliases: int, n_entities: int, n_relations: int):
    """owl:sameAs edges from alias IRIs to canonical entity IRIs, and
    relation edges between aliases.

    Entity popularity is cubic-skewed, so entity 0 owns a few percent of
    all aliases (the hub). An alias links either to its entity or to the
    entity's first alias, so every class is a tree of depth at most two;
    canonical IRIs sort before alias IRIs and are the class minimum.
    Relation targets are quadratic-skewed towards low alias ids.
    Returns (sameas (a, b) arrays, relation (src, dst) arrays, the
    closed-form alias -> representative map, merged entity edges).
    """
    rng = np.random.default_rng(seed)
    ent = np.minimum((n_entities * rng.random(n_aliases) ** 3).astype(np.int64), n_entities - 1)
    first = np.full(n_entities, -1, dtype=np.int64)
    used, first_idx = np.unique(ent, return_index=True)
    first[used] = first_idx
    prim = first[ent]
    to_prim = (rng.random(n_aliases) < 0.4) & (prim != np.arange(n_aliases))
    alias = np.char.add(f"{EX}x/", np.char.zfill(np.arange(n_aliases).astype(str), 7))
    canon = np.char.add(f"{EX}e/", np.char.zfill(np.arange(n_entities).astype(str), 6))
    b = np.where(to_prim, alias[prim], canon[ent])
    src = rng.integers(0, n_aliases, n_relations)
    dst = np.minimum((n_aliases * rng.random(n_relations) ** 2).astype(np.int64), n_aliases - 1)
    rep = {str(a): str(canon[e]) for a, e in zip(alias, ent)}
    rep.update({str(canon[e]): str(canon[e]) for e in used})
    merged = (canon[ent[src]], canon[ent[dst]])
    return (alias, b), (alias[src], alias[dst]), rep, merged


def graph_digest(sameas, relations) -> str:
    return sha(
        [f"{a}\t{b}" for a, b in zip(*sameas)] + [f"{s}\t{d}" for s, d in zip(*relations)]
    )
