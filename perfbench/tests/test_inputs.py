"""Deterministic inputs: generating twice, under different interpreter hash
seeds and from different working directories, gives the same digests.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# small sizes of every generator; the kg corpus needs a Spark session
PROGRAM = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from perfbench import gen
lines, exp = gen.rdf_corpus(7, n_people=300, n_orgs=5, n_social=21, n_bnodes=40, n_bad=3)
sameas, rel, rep, merged = gen.entity_graph(7, n_aliases=500, n_entities=50, n_relations=400)
from sopspark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
tr, n, digest, expected = gen.kg_corpus(spark, 60, 7, 2)
print(json.dumps({
    "rdf": gen.sha(lines),
    "rdf_expected": gen.sha(json.dumps(exp, sort_keys=True).splitlines()),
    "graph": gen.graph_digest(sameas, rel),
    "graph_rep": gen.sha(sorted(f"{k}\t{v}" for k, v in rep.items())),
    "kg": digest,
    "kg_expected": gen.sha(sorted("\t".join(t) for t in gen.expected_triples(expected))),
}))
spark.stop()
"""


def _digests(hash_seed: str, cwd: str) -> dict:
    env = dict(os.environ, PYTHONHASHSEED=hash_seed)
    out = subprocess.run(
        [sys.executable, "-c", PROGRAM, ROOT],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_digests_ignore_hash_seed_and_cwd(tmp_path):
    a = _digests("1", ROOT)
    b = _digests("2", str(tmp_path))
    assert a == b
