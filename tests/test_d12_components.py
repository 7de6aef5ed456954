"""d12 connected components: ``_components`` labels every node with its
component's minimum, as networkx does, in a number of rounds that grows
with the log of the component size rather than its diameter; and d12
equals its recursive-CTE oracle on a corpus whose near-duplicate graph has
a component more than 20 hops across."""

from __future__ import annotations

import random

import duckdb
import networkx as nx
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_table_providers_spark.llm import dedup


def _labels(spark, graph, monkeypatch):
    """(node → label, rounds) from the stars ``dedup._components`` finds
    in ``graph``; a round is one localCheckpoint."""
    rounds = []
    cls = type(spark.range(1))
    checkpoint = cls.localCheckpoint

    def counted(self, *args, **kwargs):
        rounds.append(1)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counted)
    edges = spark.createDataFrame(
        [(min(u, v), max(u, v)) for u, v in graph.edges], "lo long, hi long"
    )
    stars = dedup._components(edges).collect()
    got = {r.hi: r.lo for r in stars} | {r.lo: r.lo for r in stars}
    return got, len(rounds)


def _minima(graph):
    return {n: min(c) for c in nx.connected_components(graph) for n in c}


def _random_path(n, seed):
    ids = random.Random(seed).sample(range(n), n)
    return nx.Graph(zip(ids, ids[1:]))


def _random_graphs(n_graphs):
    """The disjoint union of ``n_graphs`` seeded random graphs of 2-40
    nodes, each split into several components, under one random id order.
    Components evolve independently in every round, so one run checks them
    all."""
    union = nx.Graph()
    for seed in range(n_graphs):
        rng = random.Random(seed)
        n = rng.randint(2, 40)
        g = nx.gnm_random_graph(n, rng.randint(1, n), seed=seed)
        union = nx.disjoint_union(union, g.subgraph(v for v in g if g.degree(v)))
    ids = random.Random(n_graphs).sample(range(10 * len(union)), len(union))
    return nx.relabel_nodes(union, dict(zip(union, ids)))


@pytest.mark.parametrize(
    "graph, max_rounds",
    [
        (nx.path_graph(25), None),
        (_random_path(500, seed=3), 12),
        # already the fixpoint: the second round sees the first change nothing
        (nx.star_graph(200), 2),
        (_random_graphs(50), None),
        (nx.Graph(), None),
    ],
    ids=["sorted-path-25", "random-path-500", "star-200", "random-50", "no-edges"],
)
def test_components_match_networkx(spark, graph, max_rounds, monkeypatch):
    got, rounds = _labels(spark, graph, monkeypatch)
    assert got == _minima(graph)
    if max_rounds is not None:
        assert rounds <= max_rounds, rounds


def _sliding_corpus(path, n_docs=300, width=16):
    """Doc i is words i … i+width-1 of one fixed word sequence, so
    neighbours in doc order are near-duplicates and docs far apart are
    not: the pair graph is a chain of overlapping windows."""
    words = [f"w{j}" for j in range(n_docs + width)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": [" ".join(words[i : i + width]) for i in range(n_docs)],
            }
        ),
        str(path / "documents.parquet"),
    )
    return str(path)


def test_d12_matches_oracle_past_20_hops(spark, tmp_path):
    sf = _sliding_corpus(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    pairs = con.execute(
        f"SELECT da, db FROM ({dedup._d02b_sql()}) "
        f"WHERE jaccard >= {dedup.D12_JACCARD_TAU}"
    ).fetchall()
    g = nx.Graph(pairs)
    assert max(nx.diameter(g.subgraph(c)) for c in nx.connected_components(g)) > 20
    want = sorted(con.execute(dedup._d12_sql()).fetchall())
    got = sorted(map(tuple, dedup.d12_dedup_components(spark, sf).collect()))
    assert got == want
