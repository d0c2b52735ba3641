"""The min-plus relaxation seam (`queries/graph.py::min_relax`) on small
in-memory graphs: convergence errors, round caps and edge direction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ksql_spark.queries.graph import connected_components, min_relax


def _sym(pairs):
    return pairs + [(b, a) for a, b in pairs]


def test_connected_components_raises_when_not_converged(spark):
    """A 6-node path needs 5 label hops; two rounds must raise, not return
    a component split in pieces."""
    adj = spark.createDataFrame(
        _sym([(i, i + 1) for i in range(5)]), "s1 long, s2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(adj, max_rounds=2)


def _w(a, b):
    return 1 + (a + 2 * b) % 7


def _hop_capped(edges, seed, rounds, w):
    """Least total weight over paths of at most `rounds` hops from seed."""
    dist = {seed: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b in edges:
            if a in dist:
                d = dist[a] + w(a, b)
                nxt[b] = min(nxt.get(b, d), d)
        dist = nxt
    return dist


def test_round_cap_gives_hop_capped_shortest_paths(spark):
    """Weights are not symmetric (w(a,b) != w(b,a)) and every round lowers
    some distance: a cap of r rounds yields shortest distances over paths
    of at most r hops, relaxed along s1 -> s2 with the weight taken from
    (s1, s2)."""
    edges = _sym([(0, 1), (0, 3), (1, 3), (2, 3)])
    forward = [_hop_capped(edges, 0, r, _w) for r in (1, 2, 3)]
    backward = [
        _hop_capped(edges, 0, r, lambda a, b: _w(b, a)) for r in (1, 2, 3)
    ]
    assert forward[0] != forward[1] != forward[2]
    assert all(f != b for f, b in zip(forward, backward))
    adj = spark.createDataFrame(edges, "s1 long, s2 long")
    seeds = spark.createDataFrame([(0, 0)], "s long, dist long")
    weight = 1 + (F.col("s1") + F.col("s2") * 2) % 7
    for r, want in zip((1, 2, 3), forward):
        state, converged = min_relax(seeds, adj, ["s"], weight, r, broadcast=True)
        assert {row.s: row.dist for row in state.collect()} == want, r
        assert not converged  # round r still lowered a distance
