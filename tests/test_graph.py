"""Connected-components duplicate clustering vs a union-find reference.

The large-star/small-star operator must agree with a driver-side
union-find on arbitrary pair graphs (hypothesis-generated), handle the
shapes that defeat naive label propagation (long chains), and compose
with the pair generators into a keep-one-per-cluster decision.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dataquality_spark import config as C
from dataquality_spark.operators import dedup, graph


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    pairs = spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"]))
    out = graph.connected_components(pairs).collect()
    got = {r["node"]: r["component"] for r in out}
    assert len(out) == len(got), "duplicate node rows"
    return got


class TestConnectedComponents:
    def test_chain_star_cycle_and_singleton_pair(self, spark):
        edges = ([(i, i + 1) for i in range(10, 16)]        # chain
                 + [(100, v) for v in (101, 102, 103)]      # star
                 + [(200, 201), (201, 202), (202, 200)]     # cycle
                 + [(301, 300)])                            # reversed pair
        assert _cc(spark, edges) == _union_find(edges)

    def test_self_loops_and_duplicate_edges_ignored(self, spark):
        edges = [(1, 1), (2, 3), (3, 2), (2, 3), (4, 4)]
        got = _cc(spark, edges)
        # self-loop-only nodes carry no connectivity information and
        # are dropped; pair nodes resolve normally
        assert got == {2: 2, 3: 2}

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        out = graph.connected_components(pairs)
        assert out.columns == ["node", "component"]
        assert out.count() == 0

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 60), st.integers(0, 60)),
                    min_size=1, max_size=120))
    def test_matches_union_find_on_random_graphs(self, edges):
        spark = get_test_spark()
        real = [(a, b) for a, b in edges if a != b]
        expect = _union_find(real)
        assert _cc(spark, edges) == expect


class TestConnectedComponentsDistributed(TestConnectedComponents):
    """The same cases through the distributed large-star/small-star
    loop: a cap of 0 sends every non-empty graph there. (The default
    cap resolves every graph above with the driver-side union-find.)"""

    @pytest.fixture(autouse=True, scope="class")
    def _no_driver_path(self):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(C, "COMPONENTS_DRIVER_MAX_EDGES", 0)
            yield

    # redefined, not inherited: hypothesis refuses one @given test run
    # from two classes
    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 60), st.integers(0, 60)),
                    min_size=1, max_size=120))
    def test_matches_union_find_on_random_graphs(self, edges):
        spark = get_test_spark()
        real = [(a, b) for a, b in edges if a != b]
        assert _cc(spark, edges) == _union_find(real)


@pytest.mark.parametrize("cap, driver", [(3, False), (5, True)])
def test_edge_cap_picks_the_path(spark, monkeypatch, cap, driver):
    """Five distinct edges (a duplicate and a reversed copy collapse):
    above a cap of 3 the distributed loop runs, at a cap of 5 the
    driver-side union-find does, and both give the same components."""
    calls = []
    real = graph._union_find
    monkeypatch.setattr(graph, "_union_find",
                        lambda e: calls.append(len(e)) or real(e))
    monkeypatch.setattr(C, "COMPONENTS_DRIVER_MAX_EDGES", cap)
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (2, 1), (1, 2)]
    assert _cc(spark, edges) == {1: 1, 2: 1, 3: 1, 4: 1,
                                 10: 10, 11: 10, 12: 10}
    assert calls == ([5] if driver else [])


def get_test_spark():
    # hypothesis cannot take the function-scoped fixture; reuse the
    # session the conftest fixture already started (same builder key).
    from dataquality_spark.session import get_spark
    return get_spark("dq-tests", master="local[4]", shuffle_partitions=8)


class TestResolveDuplicates:
    def test_minhash_chain_cluster_keeps_one(self, spark):
        """base → 60%-truncated → 60%-of-that: adjacent Jaccard ≥ 0.5
        but ends below threshold — the cluster exists only through
        transitivity, so pair-level dedup alone would keep two docs."""
        base = " ".join(f"tok{j}" for j in range(50))
        t1 = " ".join(base.split()[:30])
        t2 = " ".join(base.split()[:18])
        docs = spark.createDataFrame(
            [(1, base), (2, t1), (3, t2), (9, "totally different words")],
            ["doc_id", "text"])
        pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id",
                                        shingle_n=3, num_perm=128,
                                        bands=64, jaccard_threshold=0.5)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert got == {(1, 2), (2, 3)}   # chain, no (1,3)

        out = graph.resolve_duplicates(docs, pairs, "doc_id").toPandas() \
            .set_index("doc_id").sort_index()
        assert out["component"].tolist() == [1, 1, 1, 9]
        assert out["is_dup"].tolist() == [False, True, True, False]
        assert out.loc[2, "dup_of"] == 1 and out.loc[3, "dup_of"] == 1
        assert pd.isna(out.loc[1, "dup_of"])
        dedup.unpersist_all()

    def test_convergence_guard(self, spark, monkeypatch):
        monkeypatch.setattr(C, "COMPONENTS_DRIVER_MAX_EDGES", 0)
        pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
        with pytest.raises(RuntimeError, match="converge"):
            graph.connected_components(pairs, max_iter=0)


class TestPagerank:
    """pagerank: bit-identity to a pure-Python integer-lattice
    reference, ranking sanity, dangling behavior, determinism."""

    @staticmethod
    def _ref(edges, iterations=4, num=85, den=100, scale=1_000_000):
        e = sorted({(str(u), str(v)) for u, v in edges
                    if u is not None and v is not None})
        nodes = sorted({u for u, _ in e} | {v for _, v in e})
        outdeg = {}
        for u, _ in e:
            outdeg[u] = outdeg.get(u, 0) + 1
        base = (scale * (den - num)) // den
        r = {n: scale for n in nodes}
        for _ in range(iterations):
            s = {n: 0 for n in nodes}
            for u, v in e:
                s[v] += r[u] // outdeg[u]
            r = {n: base + (num * s[n]) // den for n in nodes}
        return r

    def _run(self, spark, edges, **kw):
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.rank
               for r in graph.pagerank(df, **kw).collect()}
        return got

    def test_matches_integer_reference(self, spark):
        # hub-and-spoke plus a chain, a self-loop, a multi-edge, and
        # a dangling sink
        edges = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a"),
                 ("a", "b"), ("b", "c"), ("c", "d"), ("d", "d"),
                 ("a", "hub"), ("hub", "sink")]
        got = self._run(spark, edges)
        assert got == self._ref(edges)

    def test_hub_flow_and_base_floor(self, spark):
        edges = [(f"s{i}", "hub") for i in range(8)] + [("hub", "s0")]
        got = self._run(spark, edges)
        assert got == self._ref(edges)
        # s0 receives the hub's ENTIRE mass (hub's only out-edge), so
        # it tops the ranking; hub still beats the no-inlink spokes,
        # which sit exactly at the base term
        assert got["s0"] == max(got.values())
        base = (1_000_000 * 15) // 100
        assert all(got[f"s{i}"] == base for i in range(1, 8))
        assert got["hub"] > base

    def test_nulls_dropped_and_deterministic(self, spark):
        edges = [("a", "b"), ("b", "a"), (None, "a"), ("b", None)]
        df = spark.createDataFrame(edges, "src string, dst string")
        r1 = {r.node: r.rank for r in graph.pagerank(df).collect()}
        r2 = {r.node: r.rank
              for r in graph.pagerank(df.repartition(7)).collect()}
        assert r1 == r2 == self._ref([("a", "b"), ("b", "a")])

    def test_iterations_and_damping_knobs(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a")]
        got = self._run(spark, edges, iterations=7, damping_num=50,
                        damping_den=100, scale=10_000)
        assert got == self._ref(edges, iterations=7, num=50, den=100,
                                scale=10_000)
