"""Dedup operator unit tests (beyond the oracle-parity gate).

Covers the LSH scale-safety valve: ``max_bucket_size`` must drop
degenerate buckets (one uninformative band signature shared by m docs
emits m*(m-1)/2 pairs — quadratic at scale) while leaving small buckets'
pairs intact.
"""

import pytest
from pyspark.sql import functions as F

from i3dm_export_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    # 12 identical boilerplate docs (one giant bucket in every band) +
    # 2 genuinely near-identical docs + unrelated docs.
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(12)]
    rows += [
        (100, "completely different text about spark shuffle partitions"),
        (101, "completely different text about spark shuffle partition"),
        (200, "unrelated corpus entry concerning quadtree tile subdivision"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _pairs(docs, max_bucket_size=None):
    sigs = dedup.minhash_signatures(docs, n_bands=4, rows_per_band=2, shingle_n=5)
    return {
        (r.a, r.b)
        for r in dedup.lsh_candidate_pairs(
            sigs, max_bucket_size=max_bucket_size
        ).collect()
    }


def test_uncapped_emits_quadratic_boiler_pairs(docs):
    pairs = _pairs(docs)
    boiler_pairs = {p for p in pairs if p[0] < 12 and p[1] < 12}
    assert len(boiler_pairs) == 12 * 11 // 2
    assert (100, 101) in pairs


def test_bucket_cap_drops_degenerate_bucket_keeps_small(docs):
    pairs = _pairs(docs, max_bucket_size=4)
    assert not any(p[0] < 12 and p[1] < 12 for p in pairs)
    # the small near-dup bucket (size 2 <= cap) survives
    assert (100, 101) in pairs


def test_bucket_cap_none_is_identity(docs):
    assert _pairs(docs) == _pairs(docs, max_bucket_size=10**9)


class TestConnectedComponents:
    def test_min_label_propagation(self, spark):
        """Two components incl. a 4-chain (multi-round propagation) and an
        isolated pair; every node gets the min reachable id."""
        from i3dm_export_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 9), (9, 4), (4, 7), (20, 30)], "a long, b long"
        )
        got = {
            r["node"]: r["comp"]
            for r in connected_components(pairs).collect()
        }
        assert got == {1: 1, 9: 1, 4: 1, 7: 1, 20: 20, 30: 20}

    def test_star_equals_union_find_random_graph(self, spark):
        """SoCC'14 large-star/small-star must label every node of a random
        graph with its true component minimum (union-find oracle)."""
        import numpy as np

        from i3dm_export_spark.operators.dedup import connected_components

        from .test_property import _union_find_components

        rng = np.random.default_rng(11)
        n = 400
        edges = [(int(a), int(b)) for a, b in rng.integers(0, n, (300, 2))]
        pairs = spark.createDataFrame(edges, "a long, b long")
        star = {
            r["node"]: r["comp"]
            for r in connected_components(pairs).collect()
        }
        assert star == _union_find_components(edges)

    def test_star_chain_converges_in_log_rounds(self, spark):
        """Adversarial 10^4-node chain: label propagation needs O(n) rounds;
        the star algorithm must converge in O(log n) and label every node
        with the chain head (VERDICT r1 item 8)."""
        import math

        from i3dm_export_spark.operators.dedup import connected_components

        n = 10_000
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "a long, b long"
        ).repartition(8)
        stats = {}
        labels = connected_components(pairs, stats=stats)
        bad = labels.filter("comp != 0").count()
        assert bad == 0
        assert labels.count() == n
        assert stats["rounds"] <= 4 * math.ceil(math.log2(n))

    def test_star_warns_without_convergence(self, spark):
        """A 21-node chain is not a star, so the first round changes the
        edge set and one round cannot show convergence."""
        import pytest

        from i3dm_export_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "a long, b long"
        )
        with pytest.warns(RuntimeWarning, match="did not converge"):
            connected_components(pairs, max_iters=1)
