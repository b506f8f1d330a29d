"""Large-star/small-star connected components (Kiveris et al., SoCC 2014)
in ``connected_canonical``: pure-Python union-find ground truth on random
graphs (self-pair-only nodes included), O(log n) round convergence on a
long chain, the non-convergence raise, and reliable checkpointing."""

import random

import pytest

from modern_document_converter_for_ai_library_spark.operators.dedup import (
    connected_canonical,
)


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, ["a", "b"])


def _labels(df):
    return {r["node"]: r["canonical"] for r in df.collect()}


def _union_find_truth(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = component min: path-compress fully then take min per root
    roots = {}
    for n in list(parent):
        roots.setdefault(find(n), []).append(n)
    out = {}
    for r, members in roots.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def test_star_equals_union_find_truth_on_random_graphs(spark):
    rng = random.Random(20260819)
    for trial in range(4):
        n = rng.choice([12, 30, 60])
        n_edges = rng.randint(n // 3, 2 * n)
        pairs = []
        for _ in range(n_edges):
            a, b = rng.sample(range(n), 2)
            pairs.append(("n%03d" % a, "n%03d" % b))
        # node-set contract: a node seen only in a self-pair (x, x) is
        # still labelled, as its own canonical
        pairs.append(("s%03d" % trial, "s%03d" % trial))
        # a self-pair on a node that also has real edges changes nothing
        pairs.append((pairs[0][0], pairs[0][0]))
        truth = _union_find_truth(pairs)
        assert _labels(connected_canonical(_pairs_df(spark, pairs))) == truth, (
            f"trial {trial} diverged"
        )


def test_star_converges_logarithmically_on_long_chain(spark):
    # a 60-node path has diameter 59; the star alternation halves tree
    # heights per round and finishes well inside 8 rounds
    chain = [("n%03d" % i, "n%03d" % (i + 1)) for i in range(59)]
    labels = _labels(connected_canonical(_pairs_df(spark, chain), max_iter=8))
    assert set(labels) == {"n%03d" % i for i in range(60)}
    assert set(labels.values()) == {"n000"}


def test_star_nonconvergence_raises_instead_of_partial(spark):
    chain = [("n%03d" % i, "n%03d" % (i + 1)) for i in range(59)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_canonical(_pairs_df(spark, chain), max_iter=1)


def test_star_reliable_checkpoint_writes_stable_storage(spark, tmp_path):
    verified = _pairs_df(spark, [("b", "c"), ("a", "b"), ("x", "y")])
    labels = _labels(
        connected_canonical(verified, checkpoint_dir=str(tmp_path / "ck"))
    )
    assert labels == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert any((tmp_path / "ck").rglob("*"))


def test_star_empty_and_single_pair(spark):
    empty = spark.createDataFrame([], "a: string, b: string")
    assert connected_canonical(empty).count() == 0
    one = _labels(connected_canonical(_pairs_df(spark, [("q", "p")])))
    assert one == {"p": "p", "q": "p"}
