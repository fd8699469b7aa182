"""Frame lifetimes (detach.py): both detach modes give identical results
on every loop operator (a lint keeps that list complete), ``reliable``
really writes to the checkpoint dir, ``held`` releases what it pinned,
and no module outside detach.py manages a frame's lifetime itself."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from python_etl_mailing_automation_spark.detach import (
    DETACH_MODE_CONF,
    detach,
    detach_mode,
    held,
)

ROOT = Path(__file__).resolve().parents[1]
MODES = ("local", "reliable")


@pytest.fixture()
def _mode_reset(spark):
    yield
    spark.conf.unset(DETACH_MODE_CONF)


def _frame(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )


def test_default_mode_is_local(spark):
    assert detach_mode(_frame(spark)) == "local"


def test_modes_produce_identical_results(spark, _mode_reset):
    expected = sorted(
        _frame(spark).groupBy("k").count().collect()
    )
    for mode in MODES:
        spark.conf.set(DETACH_MODE_CONF, mode)
        for eager in (False, True):
            out = detach(_frame(spark), eager=eager)
            got = sorted(out.groupBy("k").count().collect())
            assert got == expected, (mode, eager)


def test_unknown_mode_raises(spark, _mode_reset):
    spark.conf.set(DETACH_MODE_CONF, "bogus")
    with pytest.raises(ValueError, match="bogus"):
        detach(_frame(spark))


def test_persist_mode_is_gone(spark, _mode_reset):
    spark.conf.set(DETACH_MODE_CONF, "persist")
    with pytest.raises(ValueError, match="'local', 'reliable'"):
        detach(_frame(spark))


def test_held_releases_on_exit_and_on_raise(spark):
    with held() as hold:
        a = hold(_frame(spark))
        assert a.storageLevel != StorageLevel.NONE
        a.count()
    assert a.storageLevel == StorageLevel.NONE
    with pytest.raises(RuntimeError, match="boom"):
        with held() as hold:
            b = hold(_frame(spark).filter(F.col("k") == 1))
            b.count()
            raise RuntimeError("boom")
    assert b.storageLevel == StorageLevel.NONE


# --- every loop operator, tiny inputs, under each mode -----------------


def _pointer_jump(spark):
    from python_etl_mailing_automation_spark.operators.hierarchy import (
        pointer_jump_roots,
    )

    edges = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, 3), (5, 5), (6, 5)],
        "node long, parent long",
    )
    return pointer_jump_roots(edges).collect()


def _subtree_rollup(spark):
    from python_etl_mailing_automation_spark.operators.hierarchy import (
        subtree_rollup,
    )

    nodes = spark.createDataFrame(
        [(1, None, 10), (2, 1, 5), (3, 2, 1), (4, 2, 2), (5, 4, 7)],
        "node long, parent long, value long",
    )
    return subtree_rollup(nodes).collect()


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "low lower lowest low"),
            (2, "new newer newest"),
            (3, "wide wider widest lower"),
        ],
        "id long, text string",
    )


def _merges(spark):
    # 15 merges that never fire come first, so the table spans two
    # MERGE_BATCH folds with a detach barrier between them
    unused = [(i, f"q{i}", "z") for i in range(1, 16)]
    return spark.createDataFrame(
        unused + [(16, "l", "o"), (17, "lo", "w"), (18, "e", "r"), (19, "w", "e")],
        "rank int, lhs string, rhs string",
    )


def _bpe_train(spark):
    from python_etl_mailing_automation_spark.datapipe.tokenizer import bpe_train

    return bpe_train(_docs(spark), "text", n_merges=5, batch_k=2).collect()


def _bpe_segment(spark):
    from python_etl_mailing_automation_spark.datapipe.tokenizer import (
        bpe_segment,
    )

    return bpe_segment(_docs(spark), "text", _merges(spark)).collect()


def _bpe_segment_join(spark):
    from python_etl_mailing_automation_spark.datapipe.tokenizer import (
        bpe_segment_join,
    )

    return bpe_segment_join(_docs(spark), "id", "text", _merges(spark)).collect()


def _emb(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 9.0]),
            (2, [1.0, 0.0, 0.0, 9.0]),
            (3, [0.0, 5.0, 5.0, 0.0]),
            (4, [0.1, 4.9, 5.2, 0.3]),
            (5, [9.0, 9.0, 0.0, 1.0]),
            (6, [-2.0, 1.0, 3.0, 0.5]),
        ],
        "vec_id long, embedding array<float>",
    )


def _pq_train(spark):
    from python_etl_mailing_automation_spark.datapipe.similarity import pq_train

    return pq_train(_emb(spark), m=2, k=3, n_iter=2)


def _mmr_topk(spark):
    from python_etl_mailing_automation_spark.datapipe.similarity import mmr_topk

    return mmr_topk(
        [1.0, 0.0, 0.0, 1.0], _emb(spark), k=3, lam=0.5, n_candidates=5
    ).collect()


def _pca_pc1(spark):
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        pca_project_pc1,
    )

    return pca_project_pc1(_emb(spark), n_iter=3).collect()


def _set_cover(spark):
    from python_etl_mailing_automation_spark.datapipe.curation import (
        greedy_set_cover,
    )

    facets = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "b"), (2, "c"), (2, "d"), (3, "e"), (3, "a")],
        "doc_id long, facet string",
    )
    return greedy_set_cover(facets, k=3).collect()


def _kmeans(spark):
    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_fit_assign,
    )

    assigned, cents = kmeans_fit_assign(_emb(spark), k=2, n_iter=2)
    return assigned.collect() + [tuple(c) for c in cents]


def _pairs(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)], "a long, b long"
    )


def _dedup_clusters(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import dedup_clusters

    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 12, 99)], "id long"
    )
    return dedup_clusters(
        ids, _pairs(spark), id_col="id", id_a="a", id_b="b"
    ).collect()


def _pagerank(spark):
    from python_etl_mailing_automation_spark.datapipe.graph import pagerank

    edges = _pairs(spark).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return pagerank(edges, n_iter=2).collect()


def _scc(spark):
    from python_etl_mailing_automation_spark.datapipe.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 6)],
        "src long, dst long",
    )
    return strongly_connected_components(edges).collect()


def _dedup_clusters_star(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_clusters_star,
    )

    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 20, 99)], "doc_id long"
    )
    pairs = _pairs(spark).toDF("doc_id_a", "doc_id_b")
    return dedup_clusters_star(ids, pairs).collect()


def _graph(spark):
    # a 4-clique (1..4) with a tail 4 -> 5 -> 6
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4), (3, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )


def _seeds(spark):
    return spark.createDataFrame([(1,)], "node long")


def _graph_op(name, **kw):
    def run(spark):
        from python_etl_mailing_automation_spark.datapipe import graph

        return getattr(graph, name)(_graph(spark), **kw).collect()

    return run


def _seeded_graph_op(name):
    def run(spark):
        from python_etl_mailing_automation_spark.datapipe import graph

        return getattr(graph, name)(_graph(spark), _seeds(spark)).collect()

    return run


def _sssp(spark):
    from python_etl_mailing_automation_spark.datapipe.graph import sssp_weighted

    edges = _graph(spark).withColumn("w", (F.col("src") + F.col("dst")) % 3)
    return sssp_weighted(edges, _seeds(spark)).collect()


def _containment_dedup(spark):
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        containment_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e f g"), (3, "b c e f g h m n"), (9, "q r s")],
        "id int, text string",
    )
    return containment_dedup(
        docs, "id", "text", threshold=(3, 4), to_fixpoint=True
    ).collect()


def _corpus(spark):
    return spark.createDataFrame(
        [(1, "a b a b c"), (2, "b c a b a"), (3, "c c c")],
        "doc_id long, text string",
    )


def _suffix_ranks(spark):
    from python_etl_mailing_automation_spark.datapipe.suffix import suffix_ranks

    return suffix_ranks(_corpus(spark), depth=3, path="doubling").collect()


def _longest_dup_run(spark):
    from python_etl_mailing_automation_spark.datapipe.suffix import (
        longest_dup_run,
    )

    return longest_dup_run(_corpus(spark), max_len=3, path="doubling").collect()


LOOP_OPERATORS = {
    "pointer_jump_roots": _pointer_jump,
    "subtree_rollup": _subtree_rollup,
    "bpe_train": _bpe_train,
    "bpe_segment": _bpe_segment,
    "bpe_segment_join": _bpe_segment_join,
    "pq_train": _pq_train,
    "mmr_topk": _mmr_topk,
    "pca_project_pc1": _pca_pc1,
    "greedy_set_cover": _set_cover,
    "kmeans_fit_assign": _kmeans,
    "dedup_clusters": _dedup_clusters,
    "dedup_clusters_star": _dedup_clusters_star,
    "pagerank": _pagerank,
    "strongly_connected_components": _scc,
    "label_propagation": _graph_op("label_propagation"),
    "hits": _graph_op("hits"),
    "kcore": _graph_op("kcore"),
    "random_walks": _graph_op("random_walks", walk_length=3),
    "ktruss": _graph_op("ktruss", max_rounds=1),
    "bfs_hops": _seeded_graph_op("bfs_hops"),
    "harmonic_centrality": _seeded_graph_op("harmonic_centrality"),
    "sssp_weighted": _sssp,
    "containment_dedup": _containment_dedup,
    "suffix_ranks": _suffix_ranks,
    "longest_dup_run": _longest_dup_run,
}

# Loop functions that are not operators of their own: each runs only
# inside a listed operator, whose case covers it.
LOOP_HELPERS = {
    "_power_ranks",  # suffix_ranks' and longest_dup_run's doubling rounds
}


def _checkpoint_files(spark) -> int:
    ckpt = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    return sum(len(files) for _, _, files in os.walk(ckpt.replace("file:", "")))


@pytest.mark.parametrize("name", sorted(LOOP_OPERATORS))
def test_loop_operator_is_mode_invariant(spark, _mode_reset, name):
    """Each loop operator gives the same rows under both modes, and only
    ``reliable`` writes to the checkpoint dir — so every cut the
    operator makes goes through detach()."""
    got, written = {}, {}
    for mode in MODES:
        spark.conf.set(DETACH_MODE_CONF, mode)
        before = _checkpoint_files(spark)
        got[mode] = sorted(
            (tuple(r) for r in LOOP_OPERATORS[name](spark)), key=repr
        )
        written[mode] = _checkpoint_files(spark) - before
    assert got["local"] == got["reliable"]
    assert written["local"] == 0
    assert written["reliable"] > 0, f"{name} never checkpointed under reliable"


def _loop_functions(root):
    """Names of the package's top-level functions that call ``detach``
    (directly or in a nested def) and contain a ``for`` or ``while``."""
    found = set()
    for path in sorted(root.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            inner = list(ast.walk(node))
            detaches = any(
                isinstance(n, ast.Call)
                and (
                    (isinstance(n.func, ast.Name) and n.func.id == "detach")
                    or (isinstance(n.func, ast.Attribute) and n.func.attr == "detach")
                )
                for n in inner
            )
            if detaches and any(isinstance(n, (ast.For, ast.While)) for n in inner):
                found.add(node.name)
    return found


def test_every_loop_operator_has_a_mode_case():
    """Each package function that loops and cuts lineage with detach has
    a ``LOOP_OPERATORS`` case (or a ``LOOP_HELPERS`` entry), and every
    case and entry names such a function (no Spark session)."""
    found = _loop_functions(ROOT / "python_etl_mailing_automation_spark")
    listed = set(LOOP_OPERATORS) | LOOP_HELPERS
    assert not found - listed, f"loop functions without a mode case: {sorted(found - listed)}"
    assert not listed - found, f"listed, but not a detaching loop: {sorted(listed - found)}"
    assert not set(LOOP_OPERATORS) & LOOP_HELPERS


# --- one mechanism: no raw lifetime call outside detach.py ------------

_LIFETIME_CALLS = {"cache", "persist", "unpersist", "localCheckpoint", "checkpoint"}


def test_no_raw_lifetime_calls_outside_detach():
    """Every cache/persist/checkpoint in the package, the battery, the
    bench and the measurement tools goes through detach.py (detach,
    held, cache_once)."""
    files = sorted((ROOT / "python_etl_mailing_automation_spark").rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
    offenders = []
    for path in files:
        if path.name == "detach.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _LIFETIME_CALLS
            ):
                offenders.append(
                    f"{path.relative_to(ROOT)}:{node.lineno} .{node.func.attr}("
                )
    assert not offenders, "\n".join(offenders)
