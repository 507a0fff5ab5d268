"""The materialization primitive (``blocks.py``): the only caller of
Spark's cache API, and the scope that releases what a query made."""

import os
import re
import threading

import pytest

from reddit_data_pipeline_engineering_spark import blocks

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "reddit_data_pipeline_engineering_spark",
)
_CACHE_API = re.compile(
    r"\.(persist|localCheckpoint|unpersist|checkpoint)\(|\.cache\(\)"
)


def test_no_cache_api_outside_blocks():
    # One materialization primitive: every persist, local checkpoint and
    # release in the package goes through blocks.py.
    found = []
    for root, _, files in os.walk(PKG_DIR):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == blocks.__file__:
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if _CACHE_API.search(line):
                        found.append(f"{os.path.relpath(path, PKG_DIR)}:{i}")
    assert found == []


def _persisted(spark) -> set[int]:
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in ids}


def _held(spark, df) -> bool:
    """True while the block ``cache``/``checkpoint`` made for ``df`` is
    still held."""
    if df._jdf.storageLevel().isValid():
        return True
    plan = df._jdf.queryExecution().logical()
    return (
        plan.getClass().getSimpleName() == "LogicalRDD"
        and plan.rdd().id() in _persisted(spark)
    )


def _two_blocks(spark, tag: int):
    """A materialized cache and an eager checkpoint, distinct per tag."""
    c = blocks.cache(spark.range(50).selectExpr(f"id + {tag} AS x"))
    c.count()
    k = blocks.checkpoint(
        spark.range(50).selectExpr(f"id * {tag} AS y"), eager=True
    )
    return c, k


def test_scope_releases_cache_and_checkpoint(spark):
    with blocks.scope() as made:
        c, k = _two_blocks(spark, 101)
        # Local data plans as a LogicalRDD, like a checkpoint does.
        local = blocks.cache(spark.createDataFrame([(101,)], "x long"))
        local.count()
        assert _held(spark, c) and _held(spark, k) and _held(spark, local)
    assert made == [c, k, local]
    assert not _held(spark, c) and not _held(spark, k)
    assert not _held(spark, local)


def test_scope_releases_when_the_body_raises(spark):
    with pytest.raises(RuntimeError):
        with blocks.scope():
            c, k = _two_blocks(spark, 102)
            raise RuntimeError("query failed")
    assert not _held(spark, c) and not _held(spark, k)


def test_inner_scope_releases_only_its_own_blocks(spark):
    with blocks.scope() as outer:
        oc, ok = _two_blocks(spark, 103)
        with blocks.scope() as inner:
            ic, ik = _two_blocks(spark, 104)
        assert not _held(spark, ic) and not _held(spark, ik)
        assert _held(spark, oc) and _held(spark, ok)
    assert outer == [oc, ok] and inner == [ic, ik]
    assert not _held(spark, oc) and not _held(spark, ok)


def test_nothing_is_tracked_outside_a_scope(spark):
    c, k = _two_blocks(spark, 105)
    with blocks.scope() as made:
        pass
    assert made == []
    assert _held(spark, c) and _held(spark, k)
    blocks.release(c)
    blocks.release(k)
    assert not _held(spark, c) and not _held(spark, k)


def test_scope_ignores_other_threads_blocks(spark):
    out = []
    with blocks.scope() as made:
        t = threading.Thread(target=lambda: out.extend(_two_blocks(spark, 106)))
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
    assert made == []
    c, k = out
    assert _held(spark, c) and _held(spark, k)
    blocks.release(c)
    blocks.release(k)


def test_scope_keeps_a_cache_it_did_not_make(spark):
    # A plan someone else cached already is served, not re-made, so the
    # scope must not drop the other owner's entry.
    owner = blocks.cache(spark.range(50).selectExpr("id + 107 AS x"))
    owner.count()
    with blocks.scope() as made:
        again = blocks.cache(spark.range(50).selectExpr("id + 107 AS x"))
        again.count()
    assert made == []
    assert _held(spark, owner)
    blocks.release(owner)
    assert not _held(spark, owner)
