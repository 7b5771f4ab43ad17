"""util.cache_scope / util.owned: a scope releases exactly the pins its
own thread registered, the way each was pinned, on every exit path."""

import contextvars
import threading

import pytest

from kstream_spark import util


def _cached(df) -> bool:
    return df.storageLevel.useMemory


def _pinned(spark, n: int = 10):
    return spark.range(n).persist()


def test_scopes_nest(spark):
    with util.cache_scope():
        outer = util.owned(_pinned(spark))
        with util.cache_scope():
            inner = util.owned(_pinned(spark, 11))
            assert _cached(outer) and _cached(inner)
        assert not _cached(inner)
        assert _cached(outer)
    assert not _cached(outer)


def test_scope_releases_on_error(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with util.cache_scope():
            df = util.owned(_pinned(spark))
            raise RuntimeError("boom")
    assert not _cached(df)


def test_scope_frees_only_its_own_threads_pins(spark):
    """A frame another thread registers is not this scope's, whether that
    thread runs with no scope or with a copy of this thread's context."""
    frames = {}

    def plain():
        frames["plain"] = util.owned(_pinned(spark, 12))

    def inherited(ctx):
        frames["inherited"] = ctx.run(util.owned, _pinned(spark, 13))

    with util.cache_scope():
        mine = util.owned(_pinned(spark))
        for t in (threading.Thread(target=plain),
                  threading.Thread(target=inherited,
                                   args=(contextvars.copy_context(),))):
            t.start()
            t.join(timeout=60)
            assert not t.is_alive()
    assert not _cached(mine)
    assert all(_cached(df) for df in frames.values())
    for df in frames.values():
        df.unpersist()


def test_scope_frees_a_checkpoint(spark):
    with util.cache_scope():
        cp = util.owned(spark.range(100).localCheckpoint(eager=True))
        assert util.checkpoint_bytes(cp)
    assert util.checkpoint_bytes(cp) is None


def test_owned_outside_a_scope_is_a_no_op(spark):
    df = _pinned(spark)
    assert util.owned(df) is df
    with util.cache_scope():
        pass
    assert _cached(df)
    df.unpersist()


# queries whose persists or checkpoints outlived the call before their
# pins were owned: each left a Dataset cached or an RDD stored
LEAKED = [
    "dedup_ngram_jaccard", "dedup_ngram_capped", "dedup_cross_source",
    "dedup_minhash_lsh", "dedup_incremental", "dedup_winnow",
    "dedup_winnow_capped", "dedup_simhash", "dedup_cdc_chunks",
    "text_tfidf", "dedup_survivors", "dedup_clusters",
    "dedup_best_of_cluster", "select_curriculum", "wf_ntile_dist",
    "graph_components",
    # store bases, once kept by a session temp view
    "gt_versioned_upsert", "j3_stream_table_join",
]


@pytest.mark.parametrize("name", LEAKED)
def test_query_leaves_no_cache_after_its_scope(spark, sf_dir, name):
    from kstream_spark.inventory import INVENTORY
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc.sc()
    was_empty = cache_manager.isEmpty()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    with util.cache_scope():
        INVENTORY[name][0](spark, sf_dir) \
            .write.format("noop").mode("overwrite").save()
    assert cache_manager.isEmpty() or not was_empty
    assert {i.id() for i in jsc.getRDDStorageInfo()} <= before
