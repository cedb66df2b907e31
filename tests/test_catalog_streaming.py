"""Storage ops (store/upsert/delete/alias — SURVEY §2.1) and streaming
ingestion with incremental posting deltas."""

import pandas as pd
import pytest

from bzzz_spark.build.indexer import IndexConfig
from bzzz_spark.fixtures import EPOCH, synth_transcripts_pdf, to_spark
from bzzz_spark.query import ast
from bzzz_spark.query.executor import execute, search
from bzzz_spark.sources.catalog import Catalog
from bzzz_spark.streaming.ingest import StreamingIndexer

from pyspark.sql import functions as F


def _tdf(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    return to_spark(spark, pdf)


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"))


def test_store_and_read(spark, catalog):
    df = _tdf(spark, [("c1", 0, "user", "hello world", "", EPOCH)])
    catalog.store("transcripts", df)
    assert catalog.read("transcripts").count() == 1


def test_store_upsert_by_id(spark, catalog):
    catalog.store("t", _tdf(spark, [("c1", 0, "user", "old", "", EPOCH)]))
    catalog.store(
        "t",
        _tdf(spark, [("c1", 0, "user", "new", "", EPOCH + pd.Timedelta(seconds=1)),
                     ("c2", 0, "user", "other", "", EPOCH)]),
        id_cols=("conv_id", "turn_idx"),
    )
    rows = {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in catalog.read("t").collect()}
    assert rows == {("c1", 0): "new", ("c2", 0): "other"}


def test_delete_matching_predicate(spark, catalog):
    catalog.store("t", _tdf(spark, [
        ("c1", 0, "user", "keep me", "", EPOCH),
        ("c1", 1, "tool", "drop me", "", EPOCH),
    ]))
    n = catalog.delete_matching("t", F.col("role") == "tool")
    assert n == 1
    assert [r["text"] for r in catalog.read("t").collect()] == ["keep me"]


def test_delete_from_query(spark, catalog, small_pdf):
    """The reference's delete-from-query (index_store.clj:159-166):
    delete every doc matching a search query."""
    from bzzz_spark.build.indexer import build_index

    catalog.store("t", to_spark(spark, small_pdf))
    idx = build_index(catalog.read("t"),
                      IndexConfig(segment_size=64, num_partitions=2))
    matched = execute(idx, ast.Term("zzz")).join(
        idx.docs.select("docid", "conv_id", "turn_idx"), "docid"
    ).withColumn("key", F.concat_ws("#", "conv_id", "turn_idx"))
    n_matched = matched.count()
    before = catalog.read("t").count()
    # delete via composite-key predicate built from the matched set
    pairs = [(r["conv_id"], r["turn_idx"]) for r in matched.collect()]
    cond = F.lit(False)
    for c, t in pairs:
        cond = cond | ((F.col("conv_id") == c) & (F.col("turn_idx") == t))
    n = catalog.delete_matching("t", cond)
    assert n == n_matched > 0
    assert catalog.read("t").count() == before - n_matched


def test_truncate(spark, catalog):
    catalog.store("t", _tdf(spark, [("c1", 0, "u", "x", "", EPOCH)]))
    catalog.truncate("t")
    assert catalog.read("t").count() == 0


def test_aliases(spark, catalog):
    catalog.store("transcripts_v1", _tdf(spark, [("c1", 0, "u", "x", "", EPOCH)]))
    catalog.alias_set("live", "transcripts_v1")
    assert catalog.read("live").count() == 1
    catalog.alias_del("live")
    assert catalog.resolve("live") == "live"


def test_streaming_incremental_index(spark, tmp_path, small_pdf):
    """Batches ingested incrementally must answer queries identically to
    a batch build over the same rows."""
    from bzzz_spark.oracle.pyoracle import PyIndex
    from bzzz_spark.query.wand import plan_candidates

    cfg = IndexConfig(block_size=16, segment_size=64, num_partitions=2)
    ing = StreamingIndexer(spark, str(tmp_path / "live"), cfg)
    # feed three micro-batches (foreachBatch body driven directly —
    # the streaming wiring is .start(); semantics live in process_batch)
    pdf = small_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for i in range(3):
        chunk = pdf.iloc[i * len(pdf) // 3:(i + 1) * len(pdf) // 3]
        # batches arrive multi-partition: ingest must keep that
        # parallelism (no coalesce(1) serialization point) while still
        # assigning dense, ordered docids via the two-pass offset scheme
        batch_df = to_spark(spark, chunk).repartition(4)
        assert batch_df.rdd.getNumPartitions() > 1
        ing.process_batch(batch_df, epoch_id=i)
    live = ing.live_index()
    node = ast.Bool(must=[ast.Term("the"), ast.Term("data")])
    # a live index plans the block-max kernels like a built one
    plan = plan_candidates(live, node, 10)
    assert plan is not None and not plan.empty
    got = [(r["docid"], round(r["score"], 9))
           for r in search(live, node, size=10).collect()]
    oracle = PyIndex(pdf.to_dict("records"))
    want = [(d, round(s, 9)) for d, s in oracle.search(node, size=10)]
    assert got == want
    # compaction produces a wand-safe index with identical results
    from bzzz_spark.build.checkpoint import read_index

    ing.compact(str(tmp_path / "compacted"))
    compacted = read_index(spark, str(tmp_path / "compacted"))
    got2 = [(r["docid"], round(r["score"], 9))
            for r in search(compacted, node, size=10).collect()]
    assert got2 == want


def test_kv_store_crud(spark, catalog):
    """S11 deterministic subset: named maps, get/put/delete semantics of
    the reference's /_kv MapDB files (kv.clj:25-51) minus closure eval."""
    from bzzz_spark.sources.catalog import KVStore

    kv = KVStore(catalog, "state")
    assert kv.get_map("counters") == {}
    kv.put_all("counters", {"a": 1, "b": 2})
    kv.put_all("flags", {"on": "true"})
    assert kv.get_map("counters") == {"a": "1", "b": "2"}
    assert kv.get("counters", "a") == "1"
    assert kv.get("counters", "zzz", default="miss") == "miss"
    # upsert: last write wins (MapDB HashMap.put under lock)
    kv.put_all("counters", {"a": 10})
    assert kv.get("counters", "a") == "10"
    assert kv.object_names() == ["counters", "flags"]
    kv.delete("counters", keys=["b"])
    assert kv.get_map("counters") == {"a": "10"}
    kv.delete("flags")
    assert kv.object_names() == ["counters"]


def test_kv_reference_roundtrip_shapes(spark, catalog):
    """The reference's kv_test.clj round trips (test/bzzz/kv_test.clj:5-39),
    re-expressed without closure eval (S11 pinned subset):
    - store: remove+put 'hello'->'world' in map 'hello' of file
      'test-db', then search with obj-name returns the whole map and
      (get v "hello") == "world";
    - store with args: a value carrying the request args ([1,2,3])
      round-trips through a named map;
    - named-map and store-file isolation (MapDB named hashmaps are
      independent; distinct file-names are distinct stores)."""
    import json

    from bzzz_spark.sources.catalog import KVStore

    kv = KVStore(catalog, "test-db")
    # store: (.remove m "hello") (.put m "hello" "world") == upsert
    kv.put_all("hello", {"hello": "stale"})
    kv.put_all("hello", {"hello": "world"})
    # search {:file-name "test-db" :obj-name "hello"} -> whole map
    v = kv.get_map("hello")
    assert v.get("hello") == "world"
    # store-eval args round trip: hello-args = [1,2,3]
    kv.put_all("hello", {"hello-args": json.dumps([1, 2, 3])})
    assert json.loads(kv.get("hello", "hello-args")) == [1, 2, 3]
    assert kv.get_map("hello") == {
        "hello": "world", "hello-args": "[1, 2, 3]"
    }
    # named-map isolation within one store file
    kv.put_all("other", {"hello": "elsewhere"})
    assert kv.get_map("hello")["hello"] == "world"
    kv.delete("other", keys=["hello"])
    assert kv.get_map("hello")["hello"] == "world"
    # store-file isolation: a different file-name is a different store
    kv2 = KVStore(catalog, "test-db-2")
    assert kv2.get_map("hello") == {}
    kv2.put_all("hello", {"hello": "second"})
    assert kv.get_map("hello")["hello"] == "world"
    assert kv2.get_map("hello")["hello"] == "second"
    # delete-object vs delete-keys
    kv.delete("hello", keys=["hello-args"])
    assert kv.get_map("hello") == {"hello": "world"}
    kv.delete("hello")
    assert kv.get_map("hello") == {}
    assert kv2.get_map("hello")["hello"] == "second"
