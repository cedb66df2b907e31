"""Cold reads of the in-process serving tier: LocalIndex resolves terms
in its in-memory term directory and reads a cold term's blocks from
only the parquet row groups whose footer term_id range covers it.

The counterpart of tests/test_cold_io.py (the Spark reader's pushed
filter).  A pyarrow.dataset isin scan stays here as the reference for
what fetch_blocks must return."""

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from bzzz_spark.build.checkpoint import build_and_write, read_index
from bzzz_spark.build.indexer import IndexConfig
from bzzz_spark.fixtures import synth_transcripts_spark
from bzzz_spark.query import ast
from bzzz_spark.serve.local import LocalIndex, local_search
from bzzz_spark.serve.scatter import build_sharded

RARE = "tok04321"


@pytest.fixture(scope="module")
def chunked(spark, tmp_path_factory):
    """A build_and_write index with two chunk files; each chunk is a
    docid range, so each file spans the whole term range."""
    out = str(tmp_path_factory.mktemp("chunked"))
    build_and_write(synth_transcripts_spark(spark, 20000), out,
                    IndexConfig(segment_size=1 << 14), n_chunks=2)
    return out


@pytest.fixture(scope="module")
def sharded(spark, small_transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sharded"))
    build_sharded(small_transcripts, out, 3,
                  IndexConfig(block_size=16, segment_size=64))
    return [os.path.join(out, f"shard={i}") for i in range(3)]


def _scan(index_dir: str, tids) -> pd.DataFrame:
    """The reference read: a dataset isin scan, ordered by term_id with
    each term's rows in scan order."""
    ds = pads.dataset(os.path.join(index_dir, "postings"),
                      format="parquet", partitioning="hive")
    cols = [n for n in ds.schema.names if n != "chunk"]
    pdf = ds.to_table(columns=cols,
                      filter=pc.field("term_id").isin(list(tids))).to_pandas()
    return pdf.sort_values("term_id", kind="stable").reset_index(drop=True)


def _all_tids(index_dir: str) -> list[int]:
    t = pq.read_table(os.path.join(index_dir, "dictionary"),
                      columns=["term_id"])
    return sorted(t["term_id"].to_pylist())


def _assert_fetch_equals_scan(index_dir: str) -> None:
    li = LocalIndex(index_dir)
    tids = _all_tids(index_dir)
    assert tids
    # batches of several sizes; every batch is cold, then all are cached
    for _ in range(2):
        at, size = 0, 1
        while at < len(tids):
            batch = tids[at: at + size]
            got = li.fetch_blocks(batch)
            pd.testing.assert_frame_equal(got, _scan(index_dir, batch))
            at, size = at + size, size * 2 if size < 256 else 1


def test_chunked_fetch_equals_dataset_scan(chunked):
    assert len(glob.glob(os.path.join(chunked, "postings", "chunk=*",
                                      "*.parquet"))) >= 2
    _assert_fetch_equals_scan(chunked)


def test_sharded_fetch_equals_dataset_scan(sharded):
    for d in sharded:
        _assert_fetch_equals_scan(d)


def _footer_groups(index_dir: str) -> dict:
    """(file name, row group) → (term_id min, max, rows), from footers."""
    out = {}
    for f in glob.glob(os.path.join(index_dir, "postings", "*", "*.parquet")):
        md = pq.read_metadata(f)
        col = md.schema.names.index("term_id")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            out[(os.path.basename(f), g)] = (
                st.min, st.max, md.row_group(g).num_rows
            )
    return out


@pytest.fixture
def reads(monkeypatch):
    """Every read_row_group call as (file name, row group)."""
    got = []
    real_init = pq.ParquetFile.__init__
    real_read = pq.ParquetFile.read_row_group

    def init(self, source, *a, **kw):
        # read_metadata opens a NativeFile, never read by row group
        self._spied_name = (os.path.basename(source)
                            if isinstance(source, str) else source)
        real_init(self, source, *a, **kw)

    def spy(self, i, *a, **kw):
        got.append((self._spied_name, i))
        return real_read(self, i, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "__init__", init)
    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
    return got


def test_rare_term_reads_only_covering_row_groups(chunked, reads):
    li = LocalIndex(chunked)
    tid = li.lookup_terms([RARE])[RARE][0]
    groups = _footer_groups(chunked)
    covering = {k for k, (lo, hi, _) in groups.items() if lo <= tid <= hi}
    total = sum(rows for _, _, rows in groups.values())
    got = li.fetch_blocks([tid])
    assert len(got) > 0 and set(got["term_id"]) == {tid}
    assert set(reads) == covering and len(reads) == len(covering)
    assert len({f for f, _ in covering}) >= 2  # one group per chunk file
    read_rows = sum(groups[k][2] for k in reads)
    assert read_rows < 0.2 * total, (read_rows, total)
    reads.clear()
    li.fetch_blocks([tid])  # cached: no parquet read
    assert reads == []


def test_duplicate_term_ids_fetch_and_cache_once(chunked):
    li = LocalIndex(chunked)
    tid = li.lookup_terms(["error"])["error"][0]
    once = LocalIndex(chunked).fetch_blocks([tid])
    twice = li.fetch_blocks([tid, tid])
    pd.testing.assert_frame_equal(twice, once)
    held = sum(size for _cols, size in li._block_cache.values())
    assert li._cached_bytes == held
    pd.testing.assert_frame_equal(li.fetch_blocks([tid, tid]), once)
    assert li._cached_bytes == held


def _empty_dtypes(index_dir: str) -> pd.Series:
    ds = pads.dataset(os.path.join(index_dir, "postings"),
                      format="parquet", partitioning="hive")
    schema = pa.schema([f for f in ds.schema if f.name != "chunk"])
    return schema.empty_table().to_pandas().dtypes


def test_term_absent_from_a_shard_fetches_empty_frame(sharded, reads):
    want = _empty_dtypes(sharded[0])
    shards = [LocalIndex(d) for d in sharded]
    absent = None
    for tid in _all_tids(sharded[0]):
        got = [s.fetch_blocks([tid]) for s in shards]
        if any(len(g) == 0 for g in got) and any(len(g) for g in got):
            absent = tid
            break
    assert absent is not None
    for g in got:
        pd.testing.assert_series_equal(g.dtypes, want)
    # an id past every footer's range reads no row group at all
    reads.clear()
    beyond = max(_all_tids(sharded[0])) + 1000
    got = shards[0].fetch_blocks([beyond])
    assert len(got) == 0 and reads == []
    pd.testing.assert_series_equal(got.dtypes, want)


QUERIES = [
    ast.Term(RARE),
    ast.Term("error"),
    ast.Bool(must=[ast.Term("error"), ast.Term("data")]),
    ast.Bool(should=[ast.Term(RARE), ast.Term("tok00777"),
                     ast.Term("shard")]),
    ast.Bool(must=[ast.Term("query")], must_not=[ast.Term("the")]),
    ast.Wildcard("tok0432*"),
]


def test_row_groups_without_statistics_are_read(chunked, tmp_path):
    """A footer without term_id min/max covers every term: rewriting
    the postings with write_statistics=False changes no answer."""
    bare = str(tmp_path / "bare")
    shutil.copytree(chunked, bare)
    for f in glob.glob(os.path.join(bare, "postings", "*", "*.parquet")):
        src = pq.ParquetFile(f)
        groups = [src.read_row_group(g) for g in range(src.num_row_groups)]
        with pq.ParquetWriter(f, groups[0].schema,
                              write_statistics=False) as w:
            for g in groups:
                w.write_table(g)
    li, orig = LocalIndex(bare), LocalIndex(chunked)
    for _fi, _g, lo, hi in zip(*li._row_groups):
        assert (lo, hi) == (np.iinfo(np.int64).min, np.iinfo(np.int64).max)
    for q in QUERIES:
        pd.testing.assert_frame_equal(local_search(li, q, size=10),
                                      local_search(orig, q, size=10))


def test_stats_is_one_file_and_two_still_open(spark, chunked, tmp_path):
    stats = glob.glob(os.path.join(chunked, "stats", "*.parquet"))
    assert len(stats) == 1
    # the layout written before stats/ was coalesced: an empty part file
    # next to the one holding the row
    old = str(tmp_path / "old")
    shutil.copytree(chunked, old)
    pq.write_table(pq.read_table(stats[0]).slice(0, 0),
                   os.path.join(old, "stats", "part-00000-empty.parquet"))
    assert len(glob.glob(os.path.join(old, "stats", "*.parquet"))) == 2
    assert LocalIndex(old).scalar_stats() == LocalIndex(chunked).scalar_stats()
    assert (read_index(spark, old).scalar_stats()
            == read_index(spark, chunked).scalar_stats())
