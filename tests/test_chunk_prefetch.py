"""One chunk-log scan per store operation (``ChunkStore.prefetch``).

A region read or slab overwrite fetches every payload it needs with one
pushed-down scan of the chunks log; ``read_chunk`` stays the per-chunk
access path and keeps its point-get fallback, so a missing payload still
raises ``ChunkNotFoundError`` from the same place.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from mandoline_hbase_spark import storage
from mandoline_hbase_spark.chunkstore import ChunkStore
from mandoline_hbase_spark.errors import ChunkNotFoundError


@pytest.fixture()
def io_counts(store, monkeypatch):
    """Counts of chunks-log scans and ``read_chunk`` calls; zero them
    before the operation under test."""
    chunks_dir = os.path.join(store.dataset_dir, "chunks")
    calls = {"scans": 0, "reads": 0}
    orig_scan, orig_read = storage.scan, ChunkStore.read_chunk

    def scan(table_dir, *args, **kwargs):
        if table_dir == chunks_dir:
            calls["scans"] += 1
        return orig_scan(table_dir, *args, **kwargs)

    def read_chunk(self, h):
        calls["reads"] += 1
        return orig_read(self, h)

    monkeypatch.setattr(storage, "scan", scan)
    monkeypatch.setattr(ChunkStore, "read_chunk", read_chunk)
    return calls


def test_region_read_and_slab_update_scan_the_chunk_log_once(store, io_counts):
    arr = np.arange(20 * 20, dtype=np.float64).reshape(20, 20)
    store.write_variable("p", arr, chunk_shape=(4, 4))  # 5x5 chunks

    io_counts.update(scans=0, reads=0)
    assert np.array_equal(store.read_region("p", ((0, 20), (0, 20))), arr)
    assert io_counts == {"scans": 1, "reads": 25}

    slab = -np.arange(12 * 12, dtype=np.float64).reshape(12, 12)
    io_counts.update(scans=0, reads=0)
    store.update_region("p", slab, (4, 4))  # 3x3 chunks
    assert io_counts == {"scans": 1, "reads": 9}

    arr[4:16, 4:16] = slab
    io_counts.update(scans=0, reads=0)
    assert np.array_equal(store.read_variable("p"), arr)
    assert io_counts == {"scans": 1, "reads": 25}


def test_missing_payload_in_a_prefetched_set_still_raises(store):
    arr = np.arange(8 * 8, dtype=np.float64).reshape(8, 8)
    store.write_variable("p", arr, chunk_shape=(4, 4))
    # commit an index row that points at an id with no payload row
    unknown = "0" * 40
    vid = store.next_version_id()
    meta = {**store.metadata(store.latest_version_id()), "version-id": vid}
    store.index("p", meta).write_index_bulk([((1, 1), unknown)], vid)
    store.write_version(meta)

    with pytest.raises(ChunkNotFoundError, match=f"no chunk was found for hash {unknown}"):
        store.read_region("p", ((0, 8), (0, 8)))
    with pytest.raises(ChunkNotFoundError, match=unknown):
        store.read_variable("p")
    # the other chunks still come from the batch
    assert np.array_equal(store.read_region("p", ((0, 4), (0, 8))), arr[0:4])


def test_ref_delta_rows_are_skipped(store, io_counts):
    cs = store.chunk_store()
    h, data = "a" * 40, b"payload"
    # ref-only rows (data NULL) on both sides of the payload row
    cs.update_chunk_refs(h, 1)
    cs.write_chunk(h, 0, data)
    cs.update_chunk_refs(h, -1)
    cs.update_chunk_refs("b" * 40, 1)  # an id with no payload at all

    io_counts.update(scans=0, reads=0)
    cs = store.chunk_store()
    cs.prefetch([h, "b" * 40, None])
    assert cs.read_chunk(h) == data
    assert io_counts["scans"] == 1
    with pytest.raises(ChunkNotFoundError):
        cs.read_chunk("b" * 40)


def test_shared_hash_variable_assembles_from_one_fetched_id(store, io_counts):
    zeros = np.zeros((20, 20), dtype=np.float64)
    store.write_variable("z", zeros, chunk_shape=(4, 4))
    io_counts.update(scans=0, reads=0)
    assert np.array_equal(store.read_variable("z"), zeros)
    assert np.array_equal(store.read_region("z", ((3, 17), (2, 9))), zeros[3:17, 2:9])
    assert io_counts == {"scans": 2, "reads": 40}


def test_reads_match_across_chunk_compaction(spark, store, io_counts):
    rng = np.random.default_rng(7)
    arr = rng.standard_normal((16, 16))
    v0 = store.write_variable("c", arr, chunk_shape=(4, 4))
    for i in range(3):
        store.update_region("c", np.full((6, 6), float(i)), (2 * i, 3 * i))
    region = ((1, 15), (3, 16))
    before = (
        store.read_variable("c"),
        store.read_region("c", region),
        store.read_region("c", region, version=v0),
    )
    store.compact_chunks(spark)
    io_counts.update(scans=0, reads=0)
    after = (
        store.read_variable("c"),
        store.read_region("c", region),
        store.read_region("c", region, version=v0),
    )
    assert io_counts["scans"] == 3
    for b, a in zip(before, after):
        assert np.array_equal(b, a)
    assert np.array_equal(after[2], arr[1:15, 3:16])
