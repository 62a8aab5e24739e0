import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import files


def _decisions(n=40):
    return pa.table(
        {
            "conv_id": [f"c{i // 4}" for i in range(n)],
            "turn_idx": pa.array([i % 4 for i in range(n)], pa.int32()),
            "keep": [i % 3 != 0 for i in range(n)],
            "reasons": [[] if i % 3 else ["text_empty", "non_english"] for i in range(n)],
            "lang": [None if i == 5 else "en" for i in range(n)],
            "ppl": [None if i == 7 else 1.0 + i / 3 for i in range(n)],
            "text_scrubbed": [None if i % 3 == 0 else f"t{i} <EMAIL>" for i in range(n)],
            "bucket": pa.array([i % 4 for i in range(n)], pa.int32()),
        }
    )


def test_digest_ignores_row_order_and_chunking():
    t = _decisions()
    want = files.table_digest(t)
    perm = [(i * 7) % t.num_rows for i in range(t.num_rows)]
    shuffled = t.take(perm)
    rechunked = pa.Table.from_batches(shuffled.to_batches(max_chunksize=3))
    halves = pa.concat_tables([t.slice(20), t.slice(0, 20)])
    assert files.table_digest(shuffled) == want
    assert files.table_digest(rechunked) == want
    assert files.table_digest(halves) == want


def test_digest_sees_changed_lost_and_duplicated_rows():
    t = _decisions()
    want = files.table_digest(t)
    changed = t.set_column(5, "ppl", pa.array([2.0] + t.column("ppl").to_pylist()[1:]))
    assert files.table_digest(changed) != want
    assert files.table_digest(t.slice(1)) != want
    assert files.table_digest(pa.concat_tables([t, t.slice(0, 1)])) != want


def test_decisions_digest_ignores_partitioning(tmp_path):
    t = _decisions()
    part = ds.partitioning(pa.schema([("bucket", pa.int32())]), flavor="hive")
    a, b = tmp_path / "a", tmp_path / "b"
    ds.write_dataset(t, a / "decisions", format="parquet", partitioning=part)
    ds.write_dataset(
        t.take(list(range(t.num_rows))[::-1]),
        b / "decisions",
        format="parquet",
        partitioning=part,
        max_rows_per_file=3,
        max_rows_per_group=3,
    )
    assert files.decisions_digest(str(a)) == files.decisions_digest(str(b))
    assert files.decisions_digest(str(a)) == files.table_digest(t)


def test_drop_wave_lineage_keeps_files_with_other_buckets(tmp_path):
    lin = tmp_path / "lineage"
    lin.mkdir()
    for name, buckets in {"w1": [0, 1], "w2a": [8, 9], "w2b": [14, 15], "mixed": [7, 8]}.items():
        pq.write_table(pa.table({"bucket": pa.array(buckets, pa.int32())}), lin / f"{name}.parquet")
    dropped = files.drop_wave_lineage(str(tmp_path), list(range(8, 16)))
    assert sorted(os.path.basename(f) for f in dropped) == ["w2a.parquet", "w2b.parquet"]
    assert sorted(os.listdir(lin)) == ["mixed.parquet", "w1.parquet"]


def test_cached_transcripts_keyed_by_seed_and_atomic(tmp_path):
    cache = str(tmp_path)
    # a truncated file under a temporary name is never what the cache returns
    (tmp_path / ".tmp_transcripts_300_1_999.parquet").write_bytes(b"PAR1")
    a = files.cached_transcripts(cache, 300, 1)
    mtime = os.path.getmtime(a)
    assert files.cached_transcripts(cache, 300, 1) == a
    assert os.path.getmtime(a) == mtime  # reused, not rewritten
    b = files.cached_transcripts(cache, 300, 2)
    assert a != b
    assert pq.read_table(a).column("conv_id") != pq.read_table(b).column("conv_id")
    assert not [f for f in os.listdir(cache) if f.startswith(".tmp") and str(os.getpid()) in f]


def test_lineage_waves_split_on_stamp_gaps(tmp_path):
    lin = tmp_path / "lineage"
    lin.mkdir()
    # two appends a job apart, each spread over files; rows of one wave
    # are stamped microseconds apart
    rows = {"a": ([3, 1], [100.0, 100.000002]), "b": ([0, 2], [100.000001, 100.000003]),
            "c": ([5, 4], [104.5, 104.500001])}
    for name, (buckets, ts) in rows.items():
        pq.write_table(pa.table({"bucket": pa.array(buckets, pa.int32()), "ts": ts}), lin / f"{name}.parquet")
    assert files.lineage_waves(str(tmp_path)) == [[3, 0, 1, 2], [5, 4]]
