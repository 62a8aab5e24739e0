"""Everything the benchmark does with the files the program reads or writes:
the seeded input cache, the crash simulation, output digests and checks, and
layer spans taken from the mtimes of files the pipeline writes. Reads files
with pyarrow only, so the checks do not trust the Spark code they check."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

DIGEST_COLUMNS = ("conv_id", "turn_idx", "keep", "reasons", "lang", "ppl", "text_scrubbed")
WAVE_GAP_S = 0.1


def cached_transcripts(cache_dir: str, n_turns: int, seed: int) -> str:
    """Seeded synthetic transcripts, cached by (n_turns, seed). Written to a
    temporary name and renamed, so a killed run leaves no truncated file
    that a later run would reuse."""
    from piperider_spark.datagen import write_transcripts_parquet

    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"transcripts_{n_turns}_{seed}.parquet")
    if not os.path.exists(path):
        tmp = os.path.join(cache_dir, f".tmp_transcripts_{n_turns}_{seed}_{os.getpid()}.parquet")
        try:
            write_transcripts_parquet(tmp, n_turns=n_turns, seed=seed)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
    return path


def lineage_files(out_dir: str) -> dict[str, set[int]]:
    """Each lineage part file and the buckets its rows commit."""
    return {
        f: set(pq.read_table(f, columns=["bucket"]).column("bucket").to_pylist())
        for f in sorted(glob.glob(os.path.join(out_dir, "lineage", "*.parquet")))
    }


def lineage_waves(out_dir: str) -> list[list[int]]:
    """The bucket waves of the fresh run that wrote lineage/, in commit
    order. One wave's lineage rows are stamped (column ``ts``) in one pass
    over its buckets, the next wave's a whole Spark job later, so a gap of
    more than ``WAVE_GAP_S`` between consecutive stamps starts a new wave."""
    lin = ds.dataset(os.path.join(out_dir, "lineage"), format="parquet").to_table(columns=["ts", "bucket"])
    waves: list[list[int]] = []
    prev = None
    for ts, bucket in sorted(zip(lin.column("ts").to_pylist(), lin.column("bucket").to_pylist())):
        if prev is None or ts - prev > WAVE_GAP_S:
            waves.append([])
        waves[-1].append(bucket)
        prev = ts
    return waves


def drop_wave_lineage(out_dir: str, wave: list[int]) -> list[str]:
    """Simulate a crash after every wave but ``wave``: delete exactly the
    lineage files whose buckets all belong to ``wave``. Returns them."""
    dropped = [f for f, b in lineage_files(out_dir).items() if b and b <= set(wave)]
    for f in dropped:
        os.remove(f)
    return dropped


def table_digest(table: pa.Table) -> tuple[int, int]:
    """(row count, order-independent digest) over ``DIGEST_COLUMNS``: the sum
    mod 2^64 of a 64-bit hash per row, so neither row order nor the split
    into files or batches changes it, while a changed, lost or duplicated
    row does. ``reasons`` is hashed as its items joined by a separator."""
    import numpy as np
    import pandas as pd

    cols = {c: table.column(c) for c in DIGEST_COLUMNS}
    reasons = cols["reasons"].cast(pa.list_(pa.string()))
    cols["reasons"] = pc.binary_join(reasons, "\x1f")  # [] -> "", null stays null
    frame = pa.table(cols).to_pandas()
    hashes = pd.util.hash_pandas_object(frame, index=False).to_numpy()
    return table.num_rows, int(hashes.sum(dtype=np.uint64))


def decisions_table(out_dir: str, columns=None) -> pa.Table:
    return ds.dataset(
        os.path.join(out_dir, "decisions"), format="parquet", partitioning="hive"
    ).to_table(columns=columns)


def decisions_digest(out_dir: str) -> tuple[int, int]:
    return table_digest(decisions_table(out_dir, list(DIGEST_COLUMNS)))


def metrics_problems(out_dir: str) -> list[str]:
    """metrics/ per-bucket n_turns and n_kept must equal the counts of the
    decisions/ rows of the same bucket."""
    dec = decisions_table(out_dir, ["bucket", "keep"])
    got = dec.group_by("bucket").aggregate([("keep", "count"), ("keep", "sum")])
    from_dec = {
        int(b): (int(n), int(k))
        for b, n, k in zip(
            got.column("bucket").to_pylist(),
            got.column("keep_count").to_pylist(),
            got.column("keep_sum").to_pylist(),
        )
    }
    met = ds.dataset(
        os.path.join(out_dir, "metrics"), format="parquet", partitioning="hive"
    ).to_table(columns=["bucket", "n_turns", "n_kept"])
    from_met = {
        int(b): (int(n), int(k))
        for b, n, k in zip(*(met.column(c).to_pylist() for c in ("bucket", "n_turns", "n_kept")))
    }
    if met.num_rows != len(from_met):
        return [f"metrics/ has {met.num_rows} rows for {len(from_met)} buckets"]
    if from_met != from_dec:
        bad = sorted(b for b in set(from_met) | set(from_dec) if from_met.get(b) != from_dec.get(b))
        return [f"metrics/ disagrees with decisions/ on buckets {bad}"]
    return []


def _minmax(arr: pa.ChunkedArray) -> tuple:
    mm = pc.min_max(arr)
    return mm["min"].as_py(), mm["max"].as_py()


def profile_expectations(out_dir: str) -> dict:
    """Row count and, per column, (nulls, min, max) of decisions/ computed
    with pyarrow the way ``profile_table`` reports them: strings by length,
    array columns over their exploded items, booleans without min/max."""
    table = decisions_table(out_dir)
    cols = {}
    for name in table.column_names:
        arr = table.column(name)
        if pa.types.is_dictionary(arr.type):
            arr = arr.cast(arr.type.value_type)
        if pa.types.is_list(arr.type):
            arr = pc.list_flatten(arr)
        if pa.types.is_string(arr.type):
            lo, hi = _minmax(pc.utf8_length(arr))
        elif pa.types.is_boolean(arr.type):
            lo = hi = None
        elif pa.types.is_timestamp(arr.type):
            lo, hi = (v.isoformat() for v in _minmax(arr))
        else:
            lo, hi = _minmax(arr)
        cols[name] = (arr.null_count, lo, hi)
    return {"row_count": table.num_rows, "columns": cols}


def profile_problems(profile: dict, expected: dict) -> list[str]:
    """Differences between a ``profile_table`` result and ``expected``."""
    problems = []
    if profile["row_count"] != expected["row_count"]:
        problems.append(f"row_count {profile['row_count']} != {expected['row_count']}")
    for name, want in expected["columns"].items():
        col = profile["columns"].get(name)
        if col is None:
            problems.append(f"column {name} missing from profile")
            continue
        got = (col.get("nulls"), col.get("min"), col.get("max"))
        if got != want:
            problems.append(f"{name}: (nulls, min, max) {got} != {want}")
    return problems


def tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker files excluded."""
    n = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, name))
    return n, size


def _last_mtime(paths) -> float:
    return max(os.path.getmtime(p) for p in paths)


def _bucket_files(out_dir: str, table: str, wave: list[int]) -> list[str]:
    return [
        f
        for b in wave
        for f in glob.glob(os.path.join(out_dir, table, f"bucket={b}", "*.parquet"))
    ]


def pipeline_spans(tracer, out_dir: str, run_span: int, waves: list[list[int]]) -> None:
    """Child spans of a fresh ``run_pipeline`` span, read from the mtimes of
    the files it wrote: staging ends at ``staged/_SUCCESS``; each wave's
    decisions write ends at its last decisions file, its metrics write at
    its last metrics file and its lineage append at its lineage files. A
    file's mtime is when its task closed it, so each job's commit lands in
    the next span."""
    run = tracer.spans[run_span]
    prev = tracer.add(
        "pipeline.staging", run.start, os.path.getmtime(os.path.join(out_dir, "staged", "_SUCCESS")), run_span
    )
    lineage = lineage_files(out_dir)
    for wave in waves:
        start = tracer.spans[prev].end
        dec_end = _last_mtime(_bucket_files(out_dir, "decisions", wave))
        met_end = _last_mtime(_bucket_files(out_dir, "metrics", wave))
        lin_end = _last_mtime([f for f, b in lineage.items() if b and b <= set(wave)])
        prev = tracer.add("pipeline.wave", start, lin_end, run_span)
        tracer.add("pipeline.decisions_write", start, dec_end, prev)
        tracer.add("pipeline.metrics_write", dec_end, met_end, prev)
        tracer.add("pipeline.lineage_append", met_end, lin_end, prev)
