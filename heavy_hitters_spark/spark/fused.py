"""Fused tokenize -> hash -> sketch partials over raw text rows.

The naive plan (explode + xxhash64 in Catalyst, then mapInPandas over
token ids) ships one Arrow row per TOKEN across the JVM->Python
boundary — at ~250 tokens/doc that's 250x more rows than documents and
the IPC dominates the build (measured: it saturates memory bandwidth at
high core counts and kills scaling). This fused path ships one row per
DOCUMENT and does tokenization in pyarrow C kernels inside the worker:

  scan (column-pruned text)
    -> mapInArrow: token slots (a zero-copy string view over the
       batch's own text buffer, one slot per token plus at most one
       trailing space; numpy over the offsets and bytes)
       -> value_counts (Arrow C) -> rtrim " " and drop empty tokens
       -> keys.xxh64_array over the ~10k-entry batch vocabulary
       (numpy, no per-token Python) -> sum entries by id
    -> one sketch update per batch on the (unique id, count) pairs
       (a Zipf batch of ~2M tokens collapses to ~10k pairs; every
       sketch, KLL included, folds them exactly as the raw id stream)
    -> one state per partition: a raw HHS1 blob published into the
       side-channel directory, or a zlib-packed state row when the
       states are collected

The ids are the same xxhash64&mask32 ids as spark.keys.key_id_col, so
fused-built sketches are interchangeable with explode-built ones
(asserted in tests/test_fused.py).

The merge side is aggregate's single build engine: ``TokenSketchBuilder``
is an ``aggregate.Build`` over these partials, so it uses the
side-channel DirFold under local[*] masters and ``tree_merge``
otherwise; ``build_token_sketch`` is its one-shot form.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.base import Sketch, pack_state
from .aggregate import PARTIAL_SCHEMA, Build

_ARROW_PARTIAL_SCHEMA = to_arrow_schema(PARTIAL_SCHEMA)


def _token_counts(texts: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """Distinct ``" "``-separated tokens of a string / large_string array
    and their counts, empty tokens dropped — the tokens of
    ``split(" ")``, without copying them into a list array.

    A zero-copy "slot" view over the array's own data buffer has a slot
    boundary at every document start and after every space byte, so
    each slot is one token plus at most one trailing space (byte 0x20
    never occurs inside a multi-byte UTF-8 sequence). ``value_counts``
    runs over the slots; the ~10k distinct entries are then right-
    trimmed, so a token may appear twice ("tok" and "tok " slots) and
    the caller sums entries by id. Empty tokens ("" and " " slots) are
    dropped by slot, before hashing, so a real token whose hash
    collides with h("") survives."""
    if texts.null_count:
        texts = texts.fill_null("")  # a null slot may span bytes
    _, obuf, dbuf = texts.buffers()
    if len(texts) == 0 or dbuf is None:
        return pa.array([], texts.type), np.empty(0, np.int64)
    off = np.frombuffer(obuf, np.int64 if pa.types.is_large_string(texts.type) else np.int32)
    off = off[texts.offset : texts.offset + len(texts) + 1]
    lo, hi = int(off[0]), int(off[-1])
    # slot starts: every document start (off[0] included) and every
    # byte after a space
    is_start = np.empty(hi - lo + 1, dtype=bool)
    np.equal(np.frombuffer(dbuf, np.uint8, hi - lo, lo), 32, out=is_start[1:])
    is_start[off - lo] = True
    bounds = np.flatnonzero(is_start).astype(off.dtype, copy=False)
    bounds += lo
    slots = pa.Array.from_buffers(
        texts.type, len(bounds) - 1, [None, pa.py_buffer(bounds), dbuf]
    )
    vc = pc.value_counts(slots)
    vocab = pc.utf8_rtrim(vc.field("values"), characters=" ")
    counts = vc.field("counts").to_numpy()
    keep = pc.binary_length(vocab).to_numpy() > 0
    if not keep.all():
        vocab, counts = vocab.filter(pa.array(keep)), counts[keep]
    return vocab, counts


def _fused_fn(
    template_bytes: bytes,
    text_col: str,
    blob_col: str | None = None,
    side_dir: str | None = None,
    path_col: str | None = None,
):
    """``blob_col``: when set, incoming rows carry pre-serialized Arrow
    IPC streams (see ``pack_arrow_blobs``) instead of raw text; each
    blob is decoded in Arrow C and fed to the same tokenize->sketch
    loop. The JVM then serves a handful of opaque binary rows per
    partition instead of converting ~10^5 string rows per build — the
    per-row columnar->Arrow conversion overhead was measured at ~17 us
    per row, a pure serving-side tax at high parallelism.

    ``path_col``: when set, incoming rows carry PATHS to Arrow IPC
    stream files (see ``materialize_arrow_files``); each task
    memory-maps its file and iterates batches zero-copy, so the input
    bytes never cross the JVM->Python socket at all — the JVM ships
    one short string per task. This is the local-mode analog of
    executors reading their own split from shared storage (and of
    PySpark 4's Python Data Source API, where the scan itself runs in
    the Python worker); measured motivation in BENCH/BASELINE.md: at
    local[8] x 800k pages the workers spent up to 109 core-seconds per
    pass BLOCKED on JVM blob serving in degraded host-bandwidth phases
    (vs ~7 s clean), the single largest noise amplifier in the N-vs-4N
    ratio."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from ..core import memtune  # noqa: F401
        from ..core.base import pack_state_bytes, unpack_state
        from . import keys

        sk = unpack_state(template_bytes)
        t0 = time.perf_counter()
        n_rows = n_upd = 0

        def text_batches():
            for b in batches:
                if path_col is not None:
                    for p in b.column(path_col).to_pylist():
                        # zero-copy: batches are slices over the mapping
                        # (tmpfs pages, no socket transfer, no copy); the
                        # map must stay open while its batches are
                        # consumed — each yielded batch is fully
                        # processed before the generator resumes
                        with pa.memory_map(p, "r") as mm:
                            yield from pa.ipc.open_stream(mm)
                elif blob_col is None:
                    yield b
                else:
                    for blob in b.column(blob_col):
                        # zero-copy: parse the IPC stream from the Arrow
                        # buffer view (as_py() would copy the multi-MB
                        # blob into Python bytes first)
                        reader = pa.ipc.open_stream(pa.BufferReader(blob.as_buffer()))
                        yield from reader

        for batch in text_batches():
            texts = batch.column(text_col)
            n_rows += len(texts)
            vocab, uc = _token_counts(texts)
            if len(uc) == 0:
                continue
            u = keys.xxh64_array(vocab) & keys.MASK32
            order = np.argsort(u, kind="stable")
            u, uc = u[order], uc[order]
            # collapse entries that hash to the same id: "tok" and
            # "tok " slots, and true hash collisions
            starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
            if len(starts) < len(u):
                u = u[starts]
                uc = np.add.reduceat(uc, starts)
            sk.update_batch(u, uc)
            n_upd += int(uc.sum())
        ctx = TaskContext.get()
        raw = sk.to_bytes()
        if side_dir is None:
            state = pack_state_bytes(raw)  # collected: ship packed; account raw (SPACE)
        else:
            from .aggregate import publish_state_file

            publish_state_file(side_dir, raw, ctx)
            state = b""
        yield pa.RecordBatch.from_pydict(
            {
                "part_id": [ctx.partitionId() if ctx else -1],
                "state": [state],
                "n_rows": [n_rows],
                "n_updates": [n_upd],
                "wall_ms": [(time.perf_counter() - t0) * 1000.0],
                "state_bytes": [len(raw)],
                "files": [""],
            },
            schema=_ARROW_PARTIAL_SCHEMA,
        )

    return fn


class TokenSketchBuilder(Build):
    """Prepared repeated fused build: analyze the plan ONCE, run it many
    times (the micro-batch / scheduled-rebuild production shape).

    ``build_token_sketch`` constructs a fresh DataFrame per call, so
    every build re-pays driver-side analysis + task-closure setup
    (re-collecting the same DataFrame object reuses the analyzed/
    optimized plan Spark caches). Measured on a 4-CPU host, 200k cached
    pages in 16 partitions at local[4], 10 interleaved rounds: one-shot
    1.36 s vs prepared 1.29 s median, a per-round difference of 56 ms
    median (-36 to 201 ms). For a one-shot build that cost is
    irrelevant; for repeated builds over a stable input
    (streaming micro-batches, per-window rebuilds, benchmarking) it is
    a pure Amdahl term, so this builder keeps ONE partials DataFrame
    with a FIXED side-channel directory and re-collects it per run
    (``aggregate.Build``). States are byte-identical to
    ``build_token_sketch`` (same kernel closure, pinned in
    tests/test_fused.py)."""

    def __init__(
        self,
        df: DataFrame,
        template: Sketch,
        text_col: str = "text",
        fanin: int = 64,
        n_hint: int | None = None,
        blob_col: str | None = None,
        side_channel: bool | None = None,
        path_col: str | None = None,
    ) -> None:
        tb = pack_state(template)
        col = blob_col or path_col or text_col

        def make_partials(side_dir: str | None) -> DataFrame:
            return df.select(col).mapInArrow(
                _fused_fn(tb, text_col, blob_col=blob_col, side_dir=side_dir, path_col=path_col),
                PARTIAL_SCHEMA,
            )

        super().__init__(df, make_partials, side_channel=side_channel, fanin=fanin, n_hint=n_hint)


def build_token_sketch(
    df: DataFrame,
    template: Sketch,
    text_col: str = "text",
    fanin: int = 64,
    n_hint: int | None = None,
    blob_col: str | None = None,
    side_channel: bool | None = None,
    path_col: str | None = None,
) -> tuple[Sketch, dict]:
    """One-pass fused build over a text column; returns (sketch, metrics).
    Equivalent result to tokens(df) -> key_id_col -> build_sketch, at a
    fraction of the JVM->Python transfer. With ``blob_col``, ``df`` is a
    pre-packed blob table from ``pack_arrow_blobs`` (same sketch values
    for all linear sketches; merge-shape classes unchanged). With
    ``path_col``, ``df`` carries Arrow-IPC file paths from
    ``materialize_arrow_files`` and each task memory-maps its file
    (input bytes never cross the JVM->Python socket).

    ``side_channel=None`` (default) resolves to True under a local[*]
    master — executors share the driver's filesystem, so the streaming
    DirFold merge (states published by atomic rename, folded while the
    map stage runs) is strictly better than collect+fold. On a cluster
    it stays False unless the caller opts in (requires a shared
    filesystem; same requirement as build_sketch_checkpointed)."""
    with TokenSketchBuilder(
        df, template, text_col=text_col, fanin=fanin, n_hint=n_hint,
        blob_col=blob_col, side_channel=side_channel, path_col=path_col,
    ) as b:
        return b.run()


def pack_arrow_blobs(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Pre-materialize the input as Arrow IPC stream blobs, one blob
    per incoming Arrow batch, PARTITION-PRESERVING (mapInArrow is
    per-partition, so every blob stays in its source partition and the
    work distribution of a downstream build is unchanged).

    Purpose: executor-storage input caching whose SERVING cost is a few
    opaque binary rows per partition instead of a per-row
    columnar->Arrow conversion on every pass — on a real cluster this
    is the standard pattern of caching decoded scan output in its wire
    format and letting the worker decode in Arrow C (zero-copy IPC)."""

    def pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import io

        for b in batches:
            sink = io.BytesIO()
            with pa.ipc.new_stream(sink, b.schema) as w:
                w.write_batch(b)
            yield pa.RecordBatch.from_pydict({"blob": [sink.getvalue()]})

    sel = df.select(*cols) if cols else df
    return sel.mapInArrow(pack, "blob binary")


def materialize_arrow_files(
    df: DataFrame, out_dir: str, cols: list[str] | None = None
) -> list[str]:
    """Write each partition's batches as ONE Arrow IPC stream file under
    ``out_dir`` (atomic tmp+rename, partition-preserving — one file per
    input partition, batches in order). Returns the file paths sorted by
    partition id. Empty partitions produce no file.

    Pairs with ``path_col`` builds: point ``out_dir`` at RAM-backed
    storage (tmpfs — unevictable without swap, same rationale as the
    SPARK_GRAFT_LOCAL_DIR hook) and downstream timed builds read the
    input via per-task memory maps instead of JVM->Python Arrow
    serving. On a cluster the analog is a shared-storage staging dir —
    the same requirement as build_sketch_checkpointed's durable
    partials; or skip staging entirely and scan with a Python-side
    reader (PySpark 4 Python Data Source API)."""

    def write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        att = ctx.attemptNumber() if ctx else 0
        tmp = os.path.join(out_dir, f".tmp_p{pid}_a{att}")
        writer = None
        n = 0
        with open(tmp, "wb") as f:
            for b in batches:
                if writer is None:
                    writer = pa.ipc.new_stream(f, b.schema)
                writer.write_batch(b)
                n += b.num_rows
            if writer is not None:
                writer.close()
        if writer is None:  # empty partition: no schema, no file
            os.unlink(tmp)
            return
        final = os.path.join(out_dir, f"part_{pid:05d}.arrow")
        os.rename(tmp, final)
        yield pa.RecordBatch.from_pydict({"part_id": [pid], "path": [final]})

    sel = df.select(*cols) if cols else df
    rows = sel.mapInArrow(write, "part_id long, path string").collect()
    return [r["path"] for r in sorted(rows, key=lambda r: r["part_id"])]


def paths_df(spark, paths: list[str]) -> DataFrame:
    """One-row-per-slice paths DataFrame: exactly one task per file in
    a downstream ``path_col`` build (sc.parallelize with an explicit
    slice count — createDataFrame of a local collection costs ~200 ms
    PER SLICE in this sandbox, see functions/multimodal.py)."""
    rdd = spark.sparkContext.parallelize([(p,) for p in paths], max(len(paths), 1))
    return spark.createDataFrame(rdd, "path string")
