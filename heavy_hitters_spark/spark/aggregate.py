"""Distributed sketch aggregation: vectorized partial build per
partition + treeAggregate-style associative merge (SURVEY.md §3.4).

Why not a pandas GROUPED_AGG UDAF: PySpark's pandas UDAFs cannot carry
custom partial state between the map and reduce sides, so the two-stage
shape is explicit here — and it is *better* at scale because each stage
is a plain DataFrame with checkpointable rows:

  stage 1 (partial):  mapInPandas over the input partitions; each task
      folds its Arrow batches into ONE sketch state (numpy kernels,
      zero per-row Python) and emits a single serialized-state row with
      lineage (partition id, input files, row count, wall time)
  stage 2 (merge):    iterative fan-in rounds — groupBy(pid % g) +
      applyInPandas merging each group to one row — until <= fanin rows
      remain, then a driver-side fold. This is the treeAggregate
      pattern expressed on DataFrames so intermediate rounds are
      inspectable and durable.

``Build`` is the one build engine over any stage-1 partials DataFrame
(``build_sketch`` here, ``fused.TokenSketchBuilder`` for raw text):
under a local[*] master the tasks publish their states into a
side-channel directory that ``DirFold`` merges while the map stage
runs; otherwise ``run()`` takes the ``tree_merge`` path above. Both
paths return the same (sketch, metrics) pair with the same metrics
record.

All sketches here merge associatively (linear tables / lattice maxes /
bound-preserving summaries), so the merge-tree shape never changes the
answer beyond each sketch's documented invariance class — verified by
tests/test_merge_invariance.py.

Scale notes (100 TB / 1000 executors):
- one state row per input partition (~800k partitions at 128 MB splits)
  → stage-2 round 1 reduces 800k rows to 50k groups, round 2 to ~3k,
  round 3 to fanin; shuffle volume per round = states only, never data
- the input-side explode/groupBy stays in whole-stage codegen; the only
  Python is the Arrow-batched sketch kernel
- hot-key skew is irrelevant to sketch state size (fixed) and the
  partial stage is map-side only — no shuffle of raw updates at all
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..core.base import Sketch, pack_state, unpack_state

PARTIAL_SCHEMA = StructType(
    [
        StructField("part_id", LongType()),
        StructField("state", BinaryType()),
        StructField("n_rows", LongType()),
        StructField("n_updates", LongType()),
        StructField("wall_ms", DoubleType()),
        StructField("state_bytes", LongType()),
        StructField("files", StringType()),
    ]
)


def publish_state_file(side_dir: str, state: bytes, ctx) -> None:
    """Task-side half of the side-channel streaming merge: atomically
    rename the serialized state into the shared directory so the
    driver's DirFold can fold it while sibling tasks are still running.
    Tasks publish the raw ``to_bytes()`` blob: the file never crosses
    the driver collect, so zlib-packing it (~31 ms of task CPU per
    ~2.3 MB state, then a driver-side decompress) buys nothing;
    ``unpack_state`` reads raw and packed files alike. Attempt number
    in the name keeps retries/speculation collision-free (the state is
    deterministic per partition; DirFold folds the first)."""
    pid = ctx.partitionId() if ctx else 0
    att = ctx.attemptNumber() if ctx else 0
    tmp = os.path.join(side_dir, f".tmp_p{pid}_a{att}.bin")
    with open(tmp, "wb") as f:
        f.write(state)
    os.rename(tmp, os.path.join(side_dir, f"state_p{pid}_a{att}.bin"))


def resolve_side_channel(df: DataFrame, side_channel: bool | None) -> bool:
    """None -> True under a local[*] master (executors share the
    driver's filesystem); on a cluster the side channel needs a shared
    directory, so it stays opt-in there. An explicit ``side_channel=``
    argument wins."""
    if side_channel is not None:
        return side_channel
    return df.sparkSession.conf.get("spark.master", "").startswith("local")


def _partial_fn(template_bytes: bytes, id_col: str, weight_col: str | None, side_dir: str | None = None):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from ..core import memtune  # noqa: F401  (mallopt inside the worker)
        from ..core.base import pack_state_bytes, unpack_state

        sk = unpack_state(template_bytes)
        t0 = time.perf_counter()
        n_rows = n_upd = 0
        files: set[str] = set()
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            w = pdf[weight_col].to_numpy() if weight_col else None
            if "__file" in pdf.columns and len(pdf):
                files.update(pdf["__file"].unique().tolist())
            sk.update_batch(ids, w)
            n_rows += len(pdf)
            n_upd += len(ids) if w is None else int(abs(w).sum())
        raw = sk.to_bytes()
        ctx = TaskContext.get()
        if side_dir is None:
            state = pack_state_bytes(raw)  # collected: ship packed; account raw (SPACE)
        else:
            publish_state_file(side_dir, raw, ctx)
            state = b""
        yield pd.DataFrame(
            {
                "part_id": [ctx.partitionId() if ctx else -1],
                "state": [state],
                "n_rows": [n_rows],
                "n_updates": [n_upd],
                "wall_ms": [(time.perf_counter() - t0) * 1000.0],
                "state_bytes": [len(raw)],
                "files": [",".join(sorted(files))],
            }
        )

    return fn


def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
    from ..core import memtune  # noqa: F401
    from ..core.base import pack_state_bytes, unpack_state

    t0 = time.perf_counter()
    acc = unpack_state(pdf["state"].iloc[0])
    for blob in pdf["state"].iloc[1:]:
        acc = acc.merge(unpack_state(blob))
    raw = acc.to_bytes()
    state = pack_state_bytes(raw)
    files = ",".join(sorted({f for f in pdf["files"] if f}))[:65536]
    return pd.DataFrame(
        {
            "part_id": [int(pdf["part_id"].min())],
            "state": [state],
            "n_rows": [int(pdf["n_rows"].sum())],
            "n_updates": [int(pdf["n_updates"].sum())],
            "wall_ms": [float(pdf["wall_ms"].sum()) + (time.perf_counter() - t0) * 1000.0],
            "state_bytes": [len(raw)],
            "files": [files],
        }
    )


def partial_states(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
    with_lineage: bool = True,
    side_dir: str | None = None,
) -> DataFrame:
    """Stage 1: one serialized sketch-state row per input partition."""
    cols = [id_col] + ([weight_col] if weight_col else [])
    sel = df.select(*cols, F.input_file_name().alias("__file")) if with_lineage else df.select(*cols)
    return sel.mapInPandas(
        _partial_fn(pack_state(template), id_col, weight_col, side_dir=side_dir), PARTIAL_SCHEMA
    )


WINDOWED_PARTIAL_SCHEMA = StructType(
    [*PARTIAL_SCHEMA.fields, StructField("window_start", TimestampType())]
)


def _windowed_partial_fn(template_bytes: bytes, id_col: str, weight_col: str | None):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from ..core import memtune  # noqa: F401
        from ..core.base import pack_state_bytes, unpack_state

        t0 = time.perf_counter()
        sketches: dict = {}  # window_start -> [sketch, n_rows, n_updates]
        for pdf in batches:
            for w, sub in pdf.groupby("window_start", sort=False):
                ent = sketches.get(w)
                if ent is None:
                    ent = sketches[w] = [unpack_state(template_bytes), 0, 0]
                ids = sub[id_col].to_numpy()
                wts = sub[weight_col].to_numpy() if weight_col else None
                ent[0].update_batch(ids, wts)
                ent[1] += len(sub)
                ent[2] += len(ids) if wts is None else int(abs(wts).sum())
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        wall = (time.perf_counter() - t0) * 1000.0
        rows = []
        for w, (sk, n_rows, n_upd) in sketches.items():
            raw = sk.to_bytes()
            state = pack_state_bytes(raw)
            rows.append(
                {
                    "part_id": pid,
                    "state": state,
                    "n_rows": n_rows,
                    "n_updates": n_upd,
                    "wall_ms": wall / max(1, len(sketches)),
                    "state_bytes": len(raw),
                    "files": "",
                    "window_start": w,
                }
            )
        if rows:
            yield pd.DataFrame(rows)

    return fn


def windowed_partial_states(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
) -> DataFrame:
    """One serialized sketch-state row per (window_start, input
    partition), in a SINGLE map-side pass: the kernel folds each Arrow
    batch into a per-window sketch dict (windows per partition are
    bounded — hours/days — so state stays small). No shuffle, no
    per-window rescan of the input."""
    cols = ["window_start", id_col] + ([weight_col] if weight_col else [])
    return df.select(*cols).mapInPandas(
        _windowed_partial_fn(pack_state(template), id_col, weight_col),
        WINDOWED_PARTIAL_SCHEMA,
    )


def tree_merge(partials: DataFrame, fanin: int = 16, n_hint: int | None = None) -> tuple[Sketch, dict]:
    """Stage 2: fan-in rounds until <= fanin rows, then driver fold.

    Returns (merged sketch, aggregate metrics)."""
    cur = partials
    n = n_hint if n_hint is not None else cur.rdd.getNumPartitions()
    while n > fanin:
        groups = max(1, (n + fanin - 1) // fanin)
        cur = (
            cur.withColumn("g", F.col("part_id") % groups)
            .groupBy("g")
            .applyInPandas(lambda pdf: _merge_group(pdf.drop(columns=["g"])), PARTIAL_SCHEMA)
        )
        n = groups
    rows = cur.collect()
    if not rows:
        raise ValueError("no partial states (empty input?)")
    return _driver_fold([r["state"] for r in rows]), _metrics(rows)


def _metrics(rows: list) -> dict:
    """The build metrics record, summed over the collected partial rows."""
    return {
        "n_rows": sum(r["n_rows"] for r in rows),
        "n_updates": sum(r["n_updates"] for r in rows),
        "wall_ms": sum(r["wall_ms"] for r in rows),
        "n_partials": len(rows),
    }


class DirFold:
    """Incremental driver-side fold over a side-channel directory.

    Partial-build tasks (``fused._fused_fn(side_dir=...)``) atomically
    rename their raw state into ``dir_path`` the moment their kernel
    finishes; this watcher unpacks and left-folds each state WHILE the
    remaining tasks are still running, so by job end the merge is
    already done — the driver fold and the state transfer disappear
    from the job's serial (Amdahl) tail. On a cluster the directory is
    any shared filesystem (the same requirement as
    ``build_sketch_checkpointed``'s durable partials); in local mode it
    is a local tmp dir.

    Deduplication: a file is ``state_p{partition}_a{attempt}.bin``; the
    kernel is deterministic per partition, so retried/speculative
    attempts write byte-identical states and only the first file per
    partition is folded.

    Fold order is STRICT PARTITION-ID order (round 6; ADVICE r05 #1):
    arrival-order folding made order-sensitive sketch states
    (MisraGries, KLL, TDigest, conservative CountMin) thread-timing
    dependent run to run. Out-of-order arrivals buffer as raw bytes
    and the contiguous prefix folds as it completes, so the merge still
    overlaps the map stage (partitions complete roughly in waves and
    partition 0 is in the first wave); the result is the deterministic
    sequential left fold p0..pN for EVERY sketch class."""

    POLL_S = 0.004

    def __init__(self, dir_path: str) -> None:
        import threading

        self.dir = dir_path
        self.acc: Sketch | None = None
        self.done_parts: set[int] = set()
        self._pending: dict[int, bytes] = {}  # arrived out of order
        self._next_part = 0
        self._stop = threading.Event()
        self._err: BaseException | None = None
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _scan_once(self) -> None:
        for name in sorted(os.listdir(self.dir)):
            if not (name.startswith("state_p") and name.endswith(".bin")):
                continue
            part = int(name[7:].split("_")[0])
            if part in self.done_parts or part in self._pending:
                continue
            with open(os.path.join(self.dir, name), "rb") as f:
                self._pending[part] = f.read()
        # fold exactly the contiguous partition-id prefix that has
        # arrived — deterministic sequential left fold p0, p1, ...
        while self._next_part in self._pending:
            sk = unpack_state(self._pending.pop(self._next_part))
            self.acc = sk if self.acc is None else self.acc.merge(sk)
            self.done_parts.add(self._next_part)
            self._next_part += 1

    def _run(self) -> None:
        try:
            while not self._stop.is_set():
                self._scan_once()
                self._stop.wait(self.POLL_S)
            self._scan_once()  # final drain after the job completed
        except BaseException as e:  # surfaced in finish()
            self._err = e

    def finish(self, expected_parts: set[int]) -> Sketch:
        """Join the watcher and return the fold; raises if any expected
        partition's state never arrived (a task yielded its metrics row
        without its rename landing — should be impossible)."""
        self._stop.set()
        self._thread.join()
        if self._err is not None:
            raise self._err
        missing = expected_parts - self.done_parts
        if missing:
            raise RuntimeError(f"side-channel states missing for partitions {sorted(missing)}")
        if self.acc is None:
            raise ValueError("no partial states (empty input?)")
        return self.acc


def _driver_fold(blobs: list) -> Sketch:
    """Driver-side fold of <= fanin collected states as a THREADED
    pairwise tree: zlib unpack and the numpy merge kernels both release
    the GIL, so the fold overlaps across cores instead of running as
    ~200 ms of serial per-job time (a pure Amdahl term in the N-vs-4N
    scaling ratio). The tree shape is deterministic (adjacent pairs in
    collect order), staying inside the documented merge-order
    invariance classes like the distributed rounds above."""
    from concurrent.futures import ThreadPoolExecutor

    if len(blobs) == 1:
        return unpack_state(blobs[0])
    with ThreadPoolExecutor(max_workers=min(8, len(blobs))) as ex:
        sks = list(ex.map(unpack_state, blobs))
        while len(sks) > 1:
            pairs = [(sks[i], sks[i + 1]) for i in range(0, len(sks) - 1, 2)]
            rest = [sks[-1]] if len(sks) % 2 else []
            sks = list(ex.map(lambda p: p[0].merge(p[1]), pairs)) + rest
    return sks[0]


class Build:
    """Prepared sketch build: analyze the partials plan ONCE, run it
    many times (the micro-batch / scheduled-rebuild production shape).

    ``make_partials(side_dir)`` returns the stage-1 partials DataFrame
    (``PARTIAL_SCHEMA`` rows); its tasks publish their raw states into
    ``side_dir`` when it is not None. ``side_channel`` resolves
    once (``resolve_side_channel``): when on, ``run()`` empties the
    directory and folds the published states with ``DirFold`` while
    the map stage runs, so the collect+fold serial tail disappears;
    when off, ``run()`` calls ``tree_merge`` (``n_hint`` defaults to the
    input's partition count, looked up only on that path). Each run
    unpacks a fresh sketch from the template bytes in every task, so
    runs are independent and both paths give byte-identical sketches.
    ``close()`` (or leaving the ``with`` block) removes the directory."""

    def __init__(
        self,
        df: DataFrame,
        make_partials: Callable[[str | None], DataFrame],
        side_channel: bool | None = None,
        fanin: int = 16,
        n_hint: int | None = None,
    ) -> None:
        self._df = df
        self._fanin = fanin
        self._n_hint = n_hint
        self._side_dir = (
            tempfile.mkdtemp(prefix="sketch_sidech_") if resolve_side_channel(df, side_channel) else None
        )
        try:
            self._partials = make_partials(self._side_dir)
        except Exception:
            self.close()
            raise

    def run(self) -> tuple[Sketch, dict]:
        if self._side_dir is None:
            if self._n_hint is None:
                self._n_hint = self._df.rdd.getNumPartitions()
            return tree_merge(self._partials, fanin=self._fanin, n_hint=self._n_hint)
        for name in os.listdir(self._side_dir):
            os.unlink(os.path.join(self._side_dir, name))
        fold = DirFold(self._side_dir)
        rows = self._partials.collect()
        return fold.finish({r["part_id"] for r in rows}), _metrics(rows)

    def close(self) -> None:
        if self._side_dir is not None:
            shutil.rmtree(self._side_dir, ignore_errors=True)

    def __enter__(self) -> "Build":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def build_sketch(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
    fanin: int = 16,
    side_channel: bool | None = None,
) -> tuple[Sketch, dict]:
    """End-to-end: partial build + merge through ``Build``. ``df`` must
    already carry the uint32 id column (see spark.keys.key_id_col).

    ``side_channel=None`` resolves to True under local[*] masters
    (DirFold streaming merge; byte-identical to the tree merge)."""

    def make_partials(side_dir: str | None) -> DataFrame:
        return partial_states(df, template, id_col, weight_col, with_lineage=False, side_dir=side_dir)

    with Build(df, make_partials, side_channel=side_channel, fanin=fanin) as b:
        return b.run()


# ----------------------------------------------------------------------
# Checkpointed, file-granular build with per-partition lineage + resume.
# ----------------------------------------------------------------------


def build_sketch_checkpointed(
    spark: SparkSession,
    input_paths: list[str],
    template: Sketch,
    prepare: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str,
    id_col: str = "id",
    weight_col: str | None = None,
    fanin: int = 16,
) -> tuple[Sketch, dict]:
    """Resumable build: lineage is the input FILE set. Completed files'
    partial states are durable parquet under ``checkpoint_dir``; a rerun
    processes only files with no state rows yet (kill-and-rerun test:
    tests/test_spark_agg.py). ``prepare`` maps the raw file DataFrame to
    one with (id[, weight]) columns — e.g. tokenize + hash."""
    part_dir = os.path.join(checkpoint_dir, "partials")
    done: set[str] = set()
    have_states = False
    try:
        existing = spark.read.parquet(part_dir)
        have_states = True
        for r in existing.select("files").collect():
            done.update(f for f in r["files"].split(",") if f)
    except Exception:
        pass  # first run: no checkpoint yet

    def norm(p: str) -> str:
        return "file://" + os.path.abspath(p.removeprefix("file://"))

    missing = [p for p in input_paths if norm(p) not in done]
    if missing:
        raw = spark.read.parquet(*missing)
        prepared = prepare(raw)
        partials = partial_states(prepared, template, id_col, weight_col, with_lineage=True)
        partials.write.mode("append").parquet(part_dir)
    all_partials = spark.read.parquet(part_dir)
    n = all_partials.count()
    sketch, metrics = tree_merge(all_partials, fanin=fanin, n_hint=n)
    metrics["resumed_files_skipped"] = len(input_paths) - len(missing)
    metrics["files_processed_this_run"] = len(missing)
    return sketch, metrics
