"""Distributed aggregation: partial+tree-merge equals single-machine
bulk build byte-for-byte; partition-count invariance (8 vs 32);
treeAggregate cross-check; checkpoint/resume; lineage + metrics."""

import glob
import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from heavy_hitters_spark.core import CountMin, HLL, SeedStream, Sketch
from heavy_hitters_spark.spark import (
    build_sketch,
    build_sketch_checkpointed,
    key_id,
    key_id_col,
    partial_states,
    tokens,
    tree_merge,
)


@pytest.fixture(scope="module")
def ids_df(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return tokens(docs).withColumn("id", key_id_col("token"))


def _bulk_cm(ids_df):
    data = np.array([r["id"] for r in ids_df.select("id").collect()], dtype=np.uint64)
    cm = CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2))
    cm.update_batch(data)
    return cm


def _tmpl():
    return CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2))


def build_sketch_treeaggregate(df, template: Sketch, id_col="id", weight_col=None, depth=2) -> Sketch:
    """RDD.treeAggregate over serialized states — the canonical merge
    shape our DataFrame tree_merge must agree with (slow row-at-a-time
    Python path; the reference the fast path is checked against)."""
    tb = template.to_bytes()
    cols = [id_col] + ([weight_col] if weight_col else [])

    def seq(state_bytes: bytes, rows: list) -> bytes:
        sk = Sketch.from_bytes(state_bytes)
        ids = np.array([r[0] for r in rows], dtype=np.uint64)
        w = np.array([r[1] for r in rows], dtype=np.int64) if weight_col else None
        if len(ids):
            sk.update_batch(ids, w)
        return sk.to_bytes()

    def comb(a: bytes, b: bytes) -> bytes:
        return Sketch.from_bytes(a).merge(Sketch.from_bytes(b)).to_bytes()

    rdd = df.select(*cols).rdd.glom().map(lambda rows: seq(tb, rows))
    return Sketch.from_bytes(rdd.treeAggregate(tb, comb, comb, depth=depth))


def test_distributed_equals_bulk(spark, ids_df):
    bulk = _bulk_cm(ids_df)
    for n_parts in (8, 32):
        sk, metrics = build_sketch(ids_df.repartition(n_parts), _tmpl(), id_col="id")
        assert np.array_equal(sk.table, bulk.table), n_parts
        assert sk.norm == bulk.norm
        assert metrics["n_rows"] == bulk.norm


def test_tree_merge_multiple_rounds(spark, ids_df):
    """fanin=2 over 32 partitions forces several merge rounds."""
    bulk = _bulk_cm(ids_df)
    partials = partial_states(ids_df.repartition(32), _tmpl(), id_col="id")
    sk, metrics = tree_merge(partials, fanin=2, n_hint=32)
    assert np.array_equal(sk.table, bulk.table)
    assert metrics["n_partials"] <= 2


def test_treeaggregate_crosscheck(spark, ids_df):
    bulk = _bulk_cm(ids_df)
    small = ids_df.limit(2000).repartition(4)
    ta = build_sketch_treeaggregate(small, _tmpl(), id_col="id")
    df_sk, _ = build_sketch(small, _tmpl(), id_col="id")
    assert np.array_equal(ta.table, df_sk.table)
    assert ta.norm == df_sk.norm


def test_weighted_build(spark):
    pdf = [(int(i), int(i % 7 + 1)) for i in range(1000)]
    df = spark.createDataFrame(pdf, "id long, w long").repartition(8)
    sk, _ = build_sketch(df, _tmpl(), id_col="id", weight_col="w")
    expect = np.array([i % 7 + 1 for i in range(1000)], dtype=np.int64)
    assert np.array_equal(sk.point(np.arange(1000)), expect)


def test_lineage_and_metrics(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = tokens(docs).withColumn("id", key_id_col("token"))
    partials = partial_states(ids, _tmpl(), id_col="id", with_lineage=True)
    rows = partials.collect()
    assert all(r["n_rows"] >= 0 and r["wall_ms"] >= 0 and r["state_bytes"] > 0 for r in rows)
    assert any("documents.parquet" in (r["files"] or "") for r in rows)
    assert len({r["part_id"] for r in rows}) == len(rows)


def test_checkpoint_resume(spark, tmp_path):
    """Kill-after-k-partitions simulation: first run over a file subset,
    second run over the full set must skip completed files and produce
    the same sketch as a fresh full build (north_rule resumability)."""
    src = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))
    files = ["/root/testdata/sf0.001/documents.parquet"]
    assert files[0] in src
    ck = str(tmp_path / "ck")

    def prepare(df):
        return tokens(df).withColumn("id", key_id_col("token"))

    # full fresh build (no checkpoint)
    docs = spark.read.parquet(files[0])
    fresh, _ = build_sketch(prepare(docs), _tmpl(), id_col="id")

    # run 1: pretend we only got through half the file list -> here the
    # unit is files, so simulate with an empty done-state then resume
    sk1, m1 = build_sketch_checkpointed(
        spark, files, _tmpl(), prepare, checkpoint_dir=ck, id_col="id"
    )
    assert m1["files_processed_this_run"] == 1
    # run 2: resume — nothing left to process, same result
    sk2, m2 = build_sketch_checkpointed(
        spark, files, _tmpl(), prepare, checkpoint_dir=ck, id_col="id"
    )
    assert m2["files_processed_this_run"] == 0
    assert m2["resumed_files_skipped"] == 1
    assert np.array_equal(sk1.table, fresh.table)
    assert np.array_equal(sk2.table, fresh.table)


def test_hll_distributed_merge(spark, ids_df):
    sk8, _ = build_sketch(ids_df.repartition(8), HLL(p=12), id_col="id")
    sk32, _ = build_sketch(ids_df.repartition(32), HLL(p=12), id_col="id")
    assert sk8.to_bytes() == sk32.to_bytes()
    exact = ids_df.select("id").distinct().count()
    assert abs(sk8.estimate() - exact) / max(exact, 1) < 0.1


def test_driver_side_key_parity(spark):
    import pyarrow as pa

    from heavy_hitters_spark.spark.keys import MASK32, xxh64_array

    toks = ["alpha", "beta", "tok123", "", "é日本", "x" * 33, "y" * 64 + "z"]
    df = spark.createDataFrame([(t,) for t in toks], "token string")
    rows = df.withColumn("id", key_id_col("token")).collect()
    for r in rows:
        assert key_id(r["token"]) == r["id"]
    got = xxh64_array(pa.array([r["token"] for r in rows])) & MASK32
    assert got.tolist() == [r["id"] for r in rows]


def test_xxh64_array_matches_scalar():
    """The vectorized hash equals ``xxh64`` slot by slot: lengths 0-80
    (crossing the 4-, 8- and 32-byte steps), multi-byte UTF-8, a sliced
    array (non-zero offset), large_string and binary."""
    import pyarrow as pa

    from heavy_hitters_spark.spark.keys import xxh64, xxh64_array

    rng = np.random.default_rng(3)
    strs = ["".join(chr(97 + int(c)) for c in rng.integers(0, 26, n)) for n in range(81)]
    strs += ["", "é", "日本語のテキスト", "ü" * 20, "ü" * 33]
    want = np.array([xxh64(s.encode()) for s in strs], dtype=np.uint64)
    for typ in (pa.string(), pa.large_string()):
        arr = pa.array(strs, type=typ)
        assert np.array_equal(xxh64_array(arr), want)
        assert np.array_equal(xxh64_array(arr.slice(9, 60)), want[9:69])
    blobs = pa.array([s.encode() for s in strs], type=pa.binary())
    assert np.array_equal(xxh64_array(blobs), want)
    assert xxh64_array(pa.array([], pa.string())).dtype == np.uint64


def _side_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "sketch_sidech_*")))


def test_side_channel_default_and_explicit_off(spark, ids_df):
    """The side channel defaults on under a local master; an explicit
    ``side_channel=False`` is respected."""
    from heavy_hitters_spark.spark.aggregate import resolve_side_channel

    assert resolve_side_channel(ids_df, None) is True  # local master
    assert resolve_side_channel(ids_df, False) is False


@pytest.mark.parametrize("side_channel", [True, False])
@pytest.mark.parametrize("fused", [False, True], ids=["build_sketch", "build_token_sketch"])
def test_empty_input_raises_and_cleans_up(spark, fused, side_channel):
    """A zero-partition input fails loudly on both merge paths of both
    build entry points, and leaves no side-channel directory behind."""
    from heavy_hitters_spark.spark.fused import build_token_sketch

    before = _side_dirs()
    schema = "text string" if fused else "id long"
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    assert empty.rdd.getNumPartitions() == 0
    with pytest.raises(ValueError, match="no partial states"):
        if fused:
            build_token_sketch(empty, _tmpl(), text_col="text", side_channel=side_channel)
        else:
            build_sketch(empty, _tmpl(), id_col="id", side_channel=side_channel)
    assert _side_dirs() <= before


def test_bad_plan_cleans_up_side_dir(spark):
    """A partials plan that fails analysis (missing id column) raises
    and leaves no side-channel directory behind."""
    from pyspark.errors import AnalysisException

    before = _side_dirs()
    df = spark.createDataFrame([(1,)], "other long")
    with pytest.raises(AnalysisException):
        build_sketch(df, _tmpl(), id_col="id", side_channel=True)
    assert _side_dirs() <= before
