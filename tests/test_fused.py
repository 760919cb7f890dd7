"""Fused tokenize->hash->sketch path must be byte-identical to the
exploded Catalyst path (same xxhash64 ids, same seeds)."""

import numpy as np

from heavy_hitters_spark.core import CountMin, HLL, MultiSketch, SeedStream
from heavy_hitters_spark.spark import build_sketch, key_id_col, tokens
from heavy_hitters_spark.spark.fused import build_token_sketch


def _tmpl():
    return MultiSketch(
        {
            "cm": CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2)),
            "hll": HLL(p=12),
        }
    )


def test_fused_equals_explode(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fused, m1 = build_token_sketch(docs, _tmpl(), text_col="text")
    ids = tokens(docs).withColumn("id", key_id_col("token"))
    exploded, m2 = build_sketch(ids, _tmpl(), id_col="id")
    assert fused.to_bytes() == exploded.to_bytes()
    assert m1["n_updates"] == m2["n_updates"]


def test_fused_partition_invariance(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a, _ = build_token_sketch(docs.repartition(3), _tmpl(), text_col="text")
    b, _ = build_token_sketch(docs.repartition(11), _tmpl(), text_col="text")
    assert a.to_bytes() == b.to_bytes()


def test_blob_input_build_matches_text_build(spark):
    """pack_arrow_blobs + blob_col build must produce the IDENTICAL
    merged sketch as the plain text-column build (linear sketches are
    bit-equal; doc/update counts equal) — the blob layer only changes
    the wire representation of the input, never the stream."""
    import numpy as np

    from heavy_hitters_spark.core import CountMin, HLL, MultiSketch, SeedStream
    from heavy_hitters_spark.spark.fused import build_token_sketch, pack_arrow_blobs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text").repartition(4)

    def tmpl():
        return MultiSketch({
            "cm": CountMin(width=1 << 12, depth=3, seed_stream=SeedStream(1, 2)),
            "hll": HLL(p=12),
        })

    sk_t, m_t = build_token_sketch(docs, tmpl(), text_col="text", n_hint=4)
    blobs = pack_arrow_blobs(docs, ["text"])
    assert blobs.rdd.getNumPartitions() == 4  # partition-preserving
    sk_b, m_b = build_token_sketch(blobs, tmpl(), text_col="text", n_hint=4, blob_col="blob")
    assert m_t["n_rows"] == m_b["n_rows"]
    assert m_t["n_updates"] == m_b["n_updates"]
    assert np.array_equal(sk_t["cm"].table, sk_b["cm"].table)
    assert float(sk_t["hll"].estimate()) == float(sk_b["hll"].estimate())


def test_side_channel_build_matches_collect_build(spark):
    """side_channel=True (DirFold streaming merge: tasks publish states
    via atomic rename, driver folds during the job) must produce the
    byte-identical sketch and identical metrics as the collect path —
    the side channel only changes WHERE the states travel and WHEN the
    fold runs, never the folded values."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(5)
    a, ma = build_token_sketch(docs, _tmpl(), text_col="text")
    b, mb = build_token_sketch(docs, _tmpl(), text_col="text", side_channel=True)
    assert a.to_bytes() == b.to_bytes()
    assert (ma["n_rows"], ma["n_updates"], ma["n_partials"]) == (
        mb["n_rows"], mb["n_updates"], mb["n_partials"])


def test_build_sketch_side_channel_matches_collect(spark):
    """The generic (non-fused) build_sketch must also produce the
    byte-identical sketch through the DirFold side channel."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = tokens(docs).withColumn("id", key_id_col("token")).repartition(5)
    a, ma = build_sketch(ids, _tmpl(), id_col="id", side_channel=False)
    b, mb = build_sketch(ids, _tmpl(), id_col="id", side_channel=True)
    assert a.to_bytes() == b.to_bytes()
    assert (ma["n_rows"], ma["n_updates"]) == (mb["n_rows"], mb["n_updates"])


def test_dirfold_missing_partition_raises(tmp_path):
    """DirFold.finish must fail loudly if an expected partition's state
    file never arrived, and dedupe retried attempts by partition id."""
    import pytest as _pytest

    from heavy_hitters_spark.core.base import pack_state
    from heavy_hitters_spark.spark.aggregate import DirFold

    cm = CountMin(width=1 << 8, depth=3, seed_stream=SeedStream(1, 2))
    cm.update_batch(np.arange(100, dtype=np.uint64))
    blob = pack_state(cm)
    (tmp_path / "state_p0_a0.bin").write_bytes(blob)
    (tmp_path / "state_p0_a1.bin").write_bytes(blob)  # retry: must not double-count
    fold = DirFold(str(tmp_path))
    sk = fold.finish({0})
    assert np.array_equal(sk.table, cm.table)  # folded once, not twice

    fold2 = DirFold(str(tmp_path))
    with _pytest.raises(RuntimeError, match="missing for partitions"):
        fold2.finish({0, 3})


def test_fused_preagg_routing_mixed_template(spark):
    """The map-side duplicate collapse must leave every sketch's
    SEMANTICS intact on a mixed template: linear sketches stay
    byte-identical to the exploded Catalyst path, and KLL — which folds
    the collapsed (id, count) pairs as the repeated stream — must still
    weigh the full duplicated token stream (its rank estimates match
    the true stream ranks, not the distinct-value ranks, which differ
    grossly on a Zipf-weighted vocabulary)."""
    from heavy_hitters_spark.core import KLL, MisraGries

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def tmpl():
        return MultiSketch({
            "cm": CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2)),
            "mg": MisraGries(k=256),
            "kll": KLL(k=200, seed=7),
        })

    fused, m1 = build_token_sketch(docs, tmpl(), text_col="text")
    ids_df = tokens(docs).withColumn("id", key_id_col("token"))
    exploded, m2 = build_sketch(ids_df, tmpl(), id_col="id")
    assert m1["n_updates"] == m2["n_updates"]
    # linear sketch: byte-identical regardless of routing
    assert np.array_equal(fused["cm"].table, exploded["cm"].table)

    ids = np.array([r.id for r in ids_df.select("id").collect()], dtype=np.uint64)
    exact = {}
    for i in ids:
        exact[int(i)] = exact.get(int(i), 0) + 1
    n = len(ids)

    # MG (bounds-level contract): undercount <= norm/(k+1)
    mg = fused["mg"]
    assert mg.norm == n
    top = sorted(exact.items(), key=lambda kv: -kv[1])[:20]
    est = mg.point(np.array([t for t, _ in top], dtype=np.uint64))
    for (tok, cnt), e in zip(top, est):
        assert e <= cnt
        assert cnt - e <= mg.norm // (mg.k + 1) + 1

    # KLL: must have weighed the full duplicated stream — its internal
    # weight n equals the stream length, not the distinct count (a
    # feed that ignored counts would record ~n_distinct) — and its
    # stream-rank estimates stay inside the error bound.
    kll = fused["kll"]
    assert kll.n == n
    assert kll.n > 3 * len(exact)  # collapse would have been visible
    sids = np.sort(ids)
    for q in (0.25, 0.5, 0.75):
        est_q = float(np.asarray(kll.quantile(q)).ravel()[0])
        true_rank = np.searchsorted(sids, est_q, side="right") / n
        assert abs(true_rank - q) < 0.05, (q, true_rank)


def test_raw_path_empty_filter_is_slot_based(monkeypatch):
    """A real token whose xxh64&MASK32 collides with h("") must SURVIVE
    the kernel's empty-token filter: empty tokens are dropped by their
    vocabulary slot, not by hashed value (the round-5 raw path filtered
    the hashed id array by value and silently dropped such a token).
    Forced by monkeypatching the vectorized hash so 'collider' ==
    h(''), and calling the fused kernel in-process (no Spark needed)."""
    from heavy_hitters_spark.core import KLL
    from heavy_hitters_spark.core.base import pack_state, unpack_state
    from heavy_hitters_spark.spark import keys as keys_mod
    from heavy_hitters_spark.spark.fused import _fused_fn

    real = keys_mod.xxh64_array
    h_empty = keys_mod.xxh64(b"")

    def colliding(arr):
        h = real(arr)
        h[np.array(arr.to_pylist()) == "collider"] = h_empty
        return h

    monkeypatch.setattr(keys_mod, "xxh64_array", colliding)

    import pyarrow as pa

    # split on ' ': ['collider', '', 'collider', 'x'] -> 3 real tokens
    batch = pa.RecordBatch.from_pydict({"text": ["collider  collider x"]})
    fn = _fused_fn(pack_state(KLL(k=200, seed=7)), "text")
    (out,) = list(fn(iter([batch])))
    assert out.column("n_updates")[0].as_py() == 3  # r5 code recorded 1
    kll = unpack_state(out.column("state")[0].as_py())
    assert kll.n == 3


def _reference_kernel(template, batches, text_col="text"):
    """Loop reference for ``_fused_fn``: str.split(" "), drop "", hash
    each token with key_id, one raw ``update_batch(ids)`` per batch."""
    from heavy_hitters_spark.spark.keys import key_id

    n_upd = 0
    for b in batches:
        toks = [t for text in b.column(text_col).to_pylist() if text is not None
                for t in text.split(" ") if t != ""]
        ids = np.array([key_id(t) for t in toks], dtype=np.uint64)
        template.update_batch(ids)
        n_upd += len(ids)
    return template.to_bytes(), n_upd


def test_kernel_matches_loop_reference():
    """The fused kernel's state bytes and update count equal the
    per-token loop reference's for the benchmark's 6-sketch template,
    a bare KLL and a bare CountMin; over repeated spaces, an empty
    batch, several batches and a large_string text column."""
    import pyarrow as pa

    import bench
    from heavy_hitters_spark.core import KLL
    from heavy_hitters_spark.core.base import pack_state, unpack_state
    from heavy_hitters_spark.spark.fused import _fused_fn

    rng = np.random.default_rng(5)
    vocab = np.array([f"w{i}" for i in range(300)] + ["é", "日本", "x" * 40])
    texts = [" ".join(vocab[(rng.zipf(1.3, int(rng.integers(1, 60))) - 1) % len(vocab)])
             for _ in range(400)]
    texts[:4] = ["  a   b  ", " ", "", "a b"]  # repeated / leading / trailing spaces
    tab = pa.table({"text": texts})
    cases = {
        "batches": tab.to_batches(max_chunksize=64),
        "empty": [pa.RecordBatch.from_pydict({"text": pa.array([], pa.string())})] + tab.to_batches(),
        "large": tab.cast(pa.schema([("text", pa.large_string())])).to_batches(max_chunksize=100),
    }
    templates = {
        "bench": bench._tmpl,
        "kll": lambda: KLL(k=50, seed=3),
        "cm": lambda: CountMin(width=1 << 10, depth=4, seed_stream=SeedStream(1, 2)),
    }
    for tname, make in templates.items():
        for cname, batches in cases.items():
            (out,) = list(_fused_fn(pack_state(make()), "text")(iter(batches)))
            got = unpack_state(out.column("state")[0].as_py()).to_bytes()
            want, n_upd = _reference_kernel(make(), batches)
            assert got == want, (tname, cname)
            assert out.column("n_updates")[0].as_py() == n_upd, (tname, cname)


def test_prepared_builder_matches_one_shot(spark):
    """TokenSketchBuilder (plan analyzed once, re-collected per run)
    must produce the byte-identical sketch and metrics as the one-shot
    build_token_sketch, and successive runs must be independent (equal
    bytes run-to-run — each task unpacks a fresh template)."""
    from heavy_hitters_spark.spark.fused import TokenSketchBuilder

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(5)
    one, m1 = build_token_sketch(docs, _tmpl(), text_col="text")
    with TokenSketchBuilder(docs, _tmpl(), text_col="text") as b:
        r1, mr1 = b.run()
        r2, mr2 = b.run()
    assert r1.to_bytes() == one.to_bytes()
    assert r2.to_bytes() == one.to_bytes()
    assert (mr1["n_rows"], mr1["n_updates"]) == (m1["n_rows"], m1["n_updates"])
    assert (mr2["n_rows"], mr2["n_updates"]) == (m1["n_rows"], m1["n_updates"])


def test_prepared_builder_collect_path(spark):
    """side_channel=False builder goes through tree_merge and must
    agree byte-for-byte too."""
    from heavy_hitters_spark.spark.fused import TokenSketchBuilder

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(3)
    one, _ = build_token_sketch(docs, _tmpl(), text_col="text", side_channel=False)
    with TokenSketchBuilder(docs, _tmpl(), text_col="text", side_channel=False) as b:
        r1, _m = b.run()
    assert r1.to_bytes() == one.to_bytes()


def test_mmap_input_build_matches_text_build(spark, tmp_path):
    """materialize_arrow_files + path_col build must produce the
    IDENTICAL merged sketch as the plain text-column build — the
    side-file layer only changes where tasks READ the input from
    (memory-mapped Arrow IPC files instead of JVM->Python serving),
    never the stream. One file per non-empty partition, in partition
    order; empty partitions produce no file."""
    import numpy as np

    from heavy_hitters_spark.core import CountMin, HLL, MultiSketch, SeedStream
    from heavy_hitters_spark.spark.fused import (
        build_token_sketch,
        materialize_arrow_files,
        paths_df,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("text")
        .repartition(4)
    )

    def tmpl():
        return MultiSketch({
            "cm": CountMin(width=1 << 12, depth=3, seed_stream=SeedStream(1, 2)),
            "hll": HLL(p=12),
        })

    sk_t, m_t = build_token_sketch(docs, tmpl(), text_col="text", n_hint=4)
    paths = materialize_arrow_files(docs, str(tmp_path), ["text"])
    assert len(paths) == 4 and paths == sorted(paths)  # partition order
    pdf = paths_df(spark, paths)
    assert pdf.rdd.getNumPartitions() == 4  # one file per task
    sk_p, m_p = build_token_sketch(pdf, tmpl(), text_col="text", n_hint=4, path_col="path")
    assert m_t["n_rows"] == m_p["n_rows"]
    assert m_t["n_updates"] == m_p["n_updates"]
    assert np.array_equal(sk_t["cm"].table, sk_p["cm"].table)
    assert float(sk_t["hll"].estimate()) == float(sk_p["hll"].estimate())


def test_materialize_arrow_files_empty_partition(spark, tmp_path):
    """A partition with no rows yields no side file (no schema to
    write); the build over the remaining files still covers every row
    exactly once."""
    from heavy_hitters_spark.core import CountMin, SeedStream
    from heavy_hitters_spark.spark.fused import (
        build_token_sketch,
        materialize_arrow_files,
        paths_df,
    )

    docs = spark.createDataFrame([("a b c",), ("a d",)], "text string")
    # range-partition 2 rows into 8 partitions -> >= 6 empty ones
    docs8 = docs.repartition(8)
    paths = materialize_arrow_files(docs8, str(tmp_path), ["text"])
    assert 1 <= len(paths) <= 2
    sk, m = build_token_sketch(
        paths_df(spark, paths),
        CountMin(width=1 << 10, depth=3, seed_stream=SeedStream(1, 2)),
        text_col="text",
        path_col="path",
        n_hint=len(paths),
    )
    assert m["n_rows"] == 2
    assert m["n_updates"] == 5


def _split_reference(arr):
    """Per-token counts of ``split_pattern(arr, " ")`` with "" dropped."""
    import pyarrow.compute as pc

    vc = pc.value_counts(pc.list_flatten(pc.split_pattern(arr, " ")))
    return {t: c for t, c in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist())
            if t != ""}


def test_token_slots_match_split_pattern():
    """The split-free token-slot tokenizer gives split(" ")'s per-token
    counts on every layout the Arrow text buffer can have: repeated,
    leading and trailing spaces, "" and " " documents, nulls (also a
    null slot over non-empty bytes), an all-null array, multi-byte
    UTF-8, a sliced array and large_string."""
    import pyarrow as pa

    from heavy_hitters_spark.spark.fused import _token_counts

    spaces = ["  a   b  ", " a", "b ", "a  b", "a", "   "]
    data = b"x yz" + b"zz  nul " + b"nul ok ok"
    offsets = np.array([0, 4, 12, 21], dtype=np.int32)  # slot 1 ("zz  nul ") is null
    null_over_bytes = pa.Array.from_buffers(
        pa.string(), 3, [pa.py_buffer(np.packbits([1, 0, 1], bitorder="little")),
                         pa.py_buffer(offsets), pa.py_buffer(data)])
    assert null_over_bytes.to_pylist() == ["x yz", None, "nul ok ok"]
    wide = pa.array(["skip me", "c  d", " é 日本  ü ", "", "e", "f g", "tail x"])
    cases = {
        "spaces": pa.array(spaces),
        "empty_and_space": pa.array(["", " ", "", " "]),
        "nulls": pa.array(["a b", None, "", None, "b  c"]),
        "null_over_bytes": null_over_bytes,
        "all_null": pa.array([None, None, None], pa.string()),
        "utf8": pa.array(["é 日本  ü", "日本 é", "ü"]),
        "sliced": wide.slice(1, 5),
        "large": pa.array(spaces + [None, "é  日本 "], pa.large_string()),
        "sliced_large": pa.array(["x y", "a b  c", "d"], pa.large_string()).slice(1),
        "no_rows": pa.array([], pa.string()),
    }
    for name, arr in cases.items():
        vocab, counts = _token_counts(arr)
        assert "" not in vocab.to_pylist(), name
        got: dict = {}
        for t, c in zip(vocab.to_pylist(), counts.tolist()):
            got[t] = got.get(t, 0) + c
        assert got == _split_reference(arr), name
    assert _token_counts(cases["sliced"])[1].sum() == 8  # c d é 日本 ü e f g


def test_n_rows_counts_batches_without_tokens():
    """Every input row is counted, also in a batch that holds no token
    (all null): an all-null batch followed by a normal batch gives the
    same n_rows, n_updates and state as the two concatenated."""
    import pyarrow as pa

    from heavy_hitters_spark.core.base import pack_state
    from heavy_hitters_spark.spark.fused import _fused_fn

    nulls = pa.RecordBatch.from_pydict({"text": pa.array([None, None, None], pa.string())})
    normal = pa.RecordBatch.from_pydict({"text": pa.array(["a b", "b  c", ""])})
    joined = pa.Table.from_batches([nulls, normal]).combine_chunks().to_batches()
    assert len(joined) == 1
    tb = pack_state(CountMin(width=1 << 8, depth=3, seed_stream=SeedStream(1, 2)))
    (split_out,) = list(_fused_fn(tb, "text")(iter([nulls, normal])))
    (joined_out,) = list(_fused_fn(tb, "text")(iter(joined)))
    for col in ("n_rows", "n_updates", "state"):
        assert split_out.column(col)[0].as_py() == joined_out.column(col)[0].as_py(), col
    assert split_out.column("n_rows")[0].as_py() == 6
    assert split_out.column("n_updates")[0].as_py() == 4


def test_side_channel_states_are_raw(tmp_path):
    """Side-channel tasks publish the raw HHS1 blob (the file never
    crosses the collect, so it is not zlib-packed); collected rows stay
    packed HHZ1; DirFold folds a mix of raw and packed files to the
    same bytes as an all-packed directory."""
    import pandas as pd
    import pyarrow as pa

    from heavy_hitters_spark.core.base import pack_state, unpack_state
    from heavy_hitters_spark.spark.aggregate import DirFold, _partial_fn
    from heavy_hitters_spark.spark.fused import _fused_fn

    tb = pack_state(_tmpl())
    batch = pa.RecordBatch.from_pydict({"text": ["a b a", "c"]})
    ids = pd.DataFrame({"id": np.arange(50, dtype=np.int64)})
    runs = {
        "fused": lambda side: list(_fused_fn(tb, "text", side_dir=side)(iter([batch])))[0]
        .column("state")[0].as_py(),
        "partial": lambda side: next(_partial_fn(tb, "id", None, side_dir=side)(iter([ids])))
        ["state"][0],
    }
    for name, run in runs.items():
        side = tmp_path / name
        side.mkdir()
        assert run(str(side)) == b""
        (f,) = list(side.iterdir())
        assert f.name == "state_p0_a0.bin"
        assert f.read_bytes()[:4] == b"HHS1", name
        assert run(None)[:4] == b"HHZ1", name  # collected rows stay packed

    sks = []
    for p in range(4):
        sk = _tmpl()
        sk.update_batch(np.arange(p * 10, p * 10 + 25, dtype=np.uint64))
        sks.append(sk)
    packed, mixed = tmp_path / "packed", tmp_path / "mixed"
    packed.mkdir()
    mixed.mkdir()
    for p, sk in enumerate(sks):
        (packed / f"state_p{p}_a0.bin").write_bytes(pack_state(sk))
        (mixed / f"state_p{p}_a0.bin").write_bytes(sk.to_bytes() if p % 2 else pack_state(sk))
    want = DirFold(str(packed)).finish(set(range(4))).to_bytes()
    assert DirFold(str(mixed)).finish(set(range(4))).to_bytes() == want
    acc = unpack_state(pack_state(sks[0]))
    for sk in sks[1:]:
        acc = acc.merge(sk)
    assert want == acc.to_bytes()
