"""Corpus-prep layer: chunking boundaries, stratified-split invariants,
and the sequence-packing kernel's greedy semantics (budget boundary,
oversize document, determinism under repartitioning)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from x17a5_spark.operators.packing import pack_sequences
from x17a5_spark.queries.corpus import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    t6_chunk_documents,
    t7_stratified_split,
)

SF = "/root/testdata/sf0.001"


def _pack_rows(spark, rows, budget, parts=1):
    df = spark.createDataFrame(
        [Row(doc_id=i, source=s, n_tokens=n) for i, (s, n) in enumerate(rows)]
    )
    if parts > 1:
        df = df.repartition(parts)
    out = pack_sequences(df, budget).orderBy("group_key", "doc_id").collect()
    return [(r.group_key, r.n_tokens, r.bin_id, r.bin_fill) for r in out]


def test_pack_greedy_boundary_and_oversize(spark):
    rows = [
        ("a", 300),  # bin 0, fill 300
        ("a", 212),  # 300+212=512 == budget -> stays, fill 512
        ("a", 1),    # overflow -> bin 1, fill 1
        ("a", 600),  # oversize -> bin 2 alone, fill 600
        ("a", 10),   # fill 600 already over -> bin 3
        ("b", 700),  # first row oversize -> bin 0, fill 700
        ("b", 5),    # bin 1
    ]
    got = _pack_rows(spark, rows, budget=512)
    assert got == [
        ("a", 300, 0, 300),
        ("a", 212, 0, 512),
        ("a", 1, 1, 1),
        ("a", 600, 2, 600),
        ("a", 10, 3, 10),
        ("b", 700, 0, 700),
        ("b", 5, 1, 5),
    ]


def test_pack_invariant_under_partitioning(spark):
    rows = [("s%d" % (i % 3), 50 + (i * 37) % 400) for i in range(60)]
    assert _pack_rows(spark, rows, 512, parts=1) == _pack_rows(
        spark, rows, 512, parts=7
    )


def test_pack_sharded_semantics_and_invariance(spark):
    """Sharded packing: per-(group, shard) greedy semantics, disjoint
    bin ids across shards, stable under repartitioning."""
    rows = [("s%d" % (i % 2), 50 + (i * 37) % 400) for i in range(80)]
    df = spark.createDataFrame(
        [Row(doc_id=i, source=s, n_tokens=n) for i, (s, n) in enumerate(rows)]
    )
    out = pack_sequences(df, 512, n_shards=4).collect()
    out7 = pack_sequences(df.repartition(7), 512, n_shards=4).collect()
    key = lambda r: (r.group_key, r.doc_id)
    assert sorted(out, key=key) == sorted(out7, key=key)
    # bin_id % n_shards == doc_id % n_shards (ids disjoint per shard),
    # and within each (group, shard) the greedy invariants hold
    by_bin: dict = {}
    for r in out:
        assert r.bin_id % 4 == r.doc_id % 4
        by_bin.setdefault((r.group_key, r.bin_id), []).append(r)
    for members in by_bin.values():
        members.sort(key=lambda r: r.doc_id)
        fill = 0
        for r in members:
            fill += r.n_tokens
            assert r.bin_fill == fill
        # a window only exceeds the budget via a single oversize doc
        assert fill <= 512 or len(members) == 1


def test_pack_hot_group_shards_bound_pandas_frames(spark):
    """A 10^6-row single-source group packs via n_shards=32 without one
    giant pandas frame: every kernel invocation sees <= ceil(n/32) rows
    (asserted from inside the kernel via the per-shard row counts)."""
    n = 1_000_000
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("hot").alias("source"),
            (F.col("id") % 97 + 1).cast("int").alias("n_tokens"),
        )
    )
    out = pack_sequences(df, 512, n_shards=32)
    # per-shard row counts == what each pandas frame held; all bounded
    shard_sizes = (
        out.groupBy((F.col("doc_id") % 32).alias("shard")).count().collect()
    )
    assert len(shard_sizes) == 32
    assert max(r["count"] for r in shard_sizes) <= (n // 32) + 1
    assert sum(r["count"] for r in shard_sizes) == n
    # fill accounting survives at volume: no window over budget except
    # oversize singletons (none exist here: max token count 97 << 512)
    assert out.filter(F.col("bin_fill") > 512).count() == 0


def test_chunks_cover_text_exactly(spark):
    out = t6_chunk_documents(spark, SF)
    # every chunk except a doc's last has the full CHUNK_SIZE; strides
    # tile the document so the last chunk ends exactly at text end
    docs = out.groupBy("doc_id").agg(
        F.max("chunk_idx").alias("last_idx"),
        F.sum(F.when(F.col("chunk_len") < CHUNK_SIZE, 1).otherwise(0)).alias(
            "n_short"
        ),
    )
    assert docs.filter(F.col("n_short") > 1).count() == 0
    joined = (
        out.groupBy("doc_id")
        .agg(F.max(F.col("chunk_idx") * CHUNK_STRIDE + F.col("chunk_len")).alias("covered"))
    )
    from x17a5_spark.tables import load_table

    lens = load_table(spark, SF, "documents").select(
        "doc_id", F.length("text").alias("n")
    )
    bad = joined.join(lens, "doc_id").filter(F.col("covered") != F.col("n"))
    assert bad.count() == 0


def test_stratified_split_proportions(spark):
    out = t7_stratified_split(spark, SF)
    per = (
        out.groupBy("lang")
        .pivot("split", ["train", "val", "test"])
        .count()
        .fillna(0)
        .collect()
    )
    for r in per:
        n = r.train + r.val + r.test
        assert r.train == int(0.8 * n)
        assert r.train + r.val == int(0.9 * n)
    # deterministic: same assignment on re-run
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in t7_stratified_split(spark, SF).collect()}
    assert a == b


def test_e5_blocking_bounded_on_hot_shingle(spark):
    """A stop-phrase shingle shared by every doc must not create
    batch x existing candidate pairs: blocking is capped at
    E5_PREFIX * E5_DF_CAP pairs per batch doc, and a doc whose rare
    shingles point at one existing doc pairs with exactly that doc."""
    from x17a5_spark.queries.corpus import (
        E5_DF_CAP,
        E5_PREFIX,
        blocked_candidates,
    )

    hot = "the quick fox"
    n_existing, n_batch = 400, 30
    # every existing doc carries the hot shingle plus one unique shingle
    she = spark.createDataFrame(
        [Row(e_id=i, shingle=hot) for i in range(n_existing)]
        + [Row(e_id=i, shingle=f"unique gram {i}") for i in range(n_existing)]
    )
    # every batch doc carries the hot shingle plus the unique shingle of
    # its source doc (near-copy shape)
    shb = spark.createDataFrame(
        [Row(b_id=j, shingle=hot) for j in range(n_batch)]
        + [Row(b_id=j, shingle=f"unique gram {j}") for j in range(n_batch)]
    )
    cand = blocked_candidates(shb, she).collect()
    # hot shingle (df = 400 > E5_DF_CAP) never blocks: no quadratic term
    assert len(cand) == n_batch  # one candidate per batch doc, not 30*400
    assert len(cand) <= n_batch * E5_PREFIX * E5_DF_CAP
    assert all(c.b_id == c.e_id for c in cand)  # each found its source


def test_e6_omits_stages_that_drop_a_whole_source(spark, tmp_path):
    """A source whose every document fails language id has rows only at
    the raw stage: like the oracle's GROUP BY, e6 emits no zero-count
    (stage, source) rows."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from x17a5_spark.queries.corpus import _e6_sql, e6_curation_funnel

    words = "ledger asset cash bond note loan fund rate".split()
    english = [
        " ".join(f"the {words[(d + k) % 8]} of a {words[k % 8]}{d} is in that"
                 for k in range(40))
        for d in range(6)
    ]
    foreign = [" ".join(f"zq{d}x{k} vw{k}" for k in range(60)) for d in range(4)]
    texts = english + foreign
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["web"] * len(english) + ["scan"] * len(foreign),
            "n_chars": [len(t) for t in texts],
        }),
        str(tmp_path / "documents.parquet"),
    )
    got = sorted(tuple(r) for r in e6_curation_funnel(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    want = sorted(tuple(r) for r in con.execute(_e6_sql()).fetchall())
    assert ("1_raw", "scan", len(foreign)) in want
    assert ("6_quota", "web", len(english)) in want
    assert got == want
