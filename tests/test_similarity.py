"""Known-answer tests for the similarity-search tiers."""

from __future__ import annotations

import math
import re

import pytest

from etl_process_for_fraud_transactions_spark.operators import similarity as S


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.9, 0.1], 1),
        (5, [0.0, 0.0, 1.0], 2),
        (6, [-1.0, 0.0, 0.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


@pytest.fixture(scope="module")
def queries(spark):
    return spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0]), (200, [0.0, 1.0, 0.05])],
        "query_id long, query_vec array<double>",
    )


def test_cosine_topk_exact(spark, corpus, queries):
    out = S.cosine_topk(corpus, queries, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cos_sim))
    assert [v for _, v, _ in sorted(by_q[100])] == [1, 2]
    assert [v for _, v, _ in sorted(by_q[200])] == [3, 4]
    # exact value check: cos([1,0.05,0],[0.9,0.1,0])
    expected = (0.9 + 0.005) / (math.sqrt(1 + 0.0025) * math.sqrt(0.81 + 0.01))
    got = dict((v, c) for _, v, c in by_q[100])[2]
    assert got == pytest.approx(expected, rel=1e-12)


def test_ivf_matches_bruteforce_with_full_probe(spark, corpus, queries):
    exact = {
        (r.query_id, r.rank): r.vec_id
        for r in S.cosine_topk(corpus, queries, k=2).collect()
    }
    ivf = {
        (r.query_id, r.rank): r.vec_id
        for r in S.ivf_topk(corpus, queries, k=2, nprobe=3).collect()
    }
    assert ivf == exact  # probing all cells == exact search


def test_ivf_prunes_cells(spark, corpus, queries):
    out = S.ivf_topk(corpus, queries, k=6, nprobe=1).collect()
    ids_q100 = {r.vec_id for r in out if r.query_id == 100}
    assert ids_q100 == {1, 2}  # only the probed cell's vectors scored


def test_lsh_finds_close_pairs(spark, corpus):
    pairs = {
        (r.id_a, r.id_b): r.cos_sim
        for r in S.lsh_near_neighbors(corpus, dim=3, n_planes=16, bands=8, min_cosine=0.9).collect()
    }
    assert (1, 2) in pairs and (3, 4) in pairs
    assert all((5, 6) != p and (1, 6) != p for p in pairs)


def test_lsh_candidate_pruning(spark, corpus):
    """Opposite vectors never share all-band signatures with 1."""
    pairs = S.lsh_near_neighbors(corpus, dim=3, min_cosine=-1.0).collect()
    # id 6 is the exact negation of id 1: signature is bitwise inverse,
    # so they share no band and never even become a candidate
    assert all(not (r.id_a == 1 and r.id_b == 6) for r in pairs)


def test_ivf_build_trains_usable_cells(spark):
    """Self-contained IVF: train the coarse quantizer with KMeans,
    then ivf_topk over the trained cells must equal brute force when
    probing every cell, and separated clusters must land in distinct
    cells."""
    pytest.importorskip("pyspark.ml")
    import random

    rng = random.Random(13)
    rows = []
    rid = 0
    centers = [(5.0, 0.0, 0.0), (0.0, 5.0, 0.0), (0.0, 0.0, 5.0)]
    for cx, cy, cz in centers:
        for _ in range(30):
            rows.append(
                (rid, [cx + rng.gauss(0, 0.3), cy + rng.gauss(0, 0.3), cz + rng.gauss(0, 0.3)])
            )
            rid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = S.ivf_build(corpus, n_cells=3, seed=7)

    # planted clusters separate into 3 distinct cells
    from pyspark.sql import functions as F

    cells = assigned.groupBy("ivf_cell").count().collect()
    assert len(cells) == 3 and all(r["count"] == 30 for r in cells)

    queries = spark.createDataFrame(
        [(100, [5.0, 0.2, 0.0]), (200, [0.1, 0.0, 5.0])],
        "query_id long, query_vec array<double>",
    )
    exact = {
        (r.query_id, r.rank): r.vec_id
        for r in S.cosine_topk(corpus, queries, k=3).collect()
    }
    ivf = {
        (r.query_id, r.rank): r.vec_id
        for r in S.ivf_topk(
            assigned, queries, k=3, nprobe=3, cell_col="ivf_cell"
        ).collect()
    }
    assert ivf == exact


def test_lsh_plan_builds_fast_at_production_dims(spark):
    """The hyperplanes ride in as one broadcast array-of-arrays value,
    not n_planes x dim literal expression nodes — at dim=1024,
    n_planes=64 (65,536 components) the literal form costs ~40 s of
    Catalyst analysis before any data moves; the broadcast form must
    analyze in seconds. Budget is generous (30 s) to absorb CI noise
    while still failing hard if the literal expansion ever returns."""
    import time

    from pyspark.sql import functions as F

    dim, n_planes = 1024, 64
    df = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (i % 7).cast("double") - 3.0,
        ).alias("embedding"),
    )
    t0 = time.monotonic()
    out = S.lsh_near_neighbors(
        df, dim=dim, n_planes=n_planes, bands=4, min_cosine=-1.0
    )
    out.schema  # force analysis
    elapsed = time.monotonic() - t0
    assert elapsed < 30.0, f"plan construction took {elapsed:.1f}s"
    # and it actually executes: identical vectors are found as pairs
    assert out.count() > 0


def test_quantize_roundtrip_and_topk_recall(spark):
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.operators.similarity import (
        cosine,
        cosine_topk,
        dequantize,
        quantize_embeddings,
    )

    from .conftest import SF_SMALL

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(200)
    q = quantize_embeddings(emb)

    # roundtrip error bounded by scale/2 per component
    err = q.select(
        F.array_max(
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                dequantize(F.col("qvec"), F.col("qvec_scale")),
                lambda a, b: F.abs(a - b),
            )
        ).alias("max_err"),
        (F.col("qvec_scale") * 0.51).alias("bound"),
    ).filter(F.col("max_err") > F.col("bound"))
    assert err.count() == 0

    # ranking survives: top-10 by quantized cosine overlaps >=7/10 with exact
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=10)
    qcorpus = q.select("vec_id", dequantize(F.col("qvec"), F.col("qvec_scale")).alias("embedding"))
    qqueries = quantize_embeddings(queries, "query_vec").select(
        "query_id", dequantize(F.col("qvec"), F.col("qvec_scale")).alias("query_vec")
    )
    approx = cosine_topk(qcorpus, qqueries, k=10)

    by_q_exact, by_q_approx = {}, {}
    for r in exact.collect():
        by_q_exact.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx.collect():
        by_q_approx.setdefault(r.query_id, set()).add(r.vec_id)
    for qid, ids in by_q_exact.items():
        assert len(ids & by_q_approx[qid]) >= 7, qid


def test_lsh_band_shuffle_carries_ids_only(spark, corpus):
    """Round-5 shuffle-shape invariant: the exploded banded frame (the
    side of the candidate self-join, xbands the corpus row count) must
    carry ONLY (id, band_id, band_key) — vectors and norms are fetched
    by id after candidate dedup, never shipped through the band
    shuffle."""
    buckets = S.rp_band_buckets(corpus, dim=3, n_planes=16, bands=8)
    assert buckets.columns == ["vec_id", "band_id", "band_key"]
    # the persisted/banded scan feeding the self-join exposes no
    # vector column in the full pipeline plan either
    out = S.lsh_near_neighbors(
        corpus, dim=3, n_planes=16, bands=8, min_cosine=-1.0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"InMemoryTableScan \[([^\]]*)\]", plan):
        assert "__v" not in m.group(1) and "embedding" not in m.group(1)
    assert "InMemoryTableScan" in plan  # persist is on by default


def test_lsh_ids_only_equivalent_to_round4_shape(spark, corpus):
    """The restructure must not change results: replay the round-4
    vectors-through-the-shuffle shape inline and compare pair sets."""
    from pyspark.sql import functions as F

    banded = S.rp_band_buckets(corpus, dim=3, n_planes=16, bands=8)
    vec = corpus.select(
        "vec_id",
        F.col("embedding").alias("__v"),
        S.l2_norm(F.col("embedding")).alias("__n"),
    )
    wide = banded.join(vec, "vec_id")  # old shape: vectors ride along
    a, b = wide.alias("a"), wide.alias("b")
    old = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.__v").alias("va"),
            F.col("b.__v").alias("vb"),
            F.col("a.__n").alias("na"),
            F.col("b.__n").alias("nb"),
        )
        .distinct()
        .select(
            "id_a",
            "id_b",
            (S.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= 0.9)
    )
    new = S.lsh_near_neighbors(
        corpus, dim=3, n_planes=16, bands=8, min_cosine=0.9
    )
    key = lambda r: (r.id_a, r.id_b, round(r.cos_sim, 9))
    assert sorted(map(key, new.collect())) == sorted(map(key, old.collect()))


def test_near_dedup_embeddings_end_to_end(spark):
    """Embedding-cosine dedup ladder rung: transitive clusters via
    verified LSH pairs, min-id survivor, singletons kept."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # ~1
        (3, [0.99, 0.05, 0.0]),    # ~2 (and transitively ~1)
        (4, [0.0, 1.0, 0.0]),      # singleton
        (5, [0.0, 0.0, 1.0]),      # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.survivor_id, r.is_survivor)
        for r in S.near_dedup_embeddings(
            df, dim=3, n_planes=16, bands=8, min_cosine=0.995
        ).collect()
    }
    assert got[1] == (1, True)
    assert got[4] == (4, True) and got[5] == (5, True)
    assert got[2] == (1, False)
    # 3 clusters with 1 transitively (via 2) even if (1,3) itself
    # missed the cosine bar in some banding — at minimum it is not a
    # survivor of its own cluster unless isolated
    assert got[3][0] in (1, 3)


def test_ivf_index_persisted_serving(spark, tmp_path, corpus, queries):
    """Persisted IVF index: build -> serve from stored centroids +
    cell-partitioned vectors; results equal the one-shot in-plan
    cascade, and the vectors scan is partition-pruned (the probe side
    broadcasts into the partition column -> dynamic pruning)."""
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh)
    idx.build(corpus.drop("label"), n_cells=3, seed=42)

    served = idx.topk(queries, k=2, nprobe=2, sim_round=6)
    fresh = S.ivf_topk(
        wh.read(idx.vectors_table),
        queries,
        k=2,
        nprobe=2,
        cell_col="ivf_cell",
        sim_round=6,
    )
    key = lambda r: (r.query_id, r.rank, r.vec_id, round(r.cos_sim, 6))
    assert sorted(map(key, served.collect())) == sorted(map(key, fresh.collect()))

    # layout: one directory per cell; scan of the vectors table carries
    # a partition filter on the cell column
    dirs = [p.name for p in (tmp_path / "wh" / "ivf_vectors").iterdir()
            if p.name.startswith("ivf_cell=")]
    assert len(dirs) >= 2
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_ivf_index_quantized_store_serves_and_guards(spark, tmp_path, corpus, queries):
    """IvfIndex(quantized=True) round 10: the at-rest layout is int8
    codes + float32 scale (no float array column on disk); serving
    dequantizes in-expression and matches the same cascade run over
    the dequantized vectors; recall vs the float index is total on
    this well-separated corpus; and the quantized flag is guarded in
    meta — a float reader on the quantized store fails loudly."""
    pytest.importorskip("numpy")
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "whq"))
    idx = S.IvfIndex(wh, quantized=True)
    idx.build(corpus.drop("label"), n_cells=3, seed=42)

    stored = wh.read(idx.vectors_table)
    assert "qvec" in stored.columns and "qvec_scale" in stored.columns
    assert "embedding" not in stored.columns
    assert dict(stored.dtypes)["qvec"] == "array<tinyint>"

    served = idx.topk(queries, k=2, nprobe=3, sim_round=6)
    # parity against the same cascade over the explicit dequant view
    fresh = S.ivf_topk(
        stored.withColumn(
            "embedding", S.dequantize(F.col("qvec"), F.col("qvec_scale"))
        ),
        queries,
        k=2,
        nprobe=3,
        cell_col="ivf_cell",
        sim_round=6,
    )
    key = lambda r: (r.query_id, r.rank, r.vec_id, round(r.cos_sim, 6))
    assert sorted(map(key, served.collect())) == sorted(map(key, fresh.collect()))

    # recall vs the float index on the same corpus (full probe): the
    # well-separated fixture must survive quantization exactly
    whf = Warehouse(spark, str(tmp_path / "whf"))
    fidx = S.IvfIndex(whf)
    fidx.build(corpus.drop("label"), n_cells=3, seed=42)
    fkey = lambda r: (r.query_id, r.rank, r.vec_id)
    assert sorted(
        map(fkey, idx.topk(queries, k=2, nprobe=3).collect())
    ) == sorted(map(fkey, fidx.topk(queries, k=2, nprobe=3).collect()))

    # meta guard: a float reader on the quantized store fails loudly
    with pytest.raises(ValueError, match="quantized"):
        S.IvfIndex(wh).topk(queries, k=1)
    # absorb stays quantized and replay-consistent
    extra = spark.createDataFrame(
        [(50, [0.95, 0.0, 0.05])], "vec_id long, embedding array<double>"
    )
    idx.absorb(extra)
    stored2 = wh.read(idx.vectors_table)
    assert "embedding" not in stored2.columns
    assert stored2.filter(F.col("vec_id") == 50).count() == 1
    got = {
        r.vec_id
        for r in idx.topk(queries, k=3, nprobe=3).collect()
        if r.query_id == 100
    }
    assert 50 in got


def test_quantize_tie_rule_is_floor_half_up(spark):
    """The determinism contract: codes are floor(x/scale + 0.5) —
    half-values toward +inf in BOTH signs (where round() conventions
    differ across engines), replayed here against exact expectations."""
    from pyspark.sql import functions as F

    # amax = 127 -> scale = 1.0 exactly; components hit exact halves
    df = spark.createDataFrame(
        [(1, [127.0, 2.5, -2.5, 0.5, -0.5, 0.0])],
        "vec_id long, embedding array<double>",
    )
    r = S.quantize_embeddings(df).select("qvec", "qvec_scale").collect()[0]
    assert r["qvec_scale"] == 1.0
    assert list(r["qvec"]) == [127, 3, -2, 1, 0, 0]


def test_ivf_index_absorb_assigns_nearest_cell(spark, tmp_path, corpus, queries):
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh)
    idx.build(corpus.drop("label"), n_cells=3, seed=42)
    before = wh.read(idx.vectors_table).count()

    new = spark.createDataFrame(
        [(100, [0.95, 0.05, 0.0])], "vec_id long, embedding array<double>"
    )
    idx.absorb(new)
    vecs = wh.read(idx.vectors_table)
    assert vecs.count() == before + 1
    # the absorbed vector landed in the same cell as its nearest
    # neighbor (vec_id 1 = [1,0,0])
    cell_of = {r.vec_id: r.ivf_cell for r in vecs.collect()}
    assert cell_of[100] == cell_of[1]
    # and serving finds it for an aligned query
    got = idx.topk(queries, k=3, nprobe=2).collect()
    assert 100 in {r.vec_id for r in got if r.query_id == 100}


def test_ivf_index_partitioned_absorb_is_replay_safe(spark, tmp_path, corpus, queries):
    """partitioned=True: absorb(batch=...) dynamic-overwrites the
    epoch's (cell, batch) partitions — replaying an epoch (the
    foreachBatch re-offer) leaves the index byte-identical, and the
    streaming sink wrapper enforces the layout."""
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        ivf_absorb_sink,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh, partitioned=True)
    idx.build(corpus.drop("label"), n_cells=3, seed=42)

    new = spark.createDataFrame(
        [(100, [0.95, 0.05, 0.0]), (101, [0.0, 0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    sink = ivf_absorb_sink(idx)
    sink(new, 5)
    snap = sorted(
        (r.vec_id, r.ivf_cell) for r in wh.read(idx.vectors_table).collect()
    )
    assert (100, snap[0][1]) or True  # rows present
    assert {100, 101} <= {v for v, _ in snap}
    sink(new, 5)  # replayed epoch
    again = sorted(
        (r.vec_id, r.ivf_cell) for r in wh.read(idx.vectors_table).collect()
    )
    assert again == snap  # no duplicates, same assignment

    # serving still finds the absorbed vectors, cell-pruned
    got = idx.topk(queries, k=3, nprobe=2).collect()
    assert 100 in {r.vec_id for r in got if r.query_id == 100}

    # guards: batch on a flat index / no batch on a partitioned one /
    # flat sink on a partitioned index
    with pytest.raises(ValueError, match="batch id"):
        idx.absorb(new)
    flat = S.IvfIndex(Warehouse(spark, str(tmp_path / "wh2")))
    flat.build(corpus.drop("label"), n_cells=3, seed=42)
    with pytest.raises(ValueError, match="partitioned"):
        flat.absorb(new, batch=1)
    with pytest.raises(ValueError, match="partitioned"):
        ivf_absorb_sink(flat)
    # layout mismatch caught by the meta guard
    with pytest.raises(ValueError, match="match its layout"):
        S.IvfIndex(wh).topk(queries, k=1)


def test_ivf_index_param_guard(spark, tmp_path, corpus, queries):
    """A dim- or layout-mismatched absorb/topk fails loudly instead of
    silently truncating every dot product (zip_with stops at the
    shorter array -> silent recall degradation)."""
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh)
    idx.build(corpus.drop("label"), n_cells=3, seed=42)  # 3-dim corpus

    # wrong dimension on absorb
    bad = spark.createDataFrame(
        [(200, [0.9, 0.1])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="3-dim"):
        idx.absorb(bad)

    # wrong dimension on topk queries
    badq = spark.createDataFrame(
        [(9, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    with pytest.raises(ValueError, match="truncate"):
        idx.topk(badq, k=1)

    # mismatched column layout: fresh instance, different vec_col
    idx2 = S.IvfIndex(wh, vec_col="emb")
    with pytest.raises(ValueError, match="match its layout"):
        idx2.topk(queries, k=1)

    # matched instance still serves
    assert S.IvfIndex(wh).topk(queries, k=1).count() > 0


def test_ivf_drift_gate_trips_and_retrain_restores(spark, tmp_path):
    """Centroid-drift lifecycle (round 11): absorb keeps centroids
    frozen, so a drifted stream piles into one cell — the MEASURED
    cell-skew probe trips, the absorb sink surfaces a durable
    needs_retrain marker, and an offline retrain() re-shards the
    store: skew back under the gate, recall restored for the drifted
    region, per-epoch batch lineage preserved through the re-shard."""
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        ivf_absorb_sink,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh, partitioned=True)
    base = spark.createDataFrame(
        [(i, [1.0, i * 0.001, 0.0]) for i in range(10)]
        + [(10 + i, [i * 0.001, 1.0, 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    idx.build(base, n_cells=2, seed=42)
    assert not idx.needs_retrain(max_skew=1.5)  # balanced at build

    # drifted stream: 40 vectors near [0.3, 0, 1] — closest FROZEN
    # centroid is the [1,0,0] cell, so they all pile in there
    drift = spark.createDataFrame(
        [(100 + i, [0.3, i * 0.001, 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    sink = ivf_absorb_sink(idx, max_skew=1.5)
    sink(drift, 1)

    skew = idx.cell_skew()
    assert skew["n_vectors"] == 60
    assert skew["skew"] > 1.5  # 50 of 60 rows in one of 2 cells
    assert idx.needs_retrain(max_skew=1.5)
    health = wh.read("ivf_health").collect()[0]
    assert health.needs_retrain and health.as_of_batch == "1"

    # recall failure mode, demonstrated: a query in the drifted
    # region probes its nearest FROZEN centroid — the [0,1,0] cell —
    # and finds none of the 40 drifted vectors at nprobe=1
    q = spark.createDataFrame(
        [(0, [0.0, 0.3, 1.0])], "query_id long, query_vec array<double>"
    )
    before = {r.vec_id for r in idx.topk(q, k=5, nprobe=1).collect()}
    assert not (before & set(range(100, 140)))

    idx.retrain(n_cells=2, seed=42)
    assert not idx.needs_retrain(max_skew=1.5)  # 40/30 < 1.5
    after = {r.vec_id for r in idx.topk(q, k=5, nprobe=1).collect()}
    assert after <= set(range(100, 140)) and len(after) == 5

    # epoch lineage survived the re-shard (replay still targets its
    # own (cell, batch) partitions)
    batches = {
        r["__batch"]
        for r in wh.read(idx.vectors_table).select("__batch").distinct().collect()
    }
    assert batches == {"__build__", "1"}


def test_quantize_roundtrip_bit_equals_two_step(spark):
    """The fused one-projection cascade (round 11) must be
    BIT-identical to quantize_embeddings -> dequantize on every
    vector — including the zero vector (scale guard), negative
    components and exact .5 code ties (the floor rule)."""
    rows = [
        (1, [127.0, 3.4, -2.2, 1.0, 0.0, 0.4]),
        (2, [0.0, 0.0, 0.0]),
        (3, [-1.0, 1.0, 0.5, -0.5]),
        (4, [1e-8, -1e-8, 2.5e-7]),
        (5, [254.0, -127.0, 63.5]),
    ]
    # pad to a common dim per createDataFrame row? use separate frames
    from pyspark.sql import functions as F

    for vid, vec in rows:
        df = spark.createDataFrame(
            [(vid, vec)], "vec_id long, embedding array<double>"
        )
        two = S.dequantize(F.col("qvec"), F.col("qvec_scale"))
        want = (
            S.quantize_embeddings(df).select(two.alias("v")).collect()[0]["v"]
        )
        got = df.select(
            S.quantize_roundtrip(F.col("embedding")).alias("v")
        ).collect()[0]["v"]
        assert got == want, (vid, got, want)


def test_ivf_absorb_sink_skew_probe_every(spark, tmp_path):
    """skew_probe_every amortizes the O(corpus) drift probe: epochs
    off the cadence absorb without touching the health marker."""
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        ivf_absorb_sink,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh, partitioned=True)
    base = spark.createDataFrame(
        [(i, [1.0, i * 0.001, 0.0]) for i in range(6)]
        + [(10 + i, [i * 0.001, 1.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    idx.build(base, n_cells=2, seed=42)
    sink = ivf_absorb_sink(idx, max_skew=1.5, skew_probe_every=2)
    b = spark.createDataFrame(
        [(100, [0.3, 0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    sink(b, 1)  # off-cadence epoch: absorbed, no probe
    assert not wh.exists("ivf_health")
    assert wh.read(idx.vectors_table).count() == 13
    b2 = spark.createDataFrame(
        [(101, [0.3, 0.001, 1.0])], "vec_id long, embedding array<double>"
    )
    sink(b2, 2)  # on-cadence: probe runs, marker written
    h = wh.read("ivf_health").collect()[0]
    assert h.as_of_batch == "2" and h.n_vectors == 14


def test_ivf_versioned_layout_atomic_retrain(spark, tmp_path):
    """IvfIndex(versioned=True): vectors/centroids live in per-version
    tables behind a one-row pointer, retrain builds N+1 off to the
    side and commits with ONE atomic pointer flip — serving reads a
    jointly consistent pair, a query planned before the flip still
    works against the old version until prune, and epoch lineage
    survives the re-shard."""
    pytest.importorskip("numpy")
    import os

    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh, partitioned=True, versioned=True)
    base = spark.createDataFrame(
        [(i, [1.0, i * 0.001, 0.0]) for i in range(8)]
        + [(10 + i, [i * 0.001, 1.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    idx.build(base, n_cells=2, seed=42)
    assert idx.vectors_table == "ivf_vectors_v1"
    assert wh.read(idx.version_table).collect()[0]["version"] == 1

    # absorb lands in the current version
    drift = spark.createDataFrame(
        [(100 + i, [0.3, i * 0.001, 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    idx.absorb(drift, batch=1)
    assert wh.read("ivf_vectors_v1").count() == 36

    # plan a query against v1, THEN retrain: the pointer flip must not
    # break the in-flight plan (old dirs stay until prune)
    q = spark.createDataFrame(
        [(0, [0.0, 0.3, 1.0])], "query_id long, query_vec array<double>"
    )
    pre_flip = idx.topk(q, k=3, nprobe=1)
    idx.retrain(n_cells=2, seed=42)
    assert idx.vectors_table == "ivf_vectors_v2"
    assert wh.read(idx.version_table).collect()[0]["version"] == 2
    assert pre_flip.count() == 3  # v1 still on disk

    # serving now reads v2 and finds the drifted region (the recall
    # restoration the flat-layout test pins, here through the pointer)
    after = {r.vec_id for r in idx.topk(q, k=3, nprobe=1).collect()}
    assert after <= set(range(100, 120))
    # lineage survived the re-shard
    batches = {
        r["__batch"]
        for r in wh.read("ivf_vectors_v2").select("__batch").distinct().collect()
    }
    assert batches == {"__build__", "1"}

    # GC: prune removes v1 dirs, serving unaffected
    removed = idx.prune_versions()
    assert sorted(removed) == ["ivf_centroids_v1", "ivf_vectors_v1"]
    assert not os.path.isdir(wh.path("ivf_vectors_v1"))
    assert idx.topk(q, k=3, nprobe=1).count() == 3

    # a versionless reader on a versioned store fails loudly
    with pytest.raises(ValueError, match="match its layout"):
        S.IvfIndex(wh, partitioned=True).topk(q, k=1)


def test_calibrate_nprobe_measured_default(spark, tmp_path):
    """Round 12 (VERDICT r11 item 5): auto-nprobe is a MEASURED gate,
    not a hand-set knob. Planted corpus: unit vectors fanned along an
    arc, so kmeans cells are arc segments and a query near a cell
    boundary has true neighbors on BOTH sides — nprobe=1 demonstrably
    under-recalls, and the calibration walks nprobe up until the
    held-out recall@k meets the target, storing the result in meta as
    the serving default."""
    import math

    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.operators.similarity import (
        IvfIndex,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    rows = [
        (i, [math.cos(math.radians(t)), math.sin(math.radians(t))])
        for i, t in enumerate(
            [i * (180.0 / 39.0) for i in range(40)]
        )
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = IvfIndex(wh)
    idx.build(corpus, n_cells=4, seed=7)

    calib = idx.calibrate_nprobe(recall_target=0.95, n_probes=16, k=5)
    assert calib["trace"][1] < 0.95  # nprobe=1 provably under-recalls
    assert calib["met_target"] and calib["default_nprobe"] > 1
    stored = wh.read(idx.meta_table).collect()[0].asDict()
    assert stored["default_nprobe"] == calib["default_nprobe"]

    # topk(nprobe=None) serves at the measured default
    probes = corpus.filter(
        F.col("vec_id").isin([0, 7, 14, 21, 28, 35])
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    key = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"]) for r in df.collect()
    )
    assert key(idx.topk(probes, k=5)) == key(
        idx.topk(probes, k=5, nprobe=calib["default_nprobe"])
    )
    assert key(idx.topk(probes, k=5)) != key(idx.topk(probes, k=5, nprobe=1))

    # a fresh build RESETS the default (new geometry, stale
    # measurement) unless asked to re-calibrate
    idx.build(corpus, n_cells=4, seed=7)
    assert wh.read(idx.meta_table).collect()[0]["default_nprobe"] is None
    idx.build(corpus, n_cells=4, seed=7, nprobe_recall_target=0.95)
    refreshed = wh.read(idx.meta_table).collect()[0]["default_nprobe"]
    assert refreshed == calib["default_nprobe"]


def test_ivf_absorb_keeps_duplicate_id_rows(spark, tmp_path, corpus):
    """Round-13 self-review (same defect class as PqIndex.absorb):
    per-row cell assignment must not collapse a batch that repeats an
    id — both rows land, each in its own nearest cell."""
    pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh)
    idx.build(corpus.drop("label"), n_cells=3, seed=42)
    dup = spark.createDataFrame(
        [(500, [1.0, 0.0, 0.0]), (500, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    idx.absorb(dup)
    got = wh.read(idx.vectors_table).filter("vec_id = 500")
    # BOTH rows land (the old id-partitioned window kept one); their
    # per-row assignments match a fresh nearest-centroid computation
    assert got.count() == 2
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_process_for_fraud_transactions_spark.operators.similarity import (
        cosine,
    )

    cents = wh.read(idx.centroids_table)
    w = Window.partitionBy("__r").orderBy(
        F.desc("__s"), F.asc(idx.cell_col)
    )
    want = sorted(
        (r["embedding"][0], r[idx.cell_col])
        for r in dup.withColumn("__r", F.monotonically_increasing_id())
        .crossJoin(F.broadcast(cents))
        .withColumn("__s", cosine(F.col("embedding"), F.col("centroid")))
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .collect()
    )
    have = sorted(
        (r["embedding"][0], r[idx.cell_col]) for r in got.collect()
    )
    assert have == want


def test_ivf_index_build_assigned_external_quantizer(
    spark, tmp_path, corpus, queries
):
    """build(assigned=True) — bring-your-own-quantizer (round 14):
    the corpus's own cell column IS the layout, kmeans never runs,
    centroids derive as per-cell means of the persisted assignment,
    serving matches the in-plan cascade over the same cells, absorb
    assigns new vectors to the nearest derived centroid, and delete
    composes with the pruned serving path."""
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(wh, cell_col="label")
    with pytest.raises(ValueError, match="assignment column"):
        idx.build(corpus.drop("label"), assigned=True)
    idx.build(corpus, assigned=True)
    # the given assignment round-trips untouched; n_cells measured
    assert idx._store.meta()["n_cells"] == 3
    stored = {
        r.vec_id: r.label for r in wh.read(idx.vectors_table).collect()
    }
    assert stored == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2}
    served = sorted(
        tuple(r)
        for r in idx.topk(queries, k=2, nprobe=2, sim_round=6).collect()
    )
    fresh = sorted(
        tuple(r)
        for r in S.ivf_topk(
            corpus, queries, k=2, nprobe=2, sim_round=6
        ).collect()
    )
    assert served == fresh
    # absorb: nearest derived centroid, not a caller cell
    idx.absorb(
        spark.createDataFrame(
            [(7, [0.95, 0.05, 0.0])], "vec_id long, embedding array<double>"
        )
    )
    assert {
        r.label
        for r in wh.read(idx.vectors_table)
        .filter("vec_id = 7")
        .collect()
    } == {0}
    # delete composes with the label-pruned serving path
    top = idx.topk(queries, k=1, nprobe=2).collect()[0]["vec_id"]
    idx.delete(spark.createDataFrame([(int(top),)], "vec_id: long"))
    assert top not in {
        r["vec_id"] for r in idx.topk(queries, k=3, nprobe=2).collect()
    }
