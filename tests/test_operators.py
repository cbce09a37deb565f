"""Operator unit tests: dedup family, quantization math, top-k, spatial."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from commoncrawlnewsdataset_spark.operators import dedup as D
from commoncrawlnewsdataset_spark.operators.quantize import (
    calibration_ranges,
    pack_binary_bytes,
    quantize_binary_bits,
    quantize_int8,
)
from commoncrawlnewsdataset_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    sign_words_of,
)
from commoncrawlnewsdataset_spark.operators.spatial import (
    coalesce_nuts,
    point_in_region_join,
    with_nuts_prefixes,
)
from commoncrawlnewsdataset_spark.operators.topk import group_topk
from commoncrawlnewsdataset_spark.schemas import NUTS_REGIONS_SCHEMA
from commoncrawlnewsdataset_spark.synth import make_nuts_pdf


def test_minhash_identical_texts_identical_sigs(spark):
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "totally different words here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", F.concat_ws("|", D.minhash_signature(F.col("text"), 8, 2)).alias("s")).collect()}
    assert sigs[1] == sigs[2] != sigs[3]
    pairs = D.minhash_lsh_pairs(df, "doc_id", "text", 8, 4, k=2).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}


def test_simhash_near_texts_close(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [(1, base), (2, base + " extra"), (3, "vastly different content entirely unrelated")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = {r["doc_id"]: r["h"] for r in df.select("doc_id", D.simhash(F.col("text"), 32).alias("h")).collect()}
    ham12 = bin(sh[1] ^ sh[2]).count("1")
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    assert ham12 < ham13


def test_jaccard_pairs_exact(spark):
    rows = [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["a"], r["b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(df, "doc_id", "text", 1, 0.5).collect()}
    assert out == {(1, 2): 0.6}  # |{a,b,c}| / |{a,b,c,d,e}| = 3/5


def test_drop_exact_dups_keeps_min_id(spark):
    rows = [(5, "same text"), (2, "same text"), (9, "other")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in D.drop_exact_dups(df, "doc_id", "text").collect())
    assert kept == [2, 9]


def test_quantization_matches_numpy_formulas(spark):
    """V2/V3 vs the published sentence_transformers quantize_embeddings math
    (int8: affine with calibration ranges then trunc cast; binary: packbits(x>0))."""
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    lo, hi = calibration_ranges(df)
    assert lo == pytest.approx(vecs.min(axis=0).astype(np.float64).tolist())
    assert hi == pytest.approx(vecs.max(axis=0).astype(np.float64).tolist())

    got = {
        r["vec_id"]: (r["q"], r["bits"], r["bytes"])
        for r in df.select(
            "vec_id",
            quantize_int8(F.col("embedding"), lo, hi).alias("q"),
            quantize_binary_bits(F.col("embedding")).alias("bits"),
            pack_binary_bytes(F.col("embedding")).alias("bytes"),
        ).collect()
    }
    starts = vecs.min(axis=0).astype(np.float64)
    steps = vecs.max(axis=0).astype(np.float64) - starts
    expected_q = ((vecs.astype(np.float64) - starts) / steps * 255.0 - 128.0).astype(np.int8)
    expected_bits = (vecs > 0).astype(np.uint8)
    expected_bytes = np.packbits(expected_bits, axis=1)  # MSB-first, like the ref
    for i in range(len(vecs)):
        assert got[i][0] == expected_q[i].tolist(), i
        assert got[i][1] == expected_bits[i].tolist(), i
        assert got[i][2] == expected_bytes[i].tolist(), i
        # the driver-side packing q_hamming_topk applies to its query vector
        assert sign_words_of(vecs[i], 8) == np.packbits(vecs[i] > 0).tolist(), i


def test_brute_force_vs_numpy_topk(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(200, 8))
    q = vecs[0]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    got = [r["vec_id"] for r in brute_force_topk(df, [float(x) for x in q], k=5).collect()]
    sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    expected = np.argsort(-np.round(sims, 4), kind="stable")[:5].tolist()
    assert got == expected
    # LSH probe returns a subset ranked identically (recall may be < 1)
    ann = [r["vec_id"] for r in lsh_topk(df, [float(x) for x in q], k=5, n_planes=6, probe_hamming=2).collect()]
    assert ann[0] == 0  # the query's own vector is always in its own bucket
    assert set(ann) <= set(np.argsort(-sims)[:50].tolist())


def test_group_topk_deterministic(spark):
    rows = [("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 9.0), ("b", 4, 1.0)]
    df = spark.createDataFrame(rows, ["g", "id", "v"])
    out = [(r["g"], r["id"]) for r in group_topk(df, ["g"], "v", 2, "id").orderBy("g", "id").collect()]
    assert out == [("a", 1), ("a", 2), ("b", 4)]


def test_point_in_region_max_level_and_prefixes(spark):
    regions = spark.createDataFrame(make_nuts_pdf(), NUTS_REGIONS_SCHEMA)
    pts = spark.createDataFrame(
        [("berlin", 52.52, 13.405), ("nowhere", 0.0, 0.0), ("mitte-de", 50.0, 10.0)],
        ["loc_normal", "latitude", "longitude"],
    )
    out = {r["loc_normal"]: r for r in point_in_region_join(pts, regions).collect()}
    assert out["berlin"]["NUTS"] == "DE000"      # level-3 beats the DE rectangle
    assert out["mitte-de"]["NUTS"] == "DE"       # only country-level matches
    assert out["nowhere"]["NUTS"] is None        # left join keeps unmatched
    pref = with_nuts_prefixes(spark.createDataFrame([("DE212",)], ["NUTS"])).first()
    assert (pref["NUTS0"], pref["NUTS1"], pref["NUTS2"], pref["NUTS3"]) == ("DE", "DE2", "DE21", "DE212")
    co = coalesce_nuts(
        spark.createDataFrame([(None, "DE21"), ("DE212", "DE21")], ["NUTS3", "NUTS2"])
    ).collect()
    assert [r["NUTS"] for r in co] == ["DE21", "DE212"]


def test_ivf_topk_probe_and_recall(spark):
    from commoncrawlnewsdataset_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        pick_centroids,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(300, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    cents = pick_centroids(df, 8)
    assigned = ivf_assign(df, cents)
    lists = {r["_list"] for r in assigned.select("_list").distinct().collect()}
    assert lists <= set(range(8)) and len(lists) > 1  # real partitioning
    # a centroid's own vector lands in its own list
    own = {r["vec_id"]: r["_list"] for r in assigned.filter(F.col("vec_id") < 8).collect()}
    assert all(own[i] == i for i in range(8))

    q = [float(x) for x in vecs[3]]
    got = [r["vec_id"] for r in ivf_topk(df, q, cents, k=5, n_probe=3).collect()]
    assert got[0] == 3  # the query's own vector is in a probed list
    # IVF results are a subset of the exact top-50 (approximate but sane)
    sims = vecs @ vecs[3] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[3]))
    assert set(got) <= set(np.argsort(-sims)[:50].tolist())


def test_ivf_written_index_partition_prunes(spark, tmp_path):
    from commoncrawlnewsdataset_spark.operators.similarity import (
        ivf_probe_read,
        ivf_topk,
        pick_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(200, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    cents = pick_centroids(df, 6)
    path = str(tmp_path / "ivf")
    write_ivf_index(df, path, cents)
    q = [float(x) for x in vecs[5]]
    probed = ivf_probe_read(spark, path, q, cents, k=5, n_probe=2)
    # partition pruning visible in the scan
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list" in plan.split("PartitionFilters", 1)[1][:120]
    # same results as the in-memory IVF path
    a = [(r["vec_id"], r["score"]) for r in probed.collect()]
    b = [(r["vec_id"], r["score"]) for r in ivf_topk(df, q, cents, k=5, n_probe=2).collect()]
    assert a == b


def test_kmeans_refine_improves_assignment(spark):
    """Lloyd iterations as DataFrame aggregates: deterministic, and the mean
    member->centroid cosine (inertia analog) improves over the seed pick."""
    from commoncrawlnewsdataset_spark.operators.dedup import cosine_sim
    from commoncrawlnewsdataset_spark.operators.similarity import (
        ivf_assign,
        kmeans_refine,
        pick_centroids,
    )

    rng = np.random.default_rng(31)
    centers = rng.normal(size=(4, 8)) * 5
    vecs = np.vstack([centers[i % 4] + rng.normal(size=8) for i in range(240)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    seeds = pick_centroids(df, 4)
    refined = kmeans_refine(df, seeds, n_iter=3)
    assert refined == kmeans_refine(df, seeds, n_iter=3)  # deterministic
    assert len(refined) == 4 and all(len(c) == 8 for c in refined)

    def mean_sim(cents):
        assigned = ivf_assign(df, cents)
        v = F.col("embedding").cast("array<double>")
        sim = None
        for i, c in enumerate(cents):
            cvec = F.array(*[F.lit(float(x)) for x in c])
            s = cosine_sim(v, cvec)
            sim = F.when(F.col("_list") == i, s) if sim is None else sim.when(F.col("_list") == i, s)
        return assigned.select(F.avg(sim).alias("m")).first()["m"]

    assert mean_sim(refined) > mean_sim(seeds)
    # refined centroids sit near the true cluster centers (cosine > 0.95)
    for c in refined:
        best = max(
            float(np.dot(c, t) / (np.linalg.norm(c) * np.linalg.norm(t)))
            for t in centers
        )
        assert best > 0.95


def test_point_in_polygon_ray_casting(spark):
    """X15 with REAL polygons (ray casting as JVM column arithmetic): parity
    with a reference-style pure-Python even-odd ray caster on a non-convex
    L-shape, including points inside the notch (where the bbox lies)."""
    from commoncrawlnewsdataset_spark.operators.spatial import point_in_polygon

    # L-shaped ring (counter-clockwise, not closed)
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (2.0, 2.0), (2.0, 4.0), (0.0, 4.0)]
    xs, ys = [p[0] for p in ring], [p[1] for p in ring]

    def ref_contains(px, py):  # the classic even-odd crossing test
        inside, j = False, len(ring) - 1
        for i in range(len(ring)):
            xi, yi = ring[i]
            xj, yj = ring[j]
            if (yi > py) != (yj > py) and px < (xj - xi) * (py - yi) / (yj - yi) + xi:
                inside = not inside
            j = i
        return inside

    pts = [
        (1.0, 1.0), (3.0, 1.0), (1.0, 3.0),      # inside the L
        (3.0, 3.0),                               # inside bbox, inside NOTCH -> out
        (5.0, 1.0), (-1.0, 2.0), (1.0, 5.0),      # outside bbox
        (3.9, 1.9), (2.1, 3.9),                   # near corners, inside
    ]
    df = spark.createDataFrame(pts, ["px", "py"]).withColumn(
        "inside",
        point_in_polygon(
            F.col("px"), F.col("py"),
            F.array(*[F.lit(x) for x in xs]), F.array(*[F.lit(y) for y in ys]),
        ),
    )
    got = {(r["px"], r["py"]): r["inside"] for r in df.collect()}
    for px, py in pts:
        assert got[(px, py)] == ref_contains(px, py), (px, py)
    assert got[(3.0, 3.0)] is False  # the rectangle stub would get this wrong


def test_point_in_region_join_polygon_dim(spark):
    """The X15 join with a polygon dimension: notch points fall back to the
    lower-level region, max-LEVL selection unchanged (07_geocode_news.py:82-97)."""
    from commoncrawlnewsdataset_spark.operators.spatial import point_in_region_join

    regions = spark.createDataFrame(
        [
            ("DE2L", "Lshape", 3,
             [0.0, 4.0, 4.0, 2.0, 2.0, 0.0], [0.0, 0.0, 2.0, 2.0, 4.0, 4.0]),
            ("DE", "Germany", 0,
             [-1.0, 6.0, 6.0, -1.0], [-1.0, -1.0, 6.0, 6.0]),
        ],
        ["NUTS_ID", "NUTS_NAME", "LEVL_CODE", "ring_x", "ring_y"],
    )
    pts = spark.createDataFrame(
        [("in-l", 1.0, 1.0), ("in-notch", 3.0, 3.0), ("outside", 10.0, 10.0)],
        ["loc_normal", "longitude", "latitude"],
    )
    out = {r["loc_normal"]: r for r in point_in_region_join(pts, regions).collect()}
    assert out["in-l"]["NUTS"] == "DE2L"      # level-3 polygon wins
    assert out["in-notch"]["NUTS"] == "DE"    # notch -> only the country ring
    assert out["outside"]["NUTS"] is None     # left join keeps unmatched


def test_dup_clusters_connected_components(spark):
    """Min-id label propagation: chain, triangle, singleton, and convergence
    in O(log diameter) rounds (a 9-node chain must still converge)."""
    from commoncrawlnewsdataset_spark.operators.dedup import dup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(12)], ["id"])
    pairs = spark.createDataFrame(
        # chain 0-1-2-...-8  +  triangle 9-10-11 (edges given high->low too)
        [(i, i + 1) for i in range(8)] + [(10, 9), (11, 10), (9, 11)],
        ["a", "b"],
    )
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(nodes, pairs).collect()}
    assert all(got[i] == 0 for i in range(9))      # whole chain -> min id 0
    assert all(got[i] == 9 for i in (9, 10, 11))   # triangle -> min id 9
    # no singleton row lost, singleton keeps its own id
    nodes2 = spark.createDataFrame([(7,), (99,)], ["id"])
    pairs0 = spark.createDataFrame([], "a long, b long")
    got2 = {r["id"]: r["cluster_id"] for r in dup_clusters(nodes2, pairs0).collect()}
    assert got2 == {7: 7, 99: 99}


def test_hash_sampling_deterministic_and_partition_independent(spark):
    """The sampling verdict is a pure function of the row key: identical
    subsets at any partitioning (unlike df.sample), stratified rates land
    near their targets, unlisted strata use the default rate."""
    from commoncrawlnewsdataset_spark.operators.sampling import (
        hash_sample,
        stratified_hash_sample,
    )

    df = spark.range(20_000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("grp")
    )
    a = {r["id"] for r in hash_sample(df, 0.3, "id").collect()}
    b = {r["id"] for r in hash_sample(df.repartition(17), 0.3, "id").collect()}
    assert a == b                      # partition-independent
    assert abs(len(a) / 20_000 - 0.3) < 0.02

    out = stratified_hash_sample(
        df, {"0": 0.8, "1": 0.1}, "grp", "id", default_rate=0.0
    )
    got = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert abs(got["0"] / 5_000 - 0.8) < 0.05
    assert abs(got["1"] / 5_000 - 0.1) < 0.05
    assert set(got) == {"0", "1"}      # default 0.0 drops strata 2 and 3
    # incremental safety: the kept set over a prefix equals the prefix of
    # the kept set (a row's verdict never changes as the corpus grows)
    small = {r["id"] for r in hash_sample(df.filter("id < 5000"), 0.3, "id").collect()}
    assert small == {i for i in a if i < 5000}


def test_global_cumsum_scale_safe(spark):
    """Two-phase global prefix sum: values match the serial cumsum exactly,
    and the plan range-partitions the data (the big window runs per
    partition — never a single-partition window over the rows)."""
    import contextlib
    import io

    from commoncrawlnewsdataset_spark.operators.packing import global_cumsum, pack_chunks

    df = spark.range(50_000).select(
        F.col("id"), ((F.col("id") * 2654435761) % 97).alias("v")
    )
    out = global_cumsum(df, "id", "v", out_col="c")
    got = {r["id"]: r["c"] for r in out.collect()}
    run = 0
    for i in range(50_000):
        run += (i * 2654435761) % 97
        assert got[i] == run, i

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan  # data shuffled by key ranges
    # the data-sized window is partitioned by _pid (the serial, unpartitioned
    # window exists only over the per-partition totals — numPartitions rows)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("_pid" in s for s in specs), plan

    # chunk spans: contiguous, non-overlapping token intervals
    docs = spark.createDataFrame(
        [(i, "w " * (7 * (i % 5) + 1)) for i in range(200)] + [(999, "")],
        ["doc_id", "text"],
    )
    packed = pack_chunks(docs, chunk_tokens=16)
    rows = sorted(packed.collect(), key=lambda r: r["doc_id"])
    pos = 0
    for r in rows:
        if r["doc_id"] == 999:
            assert r["n_tokens"] == 0 and r["first_chunk"] == -1
            continue
        assert r["tok_start"] == pos and r["tok_end"] == pos + r["n_tokens"]
        assert r["first_chunk"] == r["tok_start"] // 16
        assert r["last_chunk"] == (r["tok_end"] - 1) // 16
        pos = r["tok_end"]


def test_simhash_hamming_pairs_pigeonhole(spark):
    """Banding never misses a pair within max_hamming (pigeonhole), and the
    exact verify drops anything beyond it."""
    from commoncrawlnewsdataset_spark.operators.dedup import (
        simhash,
        simhash_hamming_pairs,
    )

    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),   # identical -> d=0
        (3, "alpha beta gamma delta epsilon zeta eta iota"),    # near
        (4, "completely different words entirely unrelated content here now"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    sigs = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", simhash(F.col("text"), 16).alias("s")).collect()}
    got = {(r["a"], r["b"]): r["hamming"] for r in
           simhash_hamming_pairs(df, "doc_id", "text", bits=16, max_hamming=3).collect()}
    assert got[(1, 2)] == 0
    # every returned pair honors the exact bound; every within-bound pair is found
    import itertools
    for a, b in itertools.combinations(sorted(sigs), 2):
        d = bin(sigs[a] ^ sigs[b]).count("1")
        if d <= 3:
            assert (a, b) in got and got[(a, b)] == d, (a, b, d)
        else:
            assert (a, b) not in got, (a, b, d)


def test_pq_roundtrip_and_recall(spark):
    """PQ codebooks: codes are valid, near-identical vectors share codes, and
    ADC top-k overlaps the exact cosine top-k on clustered data."""
    from commoncrawlnewsdataset_spark.operators.pq import pq_encode, pq_topk, pq_train

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 16)) * 3
    vecs = np.vstack([centers[i % 4] + rng.normal(size=16) * 0.3 for i in range(200)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    books = pq_train(df, m=4, k=8, n_iter=2)
    assert len(books) == 4 and all(len(b) == 8 and len(b[0]) == 4 for b in books)
    codes = pq_encode(df, books)
    got = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in got.values())
    # same-cluster vectors compress to mostly-identical codes
    same = sum(got[0][j] == got[4][j] for j in range(4))   # ids 0,4 share a center
    diff = sum(got[0][j] == got[1][j] for j in range(4))   # ids 0,1 do not
    assert same >= diff

    q = [float(x) for x in vecs[7]]
    ann = [r["vec_id"] for r in pq_topk(codes, q, books, k=10).collect()]
    sims = vecs @ vecs[7] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[7]))
    exact50 = set(np.argsort(-sims)[:50].tolist())
    assert len(set(ann) & exact50) >= 8  # >=80% of ADC hits are true near-neighbors


def test_geojson_source_feeds_polygon_join(spark, tmp_path):
    """S11 without geo libs: GeoJSON FeatureCollection (Polygon +
    MultiPolygon) parsed via from_json into ring columns, then the
    ray-casting join — notch semantics identical to the hand-built dim."""
    from commoncrawlnewsdataset_spark.sources.geojson import read_geojson_regions
    from commoncrawlnewsdataset_spark.operators.spatial import point_in_region_join

    js = (
        '{"type":"FeatureCollection","features":['
        '{"properties":{"NUTS_ID":"DE2L","NUTS_NAME":"Lshape","LEVL_CODE":3},'
        '"geometry":{"type":"Polygon","coordinates":'
        '[[[0.0,0.0],[4.0,0.0],[4.0,2.0],[2.0,2.0],[2.0,4.0],[0.0,4.0],[0.0,0.0]]]}},'
        '{"properties":{"NUTS_ID":"DE","NUTS_NAME":"Germany","LEVL_CODE":0},'
        '"geometry":{"type":"MultiPolygon","coordinates":'
        '[[[[-1.0,-1.0],[6.0,-1.0],[6.0,6.0],[-1.0,6.0],[-1.0,-1.0]]]]}}]}'
    )
    p = tmp_path / "regions.geojson"
    p.write_text(js)
    regions = read_geojson_regions(spark, str(p))
    rows = {r["NUTS_ID"]: r for r in regions.collect()}
    assert set(rows) == {"DE2L", "DE"}
    assert rows["DE2L"]["ring_x"][:3] == [0.0, 4.0, 4.0]
    assert rows["DE"]["LEVL_CODE"] == 0

    pts = spark.createDataFrame(
        [("in-l", 1.0, 1.0), ("in-notch", 3.0, 3.0), ("outside", 10.0, 10.0)],
        ["loc_normal", "longitude", "latitude"],
    )
    out = {r["loc_normal"]: r for r in point_in_region_join(pts, regions).collect()}
    assert out["in-l"]["NUTS"] == "DE2L"
    assert out["in-notch"]["NUTS"] == "DE"
    assert out["outside"]["NUTS"] is None


def test_dup_clusters_doubling_exhaustion_and_resume(spark, tmp_path):
    """VERDICT/ADVICE r2: (a) pointer doubling makes convergence O(log n) —
    a 64-node chain converges within 10 rounds, where one-hop propagation
    would need 63; (b) max_iter exhaustion raises instead of silently
    returning split clusters; (c) with checkpoint_dir, labels spill to
    parquet and an interrupted run RESUMES from the newest committed round
    to the identical fixpoint."""
    from commoncrawlnewsdataset_spark.operators.dedup import dup_clusters

    n = 64
    nodes = spark.range(n).select(F.col("id").alias("id"))
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")

    out = dup_clusters(nodes, pairs, max_iter=10)
    assert all(r["cluster_id"] == 0 for r in out.collect())

    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(nodes, pairs, max_iter=2)

    # interrupted run: 4 rounds (spills at rounds 1 and 3), then resume
    ckpt = str(tmp_path / "cc")
    with pytest.warns(UserWarning, match="did not converge"):
        dup_clusters(nodes, pairs, max_iter=4, checkpoint_dir=ckpt,
                     checkpoint_every=2, on_exhaustion="warn")
    import os

    committed = [d for d in os.listdir(ckpt) if d.startswith("round=")]
    assert committed  # at least one durable label spill exists
    resumed = dup_clusters(nodes, pairs, max_iter=12, checkpoint_dir=ckpt,
                           checkpoint_every=2)
    assert all(r["cluster_id"] == 0 for r in resumed.collect())


def test_cosine_dup_pairs_bucket_cap(spark):
    """VERDICT r2: the within-bucket pair expansion must be bounded by the
    deterministic sorted-slice bucket_cap (same guard as minhash/simhash) —
    identical vectors collapse into one LSH bucket, which would otherwise go
    quadratic at corpus scale."""
    from commoncrawlnewsdataset_spark.operators.dedup import cosine_dup_pairs_blocked

    # 30 identical vectors -> one bucket, all pairs at cos=1.0
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    uncapped = cosine_dup_pairs_blocked(
        emb, threshold=0.99, n_planes=4, dim=4, bucket_cap=None
    )
    assert uncapped.count() == 30 * 29 // 2
    capped = cosine_dup_pairs_blocked(
        emb, threshold=0.99, n_planes=4, dim=4, bucket_cap=10
    )
    rows = capped.collect()
    assert len(rows) == 10 * 9 // 2
    # deterministic slice: survivors are exactly the 10 smallest ids
    assert {r["a"] for r in rows} | {r["b"] for r in rows} == set(range(10))


def test_opq_rotation_improves_pq(spark):
    """OPQ (VERDICT r2 #8): the learned rotation is orthogonal, LOWERS the
    distributed quantization error vs plain PQ on correlated data, and the
    rotated ADC search still recalls true near-neighbors."""
    from commoncrawlnewsdataset_spark.operators.opq import (
        opq_train,
        quantization_error,
        rotate,
    )
    from commoncrawlnewsdataset_spark.operators.pq import pq_encode, pq_topk, pq_train

    # correlated data: variance deliberately concentrated across the m-split
    # boundary (a random orthonormal mix of 16 dims), where contiguous-slice
    # PQ is weakest and a rotation has real work to do
    rng = np.random.default_rng(11)
    d = 16
    Q, _ = np.linalg.qr(rng.normal(size=(d, d)))
    latent = rng.normal(size=(300, d)) * np.linspace(3.0, 0.1, d)
    vecs = latent @ Q.T
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )

    R, opq_books = opq_train(df, m=4, k=8, n_iter=4, sample_size=300)
    assert np.allclose(R @ R.T, np.eye(d), atol=1e-8)  # orthogonal

    pq_books = pq_train(df, m=4, k=8, n_iter=2)
    err_pq = quantization_error(df, pq_books)
    rotated = rotate(df, R)
    err_opq = quantization_error(rotated, opq_books)
    assert err_opq <= err_pq + 1e-9, (err_opq, err_pq)

    # end-to-end rotated ADC search: encode rotated corpus, rotate the query
    codes = pq_encode(rotated, opq_books)
    qi = 7
    q_rot = [float(x) for x in (R @ vecs[qi])]
    ann = [r["vec_id"] for r in pq_topk(codes, q_rot, opq_books, k=10).collect()]
    sims = vecs @ vecs[qi] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[qi]))
    exact50 = set(np.argsort(-sims)[:50].tolist())
    assert len(set(ann) & exact50) >= 7


def test_cap_per_group_salting_invariance(spark):
    """The salted two-phase per-domain cap must equal the single-window
    result exactly (same proof as politeness_rank), and the kept set is a
    deterministic function of the key hash."""
    from pyspark.sql import Window

    from commoncrawlnewsdataset_spark.operators.sampling import cap_per_group, hash_bucket

    df = spark.createDataFrame(
        [(f"d{i % 3}", i) for i in range(500)] + [("hot", i) for i in range(500, 1500)],
        ["source", "doc_id"],
    )
    got = {
        (r["source"], r["doc_id"], r["rk"])
        for r in cap_per_group(df, "source", "doc_id", 25, nsalt=4).collect()
    }
    w = Window.partitionBy("source").orderBy(hash_bucket(F.col("doc_id")), "doc_id")
    want = {
        (r["source"], r["doc_id"], r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter("rk <= 25")
        .collect()
    }
    assert got == want
    assert sum(1 for s, _, _ in got if s == "hot") == 25


def test_dedup_store_persists_across_batches(spark, tmp_path):
    """dedup_against_store: a batch-3 duplicate of batch-1 content is dropped
    purely from the fingerprint log (old text is never rescanned), while
    genuinely new content always survives."""
    from commoncrawlnewsdataset_spark.operators.dedup import dedup_against_store

    store = str(tmp_path / "store")

    def batch(rows):
        return spark.createDataFrame(rows, ["id", "text"])

    b1 = dedup_against_store(batch([(1, "alpha beta"), (2, "alpha  BETA"), (3, "gamma")]),
                             store, "id", "text")
    assert {r["id"] for r in b1.collect()} == {1, 3}  # 2 normalizes to 1's fp
    b2 = dedup_against_store(batch([(10, "alpha beta"), (11, "delta")]), store, "id", "text")
    assert {r["id"] for r in b2.collect()} == {11}
    b3 = dedup_against_store(batch([(20, "gamma"), (21, "delta"), (22, "epsilon")]),
                             store, "id", "text")
    assert {r["id"] for r in b3.collect()} == {22}


def test_dedup_store_reads_logs_with_epoch_column(spark, tmp_path):
    """A fingerprint log written by an older version stamps each row with a
    nullable ``epoch``; appends now write ``fp`` alone.  With both layouts
    in one log, every logged fingerprint still drops its duplicate."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commoncrawlnewsdataset_spark.functions.quality import fingerprint_md5
    from commoncrawlnewsdataset_spark.operators.dedup import dedup_against_store

    store = str(tmp_path / "store")
    log = os.path.join(store, "fingerprints.parquet")
    os.makedirs(log)
    fps = [r["fp"] for r in spark.createDataFrame(
        [("alpha",), ("beta",)], "t string"
    ).select(fingerprint_md5(F.col("t")).alias("fp")).collect()]
    # one file on either side of the new appends in name order, one
    # epoch-stamped row and one null-epoch (batch) row, as older versions
    # wrote them
    for name, fp, epoch in (("0-legacy.parquet", fps[0], 3), ("z-legacy.parquet", fps[1], None)):
        pq.write_table(
            pa.table({"fp": pa.array([fp], pa.string()),
                      "epoch": pa.array([epoch], pa.int64())}),
            os.path.join(log, name),
        )

    def batch(rows):
        return spark.createDataFrame(rows, ["id", "text"])

    b1 = dedup_against_store(batch([(1, "alpha"), (2, "gamma")]), store, "id", "text")
    assert {r["id"] for r in b1.collect()} == {2}
    b2 = dedup_against_store(
        batch([(10, "ALPHA"), (11, "beta"), (12, "gamma"), (13, "delta")]),
        store, "id", "text",
    )
    assert {r["id"] for r in b2.collect()} == {13}


def test_ivf_append_incremental_index(spark, tmp_path):
    """Incremental IVF maintenance: appending new vectors to a written index
    (no rebuild) yields probes identical to a full rebuild over the union."""
    from commoncrawlnewsdataset_spark.operators.similarity import (
        ivf_append,
        ivf_probe_read,
        kmeans_refine,
        pick_centroids,
        write_ivf_index,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(400, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    old, new = df.filter("vec_id < 200"), df.filter("vec_id >= 200")
    cents = kmeans_refine(old, pick_centroids(old, 8), n_iter=2)

    inc = str(tmp_path / "inc")
    write_ivf_index(old, inc, cents)
    ivf_append(new, inc, cents)
    full = str(tmp_path / "full")
    write_ivf_index(df, full, cents)

    q = [float(x) for x in vecs[7]]
    got = [(r["vec_id"], r["score"]) for r in
           ivf_probe_read(spark, inc, q, cents, k=15, n_probe=3).collect()]
    want = [(r["vec_id"], r["score"]) for r in
            ivf_probe_read(spark, full, q, cents, k=15, n_probe=3).collect()]
    assert got == want
    # appended vectors are actually visible (some id >= 200 in the index)
    assert spark.read.parquet(inc).filter("vec_id >= 200").count() == 200


def test_count_min_guarantees(spark):
    """Count-min invariants on a skewed corpus: estimates never under-count,
    tight-width estimates are exact for the heavy keys, and heavy_hitters
    returns EVERY true heavy hitter (false positives allowed, misses not)."""
    from commoncrawlnewsdataset_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
        heavy_hitters,
    )

    # Zipf-ish: key i appears ~3000/i times for i in 1..40 plus a long tail
    rows = [(f"k{i}",) for i in range(1, 41) for _ in range(3000 // i)]
    rows += [(f"tail{j}",) for j in range(2000)]
    df = spark.createDataFrame(rows, ["key"]).repartition(16)
    n = df.count()
    exact = {r["key"]: r["c"] for r in df.groupBy("key").agg(F.count("*").alias("c")).collect()}

    sketch = count_min_build(df, "key", width=2048, depth=4)
    est = {r["key"]: r["est"] for r in count_min_estimate(
        df.select("key").distinct(), sketch, "key", width=2048, depth=4).collect()}
    assert est.keys() == exact.keys()
    assert all(est[k] >= exact[k] for k in exact)          # never under-counts
    # grid is bounded regardless of cardinality
    assert sketch.count() <= 2048 * 4

    hh = {r["key"] for r in heavy_hitters(df, "key", k=50, width=2048, depth=4).collect()}
    thr = max(1, n // 50)
    true_hh = {k for k, c in exact.items() if c >= thr}
    assert true_hh <= hh                                   # no missed heavy hitter
    # false-positive mass is bounded: the candidate set stays far below |keys|
    assert len(hh) < len(exact) // 4


def test_count_min_unseen_key_estimates_zero(spark):
    """ADVICE r3: a key absent from the build stream must estimate 0 — the
    old inner join excluded its zero cells from the min (over-estimating
    from colliding cells) and dropped keys whose cells were ALL absent."""
    from commoncrawlnewsdataset_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
    )

    df = spark.createDataFrame([("a",)] * 5 + [("b",)] * 3, ["key"])
    # narrow width forces real collisions so absent-cell handling matters
    sketch = count_min_build(df, "key", width=4, depth=4)
    probe = spark.createDataFrame([("a",), ("b",), ("never1",), ("never2",)], ["key"])
    est = {r["key"]: r["est"] for r in
           count_min_estimate(probe, sketch, "key", width=4, depth=4).collect()}
    assert set(est) == {"a", "b", "never1", "never2"}  # no key vanishes
    assert est["a"] >= 5 and est["b"] >= 3             # never under-counts
    # an unseen key's estimate is exact 0 UNLESS every one of its cells
    # collides; with width=4 that can happen, so assert the contract on a
    # wide grid where collisions are impossible for 2 build keys
    wide = count_min_build(df, "key", width=4096, depth=4)
    est_w = {r["key"]: r["est"] for r in
             count_min_estimate(probe, wide, "key", width=4096, depth=4).collect()}
    assert est_w == {"a": 5, "b": 3, "never1": 0, "never2": 0}


def test_heavy_hitters_candidates_are_mapside(spark):
    """VERDICT r3 #1 plan lock: candidate generation must be a map-side
    mapInPandas directly over the scan — no full-key-cardinality Exchange
    may precede estimation (the old distinct-over-all-keys cost the same
    shuffle as an exact groupBy and defeated the sketch)."""
    from commoncrawlnewsdataset_spark.operators.sketch import heavy_hitters

    df = spark.range(0, 10000, 1, 8).select(
        F.when(F.col("id") < 3000, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 37).cast("string")))
        .alias("key")
    )
    out = heavy_hitters(df, "key", k=10, width=2048, depth=4, debug_plan=True)
    # the candidate stage is eagerly checkpointed inside heavy_hitters (so
    # the imbalance retry can catch executor errors); its plan is captured
    # at build time (debug_plan) for exactly this lock
    plan = out._hh_candidate_plan
    lines = plan.splitlines()
    mip = next(i for i, l in enumerate(lines) if "MapInPandas" in l)
    # walk the MapInPandas subtree down to its scan: no Exchange in between
    for line in lines[mip + 1:]:
        if "Scan" in line or "Range" in line:
            break
        assert "Exchange" not in line, (
            "full-cardinality shuffle before candidate generation:\n" + plan
        )
    # and the result is still correct: every true heavy hitter is present
    exact = {r["key"]: r["c"] for r in
             df.groupBy("key").agg(F.count("*").alias("c")).collect()}
    thr = max(1, 10000 // 10)
    true_hh = {k for k, c in exact.items() if c >= thr}
    assert true_hh == {"hot"}  # the fixture really has a heavy hitter
    got = {r["key"] for r in out.collect()}
    assert true_hh <= got


def test_dup_clusters_resume_final_round_converged(spark, tmp_path):
    """ADVICE r3: resuming when the newest committed spill IS the final
    round (start >= max_iter) must not raise 'did not converge' if the
    spilled labels already converged — convergence is re-checked (or read
    from the durable _CONVERGED marker) on resume."""
    import os

    from commoncrawlnewsdataset_spark.operators.dedup import dup_clusters

    nodes = spark.range(8)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(7)], "a long, b long")
    ckpt = str(tmp_path / "cc")
    out = dup_clusters(nodes, pairs, max_iter=10, checkpoint_dir=ckpt,
                       checkpoint_every=1)
    assert all(r["cluster_id"] == 0 for r in out.collect())
    assert os.path.exists(os.path.join(ckpt, "_CONVERGED"))

    newest = max(int(d.split("=")[1]) for d in os.listdir(ckpt)
                 if d.startswith("round="))
    # marker path: resume with max_iter == newest committed round -> loop
    # body can never run; must return converged labels, not raise
    out2 = dup_clusters(nodes, pairs, max_iter=newest, checkpoint_dir=ckpt,
                        checkpoint_every=1)
    assert all(r["cluster_id"] == 0 for r in out2.collect())
    # re-check path: same resume with the marker deleted -> one changed-count
    # job must detect convergence from the labels themselves
    os.remove(os.path.join(ckpt, "_CONVERGED"))
    out3 = dup_clusters(nodes, pairs, max_iter=newest, checkpoint_dir=ckpt,
                        checkpoint_every=1)
    assert all(r["cluster_id"] == 0 for r in out3.collect())


def test_dup_clusters_marker_implies_final_spill(spark, tmp_path):
    """ADVICE r4 (high): convergence at a NON-spill round must still commit
    the final labels before writing _CONVERGED — otherwise a resume reads
    the stale pre-convergence spill, sees the marker, skips the loop, and
    returns wrong cluster ids.  checkpoint_every=5 on a chain that needs >5
    pointer-doubling rounds forces convergence off the spill cadence."""
    import os

    from commoncrawlnewsdataset_spark.operators.dedup import dup_clusters

    n = 40  # path graph: needs ~log2(40)+1 ≈ 7 rounds, not a multiple of 5
    nodes = spark.range(n)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    ckpt = str(tmp_path / "cc5")
    out = dup_clusters(nodes, pairs, max_iter=25, checkpoint_dir=ckpt,
                       checkpoint_every=5)
    assert all(r["cluster_id"] == 0 for r in out.collect())
    assert os.path.exists(os.path.join(ckpt, "_CONVERGED"))
    # the newest committed spill must itself hold the FINAL labels
    newest = max(int(d.split("=")[1]) for d in os.listdir(ckpt)
                 if d.startswith("round="))
    spilled = spark.read.parquet(os.path.join(ckpt, f"round={newest:05d}"))
    assert all(r["lbl"] == 0 for r in spilled.collect())
    # resume-with-marker path returns those (now-correct) labels
    out2 = dup_clusters(nodes, pairs, max_iter=25, checkpoint_dir=ckpt,
                        checkpoint_every=5)
    assert all(r["cluster_id"] == 0 for r in out2.collect())


def test_decontaminate_partitions_training_set(spark):
    """decontaminate == train minus contamination_hits: flagged + surviving
    ids partition the training set, eval docs themselves are never flagged,
    and a doc sharing no shingle with the eval set always survives."""
    from commoncrawlnewsdataset_spark.operators.dedup import (
        contamination_hits,
        decontaminate,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),   # eval
        (1, "completely unrelated text about spark engines"),  # eval
        (10, "a doc quoting the quick brown fox verbatim"),    # contaminated
        (11, "spark engines are discussed here differently"),  # clean (no trigram match)
        (12, "nothing in common with anything at all here"),   # clean
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = docs.filter(F.col("doc_id") < 10)
    train = docs.filter(F.col("doc_id") >= 10)
    flagged = {r["id"] for r in contamination_hits(train, ev, "doc_id", "text").collect()}
    surviving = {r["doc_id"] for r in decontaminate(train, ev, "doc_id", "text").collect()}
    assert flagged == {10}
    assert surviving == {11, 12}
    assert flagged | surviving == {10, 11, 12} and not flagged & surviving


def test_heavy_hitters_bounded_space_eviction_path(spark):
    """The Misra-Gries candidate summary must keep its no-missed-heavy-hitter
    guarantee THROUGH evictions: a single partition with far more distinct
    keys than the capacity (forcing the batch-decrement path) still returns
    the true heavy hitter."""
    from commoncrawlnewsdataset_spark.operators.sketch import heavy_hitters

    # 6000 distinct tail keys + one hot key with half the mass, 1 partition:
    # capacity = max(1024, 32*2) = 1024 << 6001 distinct -> evictions happen
    df = spark.range(0, 12000, 1, 1).select(
        F.when(F.col("id") < 6000, F.lit("hot"))
        .otherwise(F.concat(F.lit("t"), F.col("id").cast("string")))
        .alias("key")
    )
    out = heavy_hitters(df, "key", k=2, width=4096, depth=4)
    got = {r["key"]: r["est"] for r in out.collect()}
    assert "hot" in got and got["hot"] >= 6000


def test_heavy_hitters_imbalance_auto_retry(spark):
    """VERDICT r4 #8: a pathologically imbalanced partitioning (all mass
    hashed into one of 64 planned partitions, with enough moderate-count
    distinct keys that the Misra-Gries decrement reaches the local bar)
    must NOT fail — one automatic round-robin repartition retry balances
    the mass and the true heavy hitter still comes out."""
    import pytest

    from commoncrawlnewsdataset_spark.operators.sketch import heavy_hitters

    # 10k 'hot' rows + 2000 tail keys x 25 rows, all hashed to ONE of 64
    # partitions (constant partition key).  In that packed partition the MG
    # eviction delta is 25 per overflow and the decrement crosses
    # local_thr = (60000//20)//(2*64) = 23 -> executor RuntimeError ->
    # retry on round-robin balance, where per-partition mass ~60000/64 is
    # under the 1024-entry capacity (no eviction at all).
    df = spark.range(0, 60000, 1, 8).select(
        F.when(F.col("id") < 10000, F.lit("hot"))
        .otherwise(F.concat(F.lit("t"), (F.col("id") / 25).cast("long").cast("string")))
        .alias("key")
    ).repartition(64, F.lit(0))
    with pytest.warns(RuntimeWarning, match="imbalance"):
        out = heavy_hitters(df, "key", k=20, width=4096, depth=4)
    got = {r["key"] for r in out.collect()}
    assert "hot" in got


def test_heavy_hitters_null_keys_counted(spark):
    """ADVICE r4: a NULL key frequent enough to be a heavy hitter must
    survive candidate generation (value_counts(dropna=False)) — under the
    xxhash64 family NULLs hash consistently, so the estimate is real; and
    confirm='exact' must carry the NULL through its null-safe joins."""
    from commoncrawlnewsdataset_spark.operators.sketch import heavy_hitters

    df = spark.range(0, 8000, 1, 4).select(
        F.when(F.col("id") < 4000, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 97).cast("string")))
        .alias("key")
    )
    got = {r["key"]: r["est"] for r in
           heavy_hitters(df, "key", k=2, width=4096, depth=4).collect()}
    assert None in got and got[None] >= 4000
    exact = {r["key"]: r["cnt"] for r in heavy_hitters(
        df, "key", k=2, width=4096, depth=4, confirm="exact").collect()}
    assert exact == {None: 4000}


def test_heavy_hitters_exact_confirm_is_deterministic(spark):
    """confirm='exact' output == exactly the true heavy set with exact
    counts, for both hash families, regardless of partitioning."""
    from commoncrawlnewsdataset_spark.operators.sketch import heavy_hitters

    for nparts in (1, 16):
        df = spark.range(0, 20000, 1, nparts).select(
            F.when(F.col("id") < 5000, F.lit("a"))
            .when(F.col("id") < 9000, F.lit("b"))
            .otherwise(F.concat(F.lit("t"), (F.col("id") % 211).cast("string")))
            .alias("key")
        )
        for hasher in ("xxhash64", "md5"):
            rows = heavy_hitters(df, "key", k=5, width=4096, depth=4,
                                 hasher=hasher, confirm="exact").collect()
            got = {r["key"]: (r["est"], r["cnt"], r["threshold"]) for r in rows}
            assert set(got) == {"a", "b"}, (hasher, nparts)
            assert got["a"][1] == 5000 and got["b"][1] == 4000
            for est, cnt, thr in got.values():
                assert est >= cnt and thr == 4000


def test_hash_split_partitions_disjoint_and_stable(spark):
    """hash_split: every row gets exactly one label; proportions track the
    fractions; the assignment is invariant under repartitioning (the whole
    point vs randomSplit); fractions not summing to 1 fail loud."""
    import pytest

    from commoncrawlnewsdataset_spark.operators.sampling import hash_split

    df = spark.range(20000).selectExpr("id AS k")
    fr = {"train": 0.9, "val": 0.05, "test": 0.05}
    out = hash_split(df, "k", fr)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == set(fr) and sum(counts.values()) == 20000
    for name, f in fr.items():
        assert abs(counts[name] / 20000 - f) < 0.02, (name, counts)
    # stability: a different partitioning yields the identical assignment
    a = {(r["k"], r["split"]) for r in out.collect()}
    b = {(r["k"], r["split"]) for r in
         hash_split(df.repartition(17), "k", fr).collect()}
    assert a == b
    with pytest.raises(ValueError):
        hash_split(df, "k", {"train": 0.5, "val": 0.1})


def test_mixture_sample_realizes_weights(spark):
    """mixture_sample: per-stratum sampled mass approximates weight*budget,
    clamps at availability (rate 1 keeps everything), and unlisted strata
    drop; rates are reproducible pure functions of the aggregate."""
    from commoncrawlnewsdataset_spark.operators.sampling import (
        mixture_rates,
        mixture_sample,
    )

    df = spark.range(30000).selectExpr(
        "id AS k",
        "CASE WHEN id % 10 < 6 THEN 'web' WHEN id % 10 < 9 THEN 'code' "
        "ELSE 'wiki' END AS src",
        "10 + id % 7 AS toks",
    )
    weights = {"web": 0.5, "code": 0.2, "wiki": 0.3}
    budget = 150_000  # wiki target 45k > ~39k available -> clamp to rate 1
    rates = mixture_rates(df, "src", weights, budget, size_col="toks")
    assert rates["wiki"] == 1.0
    assert 0 < rates["web"] < 1 and 0 < rates["code"] < 1
    out = mixture_sample(df, "src", "k", weights, budget, size_col="toks")
    got = {r["src"]: r["t"] for r in
           out.groupBy("src").agg(F.sum("toks").alias("t")).collect()}
    avail_wiki = df.filter("src = 'wiki'").agg(F.sum("toks")).first()[0]
    assert got["wiki"] == avail_wiki                  # clamped: all kept
    for s in ("web", "code"):
        target = weights[s] * budget
        assert abs(got[s] - target) / target < 0.1, (s, got[s], target)
    # a stratum without a weight is dropped entirely
    out2 = mixture_sample(df, "src", "k", {"web": 1.0}, 10_000, size_col="toks")
    assert out2.filter("src != 'web'").count() == 0


def test_pair_generators_hot_bucket_bounded(spark):
    """VERDICT r5 #1: a pathological hot bucket (50k identical docs in ONE
    LSH bucket at cap 200) must not materialize an O(bucket) array in any
    aggregation buffer.  Checks (a) the exact old sorted-slice semantics are
    preserved — pairs are exactly C(200,2) over the 200 smallest ids — and
    (b) the plan ranks BEFORE collecting: the collect_list aggregate sits
    above a row_number window + rank filter, so every collected array is
    <= cap by construction."""
    import contextlib
    import io

    n, cap = 50_000, 200
    df = spark.range(n).selectExpr("id AS doc_id", "'alpha beta gamma delta' AS text")
    pairs_df = D.minhash_lsh_pairs(df, "doc_id", "text", 8, 4, k=2, bucket_cap=cap)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs_df.explain("formatted")
    plan = buf.getvalue()
    # Window(row_number) + Filter(_rn <= cap) below the collect_list, AND
    # Spark's WindowGroupLimit pushdown runs a Partial limit map-side, so at
    # most `cap` rows per (band, bucket) per mapper ever enter the shuffle.
    assert "collect_list" in plan
    assert f"row_number(), {cap}, Partial" in plan
    assert f"<= {cap})" in plan  # Condition : (_rn#N <= cap)

    pairs = pairs_df.collect()
    ids = set()
    for r in pairs:
        assert r["a"] < r["b"] < cap  # survivors are the cap smallest ids
        ids.add(r["a"]); ids.add(r["b"])
    assert len(pairs) == cap * (cap - 1) // 2
    assert ids == set(range(cap))


def test_jaccard_hot_shingle_exact_with_counts_first(spark):
    """The hot-branch split must stay EXACT under the counts-first rewrite:
    250 docs all share one hot token (postings > shingle_cap, so it never
    enters a collected array); each even/odd pair also shares a rare token
    and differs in one unique token.  inter = 1 nonhot (rare) + 1 hot
    (common) = 2, union = 4 -> jaccard 0.5 for every adjacent pair; cross
    pairs share ONLY the hot token so they are never candidates."""
    rows = [(i, f"common rare{i // 2} uniq{i}") for i in range(250)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = D.ngram_jaccard_pairs(df, "doc_id", "text", k=1, threshold=0.5, shingle_cap=100)
    got = {(r["a"], r["b"]): r["jaccard"] for r in out.collect()}
    expect = {(2 * i, 2 * i + 1): 0.5 for i in range(125)}
    assert got == expect


def test_pair_generators_repartition_invariant(spark):
    """VERDICT r5 #6: the pair set of every dedup generator is a pure
    function of the data, independent of input partitioning — the property
    the DuckDB oracles rely on, and the regression net for any bounded-
    buffer rework.  All three partitionings are compared INSIDE one test:
    the earlier parametrized version shared its expectation via a function
    attribute, which is vacuous under pytest-xdist / -k selection (r6
    review finding)."""
    base = [
        (i, f"the quick brown fox jumps over dog {i % 7} and cat {i % 5}")
        for i in range(40)
    ] + [(100 + i, f"completely unrelated text number {i} with words") for i in range(20)]

    def pair_sets(parts):
        df = spark.createDataFrame(base, ["doc_id", "text"]).repartition(parts)
        mh = sorted((r["a"], r["b"]) for r in D.minhash_lsh_pairs(df, "doc_id", "text", 8, 4, k=2, bucket_cap=10).collect())
        sh = sorted((r["a"], r["b"], r["hamming"]) for r in D.simhash_hamming_pairs(df, "doc_id", "text", bits=16, max_hamming=3, bucket_cap=10).collect())
        jc = sorted((r["a"], r["b"], r["jaccard"]) for r in D.ngram_jaccard_pairs(df, "doc_id", "text", k=2, threshold=0.3, shingle_cap=15).collect())
        return (tuple(mh), tuple(sh), tuple(jc))

    one = pair_sets(1)
    assert len(one[0]) > 0 and len(one[2]) > 0  # non-vacuous
    assert pair_sets(8) == one
    assert pair_sets(64) == one
