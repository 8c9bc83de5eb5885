"""Derived LSH band width (r3 verdict ask #2): width_for sizing math,
chunk-packed band keys vs the legacy packed-signature slicing, and the
production default (plane_matrix=None) producing a usable index."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from healthcare_aws_data_engineering_spark.operators.semdedup import knn_graph
from healthcare_aws_data_engineering_spark.operators.similarity import (
    band_keys_from_chunks,
    derive_planes,
    embedding_near_dup,
    hyperplane_signature_q,
    kmeans_centroids,
    quantize_vec,
    rademacher_planes,
    sig_chunks_q,
    width_for,
)

SF_DIR = "/root/testdata/sf0.001"


# ----------------------------------------------------------- width_for math


def test_width_for_targets_expected_bucket_size():
    # expected bucket population n / 2^width must land in (target/2, target]
    for n in (500, 10_000, 2_000_000, 10**10):
        w = width_for(n, target_bucket=200)
        assert n / 2**w <= 200
        assert n / 2 ** (w - 1) > 200 or w == 1
    # the verdict's cited endpoints
    assert width_for(10**10, 200) == 26
    assert width_for(60_000, 200) == math.ceil(math.log2(300))


def test_width_for_small_corpus_floor():
    assert width_for(10, 200) == 1
    assert width_for(200, 200) == 1
    assert width_for(0, 200) == 1


# ---------------------------------------------- chunk packing == legacy sig


def test_band_keys_match_packed_signature_slicing(spark):
    """For ≤63 planes the chunked keys must equal slicing the legacy
    packed 64-bit signature — same buckets, so every driver oracle that
    bakes the banding into SQL stays valid."""
    planes = rademacher_planes(16, 64)
    bands, width = 8, 2
    embs = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .limit(100)
        .select("vec_id", quantize_vec(F.col("embedding")).alias("__q"))
    )
    rows = embs.select(
        "vec_id",
        sig_chunks_q(F.col("__q"), planes, width).alias("__sigc"),
        hyperplane_signature_q(F.col("__q"), planes).alias("__sig"),
    ).select(
        "vec_id",
        band_keys_from_chunks(F.col("__sigc"), width, bands).alias("keys"),
        F.array(
            *[
                F.shiftrightunsigned(F.col("__sig"), b * width).bitwiseAND(
                    (1 << width) - 1
                )
                for b in range(bands)
            ]
        ).alias("legacy"),
    ).collect()
    assert rows
    for r in rows:
        assert list(r["keys"]) == list(r["legacy"])


def test_band_keys_wide_matrix_beyond_64_planes(spark):
    """Derived widths at corpus scale exceed the 64-plane packed-long
    ceiling (width 26 × 4 bands = 104 planes); the chunked path must
    produce in-range, band-complete keys there."""
    bands, width = 4, 26
    planes = rademacher_planes(bands * width, 64)
    embs = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .limit(50)
        .select("vec_id", quantize_vec(F.col("embedding")).alias("__q"))
    )
    rows = embs.select(
        "vec_id",
        sig_chunks_q(F.col("__q"), planes, width).alias("__sigc"),
    ).select(
        "vec_id",
        band_keys_from_chunks(F.col("__sigc"), width, bands).alias("keys"),
    ).collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r["keys"]) == bands
        for k in r["keys"]:
            assert 0 <= k < (1 << width)
    # identical vectors -> identical keys; the clone of row 0 agrees
    first = rows[0]
    again = (
        embs.filter(F.col("vec_id") == first["vec_id"])
        .select(
            band_keys_from_chunks(
                sig_chunks_q(F.col("__q"), planes, width), width, bands
            ).alias("keys")
        )
        .first()
    )
    assert list(again["keys"]) == list(first["keys"])


# -------------------------------------------------- derived-width defaults


def test_derive_planes_shape(spark):
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = embs.count()
    pm = derive_planes(embs, bands=4, target_bucket=50)
    w = width_for(n, 50)
    assert len(pm) == 4 * w
    assert all(len(row) == 64 for row in pm)
    assert all(c in (-1, 1) for row in pm for c in row)


def test_knn_graph_derived_width_finds_clones(spark):
    """plane_matrix=None (production default) must still put an exact
    clone at rank 1 — derived width can shrink buckets but identical
    vectors share every band key."""
    base = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    clones = base.limit(5).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(clones)
    g = knn_graph(corpus, k=3, bands=4).collect()
    assert g, "derived-width graph must be non-empty"
    top = {r["vec_id"]: r for r in g if r["rank"] == 1}
    for r in base.limit(5).collect():
        vid = r["vec_id"]
        assert top[vid]["neighbor_id"] == vid + 10_000
        assert top[vid]["cosine"] == pytest.approx(1.0, abs=1e-9)


def test_embedding_near_dup_derived_width_finds_clones(spark):
    base = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    clones = base.limit(5).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(clones)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in embedding_near_dup(corpus, threshold=0.99, bands=8).collect()
    }
    for vid in range(5):
        assert (vid, vid + 10_000) in pairs


# ------------------------------------------- derived bands / cells (r5)


def test_bands_for_monotone_and_endpoints():
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        bands_for,
    )

    # near-dup design point stays cheap as width grows with corpus size
    assert bands_for(4, design_cos=0.9, target_recall=0.8) == 3
    assert bands_for(26, design_cos=0.9, target_recall=0.8) <= 100
    # band count is non-decreasing in width and in target recall
    prev = 0
    for w in range(1, 27):
        b = bands_for(w, design_cos=0.9, target_recall=0.8)
        assert b >= prev
        prev = b
    assert bands_for(7, 0.9, 0.95) >= bands_for(7, 0.9, 0.8)
    # weaker design similarity needs more bands at equal width
    assert bands_for(7, 0.5, 0.8) > bands_for(7, 0.9, 0.8)
    # the resulting geometry actually delivers the designed recall;
    # design points past the _MAX_BANDS guard raise instead (0.5 at
    # width 26 would need ~61k bands — see
    # test_bands_for_degenerate_design_fails_loudly)
    for w in (4, 9, 26):
        for cos_d in (0.5, 0.9):
            if cos_d == 0.5 and w == 26:
                continue
            b = bands_for(w, cos_d, 0.8)
            p = 1 - math.acos(cos_d) / math.pi
            assert 1 - (1 - p**w) ** b >= 0.8


def test_derive_index_geometry(spark):
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        bands_for,
        derive_index,
    )

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = embs.count()
    pm, w, b = derive_index(embs, target_bucket=50, design_cos=0.9)
    assert w == width_for(n, 50)
    assert b == bands_for(w, 0.9, 0.8)
    assert len(pm) == w * b
    assert all(len(row) == 64 for row in pm)


def test_explicit_matrix_requires_bands(spark):
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(10)
    pm = rademacher_planes(16, 64)
    with pytest.raises(ValueError, match="explicit bands"):
        embedding_near_dup(embs, plane_matrix=pm).collect()


def test_cells_for_and_semantic_dedup_derived(spark):
    from healthcare_aws_data_engineering_spark.operators.semdedup import (
        semantic_dedup,
    )
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        cells_for,
    )

    assert cells_for(100) == 1
    assert cells_for(2000) == 10
    assert cells_for(10**10) == 50_000_000
    # derived-cells path: clones must still be caught (same cell — the
    # assignment is deterministic in the vector), output covers corpus
    base = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    clones = base.limit(5).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(clones)
    out = semantic_dedup(corpus, None, threshold=0.99).collect()
    assert len(out) == 45
    dropped = {r["vec_id"]: r["kept_by"] for r in out if r["keep"] == 0}
    for vid in range(5):
        assert dropped.get(vid + 10_000) == vid
    # int form pins the cell count explicitly
    out2 = semantic_dedup(corpus, 3, threshold=0.99).collect()
    assert len({r["cluster"] for r in out2}) <= 3


# ------------------------------------------------- multi-probe (r5)


def test_bands_for_hamming1_needs_fewer_bands():
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        bands_for,
    )

    for w in (4, 7, 9, 26):
        for cos_d in (0.5, 0.9):
            if cos_d == 0.5 and w == 26:
                continue  # past the _MAX_BANDS guard even probed: raises
            plain = bands_for(w, cos_d, 0.8)
            probed = bands_for(w, cos_d, 0.8, hamming1=True)
            assert probed <= plain
            # the probed geometry still delivers the designed recall
            p = 1 - math.acos(cos_d) / math.pi
            q = p**w + w * p ** (w - 1) * (1 - p)
            assert 1 - (1 - q) ** probed >= 0.8


def test_lsh_topk_multiprobe_superset_and_recall(spark):
    """Hamming-1 probing must (a) return a candidate superset of the
    plain run on the SAME index, hence per-query recall >= plain, and
    (b) keep exact clones at rank 1."""
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
    )

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = embs.filter(F.col("vec_id") < 3)
    pm = rademacher_planes(16, 64)  # 2 bands x 8 bits: selective index
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(embs, q, k=5).collect()
    }
    plain = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(embs, q, k=5, bands=2, plane_matrix=pm).collect()
    }
    probed = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(
            embs, q, k=5, bands=2, plane_matrix=pm, multiprobe=True
        ).collect()
    }
    assert len(probed & exact) >= len(plain & exact)
    # deterministic (literal md5 planes, fixed corpus): theory predicts
    # ~0.27 probed vs ~0.05 plain recall at this corpus' weak top-5
    # similarities (p ~= 0.63, w=8, 2 bands); measured 4/15 vs <=1/15
    assert len(probed & exact) >= 3
    assert len(probed) >= len(plain)


def test_semantic_dedup_kmeans_centroids(spark):
    from healthcare_aws_data_engineering_spark.operators.semdedup import (
        semantic_dedup,
    )

    base = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    clones = base.limit(5).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(clones)
    out = semantic_dedup(
        corpus, kmeans_centroids(corpus, 3), threshold=0.99
    ).collect()
    assert len(out) == 45
    dropped = {r["vec_id"]: r["kept_by"] for r in out if r["keep"] == 0}
    for vid in range(5):
        assert dropped.get(vid + 10_000) == vid


def test_null_embeddings_are_not_index_members(spark):
    """A NULL embedding must vanish from every vector operator's output
    — before r5 it signed to the all-zero signature (NULL plane dot →
    CASE else-0 bit), landed in a REAL bucket, and emitted candidate
    rows with NULL cosine."""
    from healthcare_aws_data_engineering_spark.operators.semdedup import (
        semantic_dedup,
    )
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
    )

    base = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(20)
    )
    nulled = base.unionByName(
        spark.createDataFrame(
            [(99_999, None)], "vec_id long, embedding array<float>"
        )
    )
    g = knn_graph(nulled, k=2, bands=4)
    assert g.filter(
        (F.col("vec_id") == 99_999) | (F.col("neighbor_id") == 99_999)
    ).count() == 0
    assert g.filter(F.col("cosine").isNull()).count() == 0
    nd = embedding_near_dup(nulled, threshold=0.5, bands=8)
    assert nd.filter(
        (F.col("doc_a") == 99_999) | (F.col("doc_b") == 99_999)
    ).count() == 0
    sd = semantic_dedup(nulled, 2, threshold=0.99)
    assert sd.count() == 20  # null row not a member, not silently kept
    topk = lsh_topk(nulled, nulled.filter(F.col("vec_id") < 2), k=3, bands=4)
    assert topk.filter(F.col("neighbor_id") == 99_999).count() == 0
    ct = cosine_topk(nulled, nulled.filter(F.col("vec_id") < 2), k=3)
    assert ct.filter(F.col("sim").isNull()).count() == 0


def test_ivf_topk_derived_cells(spark):
    """n_centroids=None derives the cell count from the corpus
    (cells_for) — and full-corpus probing of the derived index still
    puts an exact clone at rank 1."""
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        cells_for,
        ivf_topk,
    )

    base = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    clones = base.limit(5).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(clones)
    q = base.limit(5)
    n_cells = cells_for(45, 200)
    assert n_cells == 1  # tiny corpus -> single cell, still correct
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(corpus, q, k=1, n_probe=1).collect()
    }
    for r in q.collect():
        assert got[r["vec_id"]] == r["vec_id"] + 10_000
    # target_cell drives the derived count
    assert cells_for(45, 10) == 5


def test_bands_for_degenerate_design_fails_loudly():
    """r5 advisor pin: a weak design_cos at a corpus-derived width
    (0.5 at width 26 -> per-band ~1.5e-8 -> tens of millions of bands)
    must raise, not hand derive_index a million-row plane matrix to
    materialize on the driver. Realistic designs stay far under the
    guard; hamming1 multi-probe rescues moderately weak ones."""
    import pytest as _pytest

    from healthcare_aws_data_engineering_spark.operators.similarity import (
        bands_for,
    )

    with _pytest.raises(ValueError, match="band guard"):
        bands_for(26, design_cos=0.5)
    # design-point sanity: the guard is far above every realistic design
    assert bands_for(26, design_cos=0.9) <= 100
    assert bands_for(9, design_cos=0.9) <= 10
    # hamming1 multiprobe keeps moderately-weak designs under the guard
    assert bands_for(12, design_cos=0.75, hamming1=True) <= 512


# ------------------------------------------- arrow form == expression twin


def test_sig_chunks_arrow_matches_expression_twin(spark):
    """The default Arrow signature stage (r15: one int64 matmul per
    batch) must produce bit-identical packed chunks to the pure-HOF
    expression form it replaced — including a >63-plane multi-chunk
    geometry, where the chunk boundaries must land identically."""
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        sig_chunks_q_expr,
    )

    for n_planes, width in ((16, 4), (104, 26)):
        planes = rademacher_planes(n_planes, 64)
        embs = (
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .limit(200)
            .select("vec_id", quantize_vec(F.col("embedding")).alias("__q"))
        )
        rows = embs.select(
            "vec_id",
            sig_chunks_q(F.col("__q"), planes, width).alias("arrow"),
            sig_chunks_q_expr(F.col("__q"), planes, width).alias("expr"),
        ).collect()
        assert rows, "empty comparison"
        for r in rows:
            assert list(r["arrow"]) == list(r["expr"]), (
                n_planes,
                width,
                r["vec_id"],
            )
