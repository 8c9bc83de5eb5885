"""Multimodal operator tests.

Two codec legs (r8): the deterministic md5-fake stub (schemas, meta
propagation, Arrow batch plumbing, 1→N frame fan-out, early binary-drop,
stub determinism) AND the real-bytes leg — pure-Python PPM/BMP/WAV
codecs, the JVM-expression container encoder pinned byte-for-byte
against them, and the decode stage that recovers payloads from real
headers/padding/row order.
"""

from __future__ import annotations

import hashlib
import struct

import pytest
from pyspark.sql import Row

from healthcare_aws_data_engineering_spark.operators import media_codecs as C
from healthcare_aws_data_engineering_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=f"document body {i} " * (i + 1), lang="en",
                source="s", n_chars=0)
            for i in range(9)
        ]
    )
    return M.media_from_documents(docs)


def test_media_schema(media):
    # simpleString: equality up to nullability flags
    assert media.schema.simpleString() == M.MEDIA_SCHEMA.simpleString()
    kinds = {r.media_id % 3: r.kind for r in media.collect()}
    assert kinds == {0: "image", 1: "audio", 2: "video"}


def test_media_features_shape_and_determinism(spark, media):
    out = M.media_features(media, dim=16)
    assert "content" not in out.columns  # binary dropped before downstream
    rows1 = {r.media_id: r.features for r in out.collect()}
    rows2 = {r.media_id: r.features for r in M.media_features(media, dim=16).collect()}
    assert rows1 == rows2  # stub codec is deterministic
    for v in rows1.values():
        assert len(v) == 16 and all(0.0 <= x < 1.0 for x in v)
    # meta survives the mapInPandas round-trip
    metas = {r.media_id: r.meta for r in out.collect()}
    assert metas[0].sample_rate == 16000


def test_decode_real_rejects_unknown_container():
    # the real decode reads PPM/BMP/WAV; anything needing an external
    # codec library (or garbage) is a ValueError, not a wrong answer
    with pytest.raises(ValueError, match="unsupported container"):
        C.decode_media(b"\xff\xd8\xff\xe0jpeg")
    with pytest.raises(ValueError, match="empty"):
        C.decode_media(b"")


# ---------------------------------------------------------------------------
# real codecs (r8): pure-Python round trips
# ---------------------------------------------------------------------------


def _pattern(n: int) -> bytes:
    return bytes(i * 7 % 256 for i in range(n))


@pytest.mark.parametrize("w,h", [(4, 4), (5, 3), (6, 2), (7, 5)])  # pads 0..3
def test_ppm_and_bmp_round_trip_all_pad_residues(w, h):
    rgb = _pattern(w * h * 3)
    for enc, fmt in [(C.encode_ppm, "ppm"), (C.encode_bmp, "bmp")]:
        d = C.decode_media(enc(w, h, rgb))
        assert (d.format, d.width, d.height) == (fmt, w, h)
        assert d.payload == rgb  # BMP: un-padded AND flipped back top-down


def test_bmp_storage_is_really_bottom_up_and_padded():
    w, h = 5, 2  # row 15 bytes → 1 pad byte
    rgb = _pattern(w * h * 3)
    data = C.encode_bmp(w, h, rgb)
    assert data[54:54 + 15] == rgb[15:30]  # first stored row = LAST logical row
    assert data[54 + 15] == 0  # the pad byte
    assert len(data) == 54 + 16 * h


def test_bmp_negative_height_topdown():
    w, h = 4, 3
    rgb = _pattern(w * h * 3)
    data = bytearray(C.encode_bmp(w, h, rgb))
    # rewrite height as -h (top-down) and re-order rows to match
    struct.pack_into("<i", data, 22, -h)
    row = w * 3
    rows = [rgb[r * row:(r + 1) * row] for r in range(h)]
    data[54:] = b"".join(rows)  # stored top-down, no pad needed (row%4==0)
    d = C.decode_bmp(bytes(data))
    assert d.height == h and d.payload == rgb


def test_ppm_header_comments_and_whitespace():
    rgb = _pattern(2 * 2 * 3)
    data = b"P6\n# a comment\n 2\t2 \n255\n" + rgb
    d = C.decode_ppm(data)
    assert (d.width, d.height, d.payload) == (2, 2, rgb)


def test_wav_round_trip_and_chunk_walk():
    pcm = _pattern(200)
    d = C.decode_media(C.encode_wav(16000, pcm))
    assert (d.format, d.sample_rate, d.payload) == ("wav", 16000, pcm)
    # an unknown odd-sized chunk before 'data' must be word-align skipped
    extra = struct.pack("<4sI", b"LIST", 3) + b"abc" + b"\x00"
    raw = C.encode_wav(8000, pcm)
    raw = raw[:12] + extra + raw[12:]
    d2 = C.decode_wav(raw)
    assert d2.sample_rate == 8000 and d2.payload == pcm


def test_codec_rejections():
    with pytest.raises(ValueError, match="only 8-bit"):
        C.decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)
    with pytest.raises(ValueError, match="truncated"):
        C.decode_ppm(b"P6\n4 4\n255\n" + b"\x00" * 5)
    with pytest.raises(ValueError, match="24-bpp"):
        # flip bpp to 8 in a valid header
        data = bytearray(C.encode_bmp(4, 4, _pattern(48)))
        struct.pack_into("<H", data, 28, 8)
        C.decode_bmp(bytes(data))
    with pytest.raises(ValueError, match="PCM16 mono"):
        data = bytearray(C.encode_wav(8000, _pattern(8)))
        struct.pack_into("<H", data, 22, 2)  # stereo
        C.decode_wav(bytes(data))


# ---------------------------------------------------------------------------
# real leg through Spark: JVM encoder ≡ Python encoders, decode stage
# ---------------------------------------------------------------------------


def _payload_chain(text: str, n: int) -> bytes:
    out, b = b"", 0
    while len(out) < n:
        out += hashlib.md5((text + f"#px:{b}").encode()).digest()
        b += 1
    return out[:n]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=i, text=f"document body {i} " * (i + 1), lang="en",
                source="s", n_chars=0)
            for i in range(24)  # ≥2 full cycles of every %-derived knob
        ]
    )


def test_jvm_encoder_matches_python_encoders_byte_for_byte(docs):
    enc = {r.media_id: r for r in M.encoded_media_from_documents(docs).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for did, r in enc.items():
        w, h = did % 13 + 4, did % 11 + 4
        ns, rate = did % 200 + 50, 8000 + (did % 4) * 4000
        text = texts[did]
        if r.meta.format == "ppm":
            expected = C.encode_ppm(w, h, _payload_chain(text, w * h * 3))
        elif r.meta.format == "bmp":
            expected = C.encode_bmp(w, h, _payload_chain(text, w * h * 3))
        else:
            expected = C.encode_wav(rate, _payload_chain(text, ns * 2))
        assert bytes(r.content) == expected, (did, r.meta.format)


def test_decode_media_stats_round_trip(docs):
    media = M.encoded_media_from_documents(docs)
    stats = {r.media_id: r for r in M.decode_media_stats(media).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(stats) == 24
    for did, r in stats.items():
        n = (did % 200 + 50) * 2 if r.container == "wav" \
            else (did % 13 + 4) * (did % 11 + 4) * 3
        payload = _payload_chain(texts[did], n)
        assert r.n_payload == n
        assert r.payload_md5 == hashlib.md5(payload.hex().encode()).hexdigest()
        assert r.byte_mean == sum(payload) / n
        if r.container == "wav":
            assert r.width is None and r.sample_rate == 8000 + (did % 4) * 4000
        else:
            assert (r.width, r.height) == (did % 13 + 4, did % 11 + 4)


def test_media_channel_stats_real_samples(docs):
    """Per-channel pixel means and int16 RMS computed from the REAL
    decoded payloads, cross-checked against a direct computation on the
    expected payload chain."""
    import math
    import struct as _struct

    media = M.encoded_media_from_documents(docs)
    out = {r.media_id: r for r in M.media_channel_stats(media).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(out) == 24
    for did, r in out.items():
        if r.container == "wav":
            ns = did % 200 + 50
            payload = _payload_chain(texts[did], ns * 2)
            vals = _struct.unpack(f"<{ns}h", payload)
            assert r.n_samples == ns and r.mean_r is None
            assert r.rms == math.sqrt(sum(v * v for v in vals) / ns)
        else:
            w, h = did % 13 + 4, did % 11 + 4
            payload = _payload_chain(texts[did], w * h * 3)
            assert r.n_samples is None and r.rms is None
            for col, c in (("mean_r", 0), ("mean_g", 1), ("mean_b", 2)):
                assert r[col] == sum(payload[c::3]) / (w * h), (did, col)


def test_sample_frames_fanout(spark, media):
    frames = M.sample_frames(media, every_ms=100, max_frames=5).collect()
    vids = {r.media_id for r in media.filter("kind = 'video'").collect()}
    assert {f.media_id for f in frames} == vids
    by_vid = {}
    for f in frames:
        by_vid.setdefault(f.media_id, []).append(f)
    for mid, fs in by_vid.items():
        assert len(fs) <= 5
        assert sorted(f.frame_idx for f in fs) == list(range(len(fs)))
        assert all(f.frame_ms == f.frame_idx * 100 for f in fs)
        assert len({bytes(f.frame) for f in fs}) == len(fs)  # distinct frames


def test_media_stats_pure_projection(spark, media):
    stats = {r.media_id: r for r in M.media_stats(media).collect()}
    raw = {r.media_id: r for r in media.collect()}
    for mid, s in stats.items():
        assert s.n_bytes == len(bytes(raw[mid].content))
        assert s.n_pixels == s.width * s.height


def test_media_entropy_matches_python_model(docs):
    """Byte-histogram entropy + audio zero-crossing rate from the REAL
    decoded payloads, cross-checked against a direct computation on the
    expected payload chain (same summation order: ascending byte
    value)."""
    import collections
    import math
    import struct as _struct

    media = M.encoded_media_from_documents(docs)
    out = {r.media_id: r for r in M.media_entropy(media).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(out) == 24
    for did, r in out.items():
        n = (
            (did % 200 + 50) * 2
            if r.container == "wav"
            else (did % 13 + 4) * (did % 11 + 4) * 3
        )
        payload = _payload_chain(texts[did], n)
        counts = collections.Counter(payload)
        exp = max(
            0.0,
            math.log2(n)
            - sum(c * math.log2(c) for _, c in sorted(counts.items())) / n,
        )
        assert r.n_payload == n
        assert r.n_distinct_bytes == len(counts)
        assert r.byte_entropy == exp, (did, r.byte_entropy, exp)
        if r.container == "wav":
            ns = n // 2
            vals = _struct.unpack(f"<{ns}h", payload)
            zc = sum(
                1 for a, b in zip(vals, vals[1:]) if (a >= 0) != (b >= 0)
            )
            assert r.zero_crossings == zc
            assert r.zcr == zc / (ns - 1)
        else:
            assert r.zero_crossings is None and r.zcr is None


def test_media_entropy_analytic_edges(spark):
    """Hand-built containers pin the analytic edges: an all-same-byte
    image has entropy EXACTLY 0.0; a 256-cycle payload covering every
    byte value equally has entropy EXACTLY 8.0; a full-swing square
    wave's ZCR counts every sample boundary."""
    rows = [
        Row(media_id=1, content=C.encode_ppm(4, 4, b"\x7f" * 48)),
        # 512 samples of int16 square wave +1000/-1000 → 1024 bytes;
        # every adjacent pair flips sign → zc = 511, zcr = 1.0
        Row(
            media_id=2,
            content=C.encode_wav(
                16000,
                struct.pack(
                    "<512h", *[1000 if i % 2 == 0 else -1000 for i in range(512)]
                ),
            ),
        ),
        # every byte value exactly 3 times: entropy exactly 8 bits
        Row(
            media_id=3,
            content=C.encode_ppm(16, 16, bytes(range(256)) * 3),
        ),
    ]
    df = spark.createDataFrame(rows)
    out = {r.media_id: r for r in M.media_entropy(df).collect()}
    assert out[1].byte_entropy == 0.0 and out[1].n_distinct_bytes == 1
    assert out[2].zero_crossings == 511 and out[2].zcr == 1.0
    # raw operator value carries summation ulps (the driver query's
    # DECIMAL(18,6) grid snaps it to exactly 8.000000)
    assert abs(out[3].byte_entropy - 8.0) < 1e-12
    assert out[3].n_distinct_bytes == 256


def test_media_entropy_single_sample_wav_matches_oracle(spark):
    """ns == 1 knife-edge (r10 advice): a 1-sample WAV has an EMPTY
    zero-crossing range — Spark emits 0, and the oracle's list_sum over
    an empty range yields NULL unless COALESCEd. Unreachable with the
    testdata generator (ns >= 50), so pin both engines on a hand-built
    fixture: Spark on the real container, DuckDB on the oracle's exact
    zc/zcr expressions at ns = 1."""
    import duckdb

    row = spark.createDataFrame(
        [Row(media_id=1, content=C.encode_wav(8000, struct.pack("<1h", 7)))]
    )
    got = M.media_entropy(row).collect()[0]
    assert got.zero_crossings == 0 and got.zcr is None

    dz, dzcr = duckdb.sql(
        """
        WITH bytes AS (SELECT 1 AS ns, [CAST(0 AS INT), 7] AS bs)
        SELECT
          CAST(COALESCE(list_sum(list_transform(range(CAST(ns - 1 AS BIGINT)),
            i -> CASE WHEN (bs[CAST(2*i+2 AS INT)] >= 128)
                        <> (bs[CAST(2*i+4 AS INT)] >= 128)
                      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS z,
          CASE WHEN ns > 1 THEN 0.0 END AS zcr
        FROM bytes
        """
    ).fetchone()
    assert dz == got.zero_crossings == 0
    assert dzcr is None and got.zcr is None


def test_dhash_pure_python_properties():
    """Deterministic dHash facts on crafted gradients: a left-to-right
    ramp sets NO bits (gray increases, never >), a right-to-left ramp
    sets ALL bits, a flat image sets none; hash length is 16 hex."""
    w, h = 9, 8
    ramp = bytes(
        b for y in range(h) for x in range(w) for b in (x * 20,) * 3
    )
    rev = bytes(
        b for y in range(h) for x in range(w) for b in ((w - 1 - x) * 20,) * 3
    )
    flat = bytes(128 for _ in range(w * h * 3))
    assert M.dhash_bytes(ramp, w, h) == "00" * 8
    assert M.dhash_bytes(rev, w, h) == "ff" * 8
    assert M.dhash_bytes(flat, w, h) == "00" * 8
    assert len(M.dhash_bytes(ramp, w, h)) == 16


def _hamming_hex(a: str, b: str) -> int:
    return bin(int(a, 16) ^ int(b, 16)).count("1")


def test_dhash_one_byte_perturbation_is_near(docs):
    """The near-dup fixture's contract: forcing the first payload byte
    to 0xff moves the hash by at most ceil(8/h) <= 2 bits — only grid
    rows that NN-sample y=0 can flip, and within a row only the single
    column-comparison that straddles the x=0 boundary (comparisons with
    BOTH sides at x=0 see identical grays before and after). The banded
    join must then recover every constructed pair at max_hamming=3."""
    from pyspark.sql import functions as F

    orig = M.encoded_media_from_documents(docs)
    pert = M.encoded_media_from_documents(docs, perturb=True).withColumn(
        "media_id", F.col("media_id") + F.lit(1_000_000_000)
    )
    both = orig.unionByName(pert).filter(F.col("kind") == "image")
    hashes = {r.media_id: r.dhash for r in M.media_dhash(both).collect()}
    img_ids = [i for i in hashes if i < 1_000_000_000]
    assert img_ids
    for i in img_ids:
        h = i % 11 + 4
        bound = -(-8 // h)  # ceil(8/h): grid rows sampling y=0
        assert _hamming_hex(hashes[i], hashes[i + 1_000_000_000]) <= bound, i
    pairs = {
        (r.media_a, r.media_b)
        for r in M.dhash_near_dup_pairs(
            M.media_dhash(both), max_hamming=3
        ).collect()
    }
    for i in img_ids:
        assert (i, i + 1_000_000_000) in pairs, i


def _brute_pairs(hashes: dict, max_hamming: int) -> set:
    ids = sorted(hashes)
    return {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _hamming_hex(hashes[a], hashes[b]) <= max_hamming
    }


def test_dhash_near_dup_default_args_exact_vs_brute(spark):
    """r10 advice (medium): the old n_bands=4 default silently lost
    ~38% of true hamming-6 pairs. The default now DERIVES n_bands=8
    (smallest divisor of 16 > max_hamming=6), restoring the pigeonhole
    guarantee — pinned here against a brute-force popcount join over an
    adversarial corpus where the flips are SPREAD across all four old
    bands (the exact shape the old default missed)."""
    import random

    rng = random.Random(11)
    hashes = {}
    for i in range(12):
        hashes[i * 10] = f"{rng.getrandbits(64):016x}"
    # perturbed variants at hamming d = 1..7, each flip in a DISTINCT
    # nibble spread across the hash (touches every old 4-hex band for
    # d >= 4, so the old default provably misses d in {4,5,6}).
    for i in range(12):
        base = int(hashes[i * 10], 16)
        d = i % 7 + 1
        nibbles = rng.sample(range(16), d)
        v = base
        for nb in nibbles:
            v ^= 1 << (nb * 4 + rng.randrange(4))
        hashes[i * 10 + 1] = f"{v:016x}"
    df = spark.createDataFrame(
        [(k, v) for k, v in hashes.items()], ["media_id", "dhash"]
    )
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in M.dhash_near_dup_pairs(df).collect()
    }
    want = {
        (a, b, _hamming_hex(hashes[a], hashes[b]))
        for a, b in _brute_pairs(hashes, 6)
    }
    assert got == want
    # the corpus must actually exercise the old default's blind spot
    assert any(4 <= h <= 6 for _, _, h in want)


def test_dhash_near_dup_rejects_unguaranteed_args(spark):
    import pytest

    df = spark.createDataFrame([(1, "00" * 8)], ["media_id", "dhash"])
    with pytest.raises(ValueError, match="max_hamming < n_bands"):
        M.dhash_near_dup_pairs(df, max_hamming=6, n_bands=4)
    with pytest.raises(ValueError, match="divide"):
        M.dhash_near_dup_pairs(df, max_hamming=2, n_bands=3)
    with pytest.raises(ValueError, match="coverable"):
        M.dhash_near_dup_pairs(df, max_hamming=16)


def test_dhash_near_dup_bucket_cap(spark):
    """max_bucket drops over-full (band, value) buckets: a cluster of k
    identical hashes is one bucket per band with k members — capped at
    k-1 it vanishes (route such clusters through exact dedup instead),
    while pairs in small buckets are untouched."""
    rows = [(i, "ab" * 8) for i in range(6)]  # identical cluster, k=6
    rows += [(100, "00" * 8), (101, "01" + "00" * 7)]  # hamming-1 pair
    df = spark.createDataFrame(rows, ["media_id", "dhash"])
    uncapped = {
        (r.media_a, r.media_b)
        for r in M.dhash_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert len(uncapped) == 15 + 1
    capped = {
        (r.media_a, r.media_b)
        for r in M.dhash_near_dup_pairs(
            df, max_hamming=3, max_bucket=5
        ).collect()
    }
    assert capped == {(100, 101)}


def test_media_dhash_rejects_bad_passthrough(spark):
    """r11 advice: a passthrough name colliding with the hash output
    columns (or absent from the input) must fail at call time, not as
    an ambiguous-column error far downstream."""
    import pytest

    df = spark.createDataFrame(
        [(1, bytearray(b"x"), "a")], ["media_id", "content", "src"]
    )
    with pytest.raises(ValueError, match="collide"):
        M.media_dhash(df, passthrough=("dhash",))
    with pytest.raises(ValueError, match="not in input schema"):
        M.media_dhash(df, passthrough=("nope",))
    # r12 advice: a repeated passthrough name is the same ambiguity
    with pytest.raises(ValueError, match="repeated"):
        M.media_dhash(df, passthrough=("src", "src"))
    # a legal passthrough still builds (plan-only check, no execution)
    assert "src" in M.media_dhash(df, passthrough=("src",)).columns


def test_media_dup_clusters_invariants(spark):
    """Cluster-table invariants of the image-dedup deliverable: each
    clustered media id appears once; cluster_id is the component's min
    id (the deterministic keeper, exactly one per cluster); sizes match
    the actual member counts (>= 2 — singletons absent by contract);
    and every constructed (orig, perturbed) pair is co-clustered."""
    import healthcare_aws_data_engineering_spark.plans.training_data_queries as tq

    rows = tq.q_media_dup_clusters(spark, "/root/testdata/sf0.001").collect()
    by_cluster: dict[int, list] = {}
    ids = [r.media_id for r in rows]
    assert len(ids) == len(set(ids))
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert by_cluster
    for cid, members in by_cluster.items():
        assert cid == min(m.media_id for m in members)
        assert all(m.cluster_size == len(members) for m in members)
        assert len(members) >= 2
        assert sum(m.is_keeper for m in members) == 1
        assert next(m for m in members if m.is_keeper).media_id == cid
    cluster_of = {r.media_id: r.cluster_id for r in rows}
    for i in list(cluster_of):
        if i < 1_000_000_000 and i + 1_000_000_000 in cluster_of:
            assert cluster_of[i] == cluster_of[i + 1_000_000_000], i


def test_dhash_zero_exchange_plan(spark):
    from conftest import n_exchanges as _n_exchanges, plan_string as _plan
    import healthcare_aws_data_engineering_spark.plans.training_data_queries as tq

    plan = _plan(tq.q_media_dhash(spark, "/root/testdata/sf0.001"))
    assert _n_exchanges(plan) == 0, plan
    assert "MapInPandas" in plan


def test_encoded_media_variants_match_two_leg_union(spark):
    """encoded_media_variants (one staged md5 chain, exploded to both
    variants — r15) must be row-identical to the original two-leg
    union-of-encodes it replaced in the perceptual dedup queries."""
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators import multimodal as M

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    orig = M.encoded_media_from_documents(docs)
    pert = M.encoded_media_from_documents(docs, perturb=True).withColumn(
        "media_id", F.col("media_id") + F.lit(1_000_000_000)
    )
    legacy = orig.unionByName(pert)
    new = M.encoded_media_variants(docs)
    a = sorted(
        (r["media_id"], r["kind"], bytes(r["content"]), tuple(r["meta"]))
        for r in legacy.collect()
    )
    b = sorted(
        (r["media_id"], r["kind"], bytes(r["content"]), tuple(r["meta"]))
        for r in new.collect()
    )
    assert a == b and len(a) > 0
