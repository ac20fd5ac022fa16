"""Property-based tests (hypothesis): Spark operators vs pure-Python
reference implementations on randomized inputs. Examples are kept small —
each example is a Spark round-trip."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kstreamjs_spark.operators import dedup, text
from kstreamjs_spark.operators.asof import asof_join

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

word = st.text(alphabet="abcde", min_size=1, max_size=3)
sentence = st.lists(word, min_size=0, max_size=12).map(" ".join)


def py_shingles(s: str, n: int = 3) -> set[str]:
    toks = s.split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@given(texts=st.lists(sentence, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_shingles_match_python_reference(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    out = df.select("doc_id", dedup.shingles("text", 3).alias("sh")).collect()
    for r in out:
        assert set(r["sh"]) == py_shingles(texts[r["doc_id"]])


def py_fingerprint(s: str) -> int:
    acc = 0
    for t in s.split(" "):
        h = len(t) * 131 + ord(t[0]) * 7 + ord(t[-1]) if t else 0
        acc = (acc * 31 + h) % text.FINGERPRINT_MOD
    return acc


@given(texts=st.lists(sentence.filter(lambda s: s != ""), min_size=1, max_size=6))
@settings(**SETTINGS)
def test_fingerprint_matches_python_reference(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    out = df.select("doc_id", text.fingerprint("text").alias("fp")).collect()
    for r in out:
        assert r["fp"] == py_fingerprint(texts[r["doc_id"]])


def py_asof(left, right):
    """Brute-force as-of: for each (key, lts), max rts <= lts."""
    out = {}
    for key, lts, lid in left:
        cands = [rts for rkey, rts in right if rkey == key and rts <= lts]
        out[lid] = max(cands) if cands else None
    return out


@pytest.mark.slow
@given(
    left=st.lists(
        st.tuples(st.sampled_from("pq"), st.integers(0, 50)),
        min_size=1, max_size=8, unique=True,
    ),
    right=st.lists(
        st.tuples(st.sampled_from("pq"), st.integers(0, 50)),
        min_size=0, max_size=8, unique=True,
    ),
)
@settings(**SETTINGS)
def test_asof_matches_bruteforce(spark, left, right):
    lrows = [(k, ts, i) for i, (k, ts) in enumerate(left)]
    ldf = spark.createDataFrame(
        [(k, ts * 1000, i) for k, ts, i in lrows], "k string, t long, id long"
    ).withColumn("t", F.timestamp_millis("t"))
    rdf = spark.createDataFrame(
        [(k, ts * 1000) for k, ts in right] or [("zz", 0)],
        "k string, rt long",
    ).withColumn("rt", F.timestamp_millis("rt"))
    got = {
        r["id"]: (int(r["asof_rt"].timestamp()) if r["asof_rt"] else None)
        for r in asof_join(
            ldf, rdf, on=["k"], left_ts="t", right_ts="rt", right_cols=["rt"]
        ).collect()
    }
    expected = py_asof(lrows, right if right else [("zz", 0)])
    assert got == expected


def py_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id label per component
    return {n: find(n) for n in parent}


@pytest.mark.slow
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_connected_components_match_union_find(spark, edges):
    """Iterative min-label propagation (operators/cluster.py) vs a Python
    union-find on random graphs — paths, stars, self-loops, dup edges."""
    from kstreamjs_spark.operators import cluster

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in cluster.connected_components(df).collect()
    }
    # union() always parents the larger root to the smaller, so find() is
    # the component minimum — the same label definition as the operator.
    assert got == py_components(edges)


@pytest.mark.slow
@given(
    toks=st.lists(st.integers(min_value=0, max_value=300), min_size=1,
                  max_size=30),
    budget=st.integers(min_value=1, max_value=200),
    parts=st.integers(min_value=1, max_value=6),
)
@settings(**SETTINGS)
def test_sequence_pack_matches_python_reference(spark, toks, budget, parts):
    """Distributed prefix-sum packing == serial greedy reference for any
    token sizes (zero-token docs included), any budget, any partition
    count."""
    from kstreamjs_spark.operators.packing import sequence_pack

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, n_tok long"
    )
    out = {
        r["doc_id"]: r["pack_id"]
        for r in sequence_pack(df, "n_tok", budget, ["doc_id"],
                               parts=parts).collect()
    }
    cum = 0
    for i, t in enumerate(toks):
        assert out[i] == cum // budget, (i, toks, budget, parts)
        cum += t


@pytest.mark.slow
@given(texts=st.lists(sentence, min_size=2, max_size=6))
@settings(**SETTINGS)
def test_containment_matches_python_reference(spark, texts):
    """containment_pairs vs brute-force set containment: every emitted
    pair's c1/c2 equal |A∩B|/|A| and |A∩B|/|B| over the distinct shingle
    sets, and every pair with max-containment >= threshold is emitted."""
    df = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    got = {
        (r["d1"], r["d2"]): (r["c1"], r["c2"])
        for r in dedup.containment_pairs(df, threshold=0.5, n=2).collect()
    }
    sets = {i: py_shingles(t, 2) for i, t in enumerate(texts)}
    expect = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                common = len(sets[a] & sets[b])
                c1 = round(common / len(sets[a]), 6)
                c2 = round(common / len(sets[b]), 6)
                if common and max(c1, c2) >= 0.5:
                    expect[(a, b)] = (c1, c2)
    assert got == expect


@pytest.mark.slow
@given(texts=st.lists(sentence.filter(lambda s: s != ""), min_size=1,
                      max_size=5))
@settings(**SETTINGS)
def test_token_entropy_bounds_and_reference(spark, texts):
    """q96's entropy formula vs a pure-Python reference, plus the hard
    bounds 0 <= H <= ln(n_tokens)."""
    import math

    from kstreamjs_spark.queries import all_queries  # noqa: F401  (registry)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    c = (
        df.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qt = F.floor(F.col("c") * F.log("c") * F.lit(1_000_000) + 0.5).cast("long")
    out = {
        r["doc_id"]: (r["n"], r["entropy"])
        for r in c.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.round(
                F.log(F.sum("c")) - F.sum(qt) / (F.sum("c") * F.lit(1_000_000.0)),
                6,
            ).alias("entropy"),
        )
        .collect()
    }
    for i, t in enumerate(texts):
        toks = t.split(" ")
        n = len(toks)
        counts = {}
        for tok in toks:
            counts[tok] = counts.get(tok, 0) + 1
        h_ref = math.log(n) - sum(
            math.floor(c * math.log(c) * 1_000_000 + 0.5) for c in counts.values()
        ) / (n * 1_000_000.0)
        got_n, got_h = out[i]
        assert got_n == n
        assert abs(got_h - round(h_ref, 6)) < 1e-9
        assert -1e-9 <= got_h <= math.log(n) + 1e-6


# ---- media decode kernels: total functions over arbitrary bytes --------
# An exception inside a mapInPandas kernel fails the whole task (and at
# 1000 executors, the job) — the decoders must return None/metadata for
# EVERY input, never raise. Pure Python, no Spark round-trip per example.

from kstreamjs_spark.operators import multimodal  # noqa: E402

raw_bytes = st.binary(min_size=0, max_size=300)


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_bmp_total_on_arbitrary_bytes(blob):
    out = multimodal.decode_bmp(blob)
    assert out is None or (
        len(out) == 4 and out[0] == len(blob) and out[1] > 0 and out[2] > 0
    )


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_wav_total_on_arbitrary_bytes(blob):
    out = multimodal.decode_wav(blob)
    assert out is None or (
        len(out) == 4 and out[0] == len(blob) and out[1] > 0 and out[2] > 0
    )


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_bmp_total_on_bmp_prefixed_garbage(blob):
    # adversarial: correct magic, arbitrary header/body bytes
    out = multimodal.decode_bmp(b"BM" + blob)
    assert out is None or out[0] == len(blob) + 2


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_wav_total_on_riff_prefixed_garbage(blob):
    out = multimodal.decode_wav(b"RIFF" + blob)
    assert out is None or out[0] == len(blob) + 4


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_bmp_pixels_total_on_arbitrary_bytes(blob):
    """The r9 pixel decoder must be as total as the metadata kernel —
    None or a well-shaped array, never an exception — including with
    correct magic in front of garbage."""
    for b in (blob, b"BM" + blob):
        out = multimodal.decode_bmp_pixels(b)
        assert out is None or (
            out.ndim == 3 and out.shape[0] > 0 and out.shape[1] > 0
        )


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_wav_samples_total_on_arbitrary_bytes(blob):
    """Same totality bar for the r9 sample decoder; when it does decode,
    the shape must agree with the metadata kernel's sample count."""
    for b in (blob, b"RIFF" + blob):
        out = multimodal.decode_wav_samples(b)
        if out is not None:
            meta = multimodal.decode_wav(b)
            assert meta is not None
            assert out[1].shape == (meta[3], meta[1])


@given(
    w=st.integers(min_value=1, max_value=64),
    h=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_property(w, h):
    blob = multimodal.encode_bmp(w, h)
    assert multimodal.decode_bmp(blob) == (len(blob), w, h, 3)


@given(
    ns=st.integers(min_value=1, max_value=2000),
    sr=st.sampled_from([8000, 16000, 22050, 44100]),
    ch=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(ns, sr, ch):
    blob = multimodal.encode_wav(ns, sr, ch)
    assert multimodal.decode_wav(blob) == (len(blob), ch, sr, ns)


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_png_total_on_arbitrary_bytes(blob):
    out = multimodal.decode_png(blob)
    assert out is None or (len(out) == 6 and out[0] == len(blob))


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_png_total_on_sig_prefixed_garbage(blob):
    # adversarial: correct 8-byte signature, arbitrary chunk bytes — the
    # CRC gate alone should kill nearly all of these, never an exception
    out = multimodal.decode_png(b"\x89PNG\r\n\x1a\n" + blob)
    assert out is None or out[0] == len(blob) + 8


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_mp4_total_on_arbitrary_bytes(blob):
    out = multimodal.decode_mp4(blob)
    assert out is None or (len(out) == 6 and out[0] == len(blob))
    rows = multimodal.mp4_sample_table(blob)
    assert rows is None or isinstance(rows, list)


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_mp4_total_on_ftyp_prefixed_garbage(blob):
    # adversarial: a correct leading ftyp box, arbitrary following bytes —
    # the box-tiling gate should kill nearly all of these, never raise
    ftyp = (24).to_bytes(4, "big") + b"ftypisom" + bytes(8)
    out = multimodal.decode_mp4(ftyp + blob)
    assert out is None or out[0] == len(blob) + 24


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_jpeg_total_on_arbitrary_bytes(blob):
    out = multimodal.decode_jpeg(blob)
    assert out is None or (len(out) == 5 and out[0] == len(blob))


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_jpeg_total_on_soi_prefixed_garbage(blob):
    # adversarial: correct SOI marker, arbitrary segment bytes — the
    # marker/segment-length walk must reject or decode, never raise
    out = multimodal.decode_jpeg(b"\xff\xd8" + blob)
    assert out is None or out[0] == len(blob) + 2


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_image_pixels_total_on_arbitrary_bytes(blob):
    # the pixel kernels share the checksum kernels' totality contract
    # (None or a valid array, never an exception), and where both decode
    # they must agree: the checksum IS the pixel array's sum
    for sig in (b"", b"BM", b"\x89PNG\r\n\x1a\n", b"\xff\xd8",
                b"GIF89a", b"GIF87a"):
        px = multimodal.decode_image_pixels(sig + blob)
        assert px is None or (px.ndim == 3 and px.dtype.name == "uint8")


@given(blob=raw_bytes)
@settings(max_examples=150, deadline=None)
def test_png_pixels_agree_with_checksum_on_garbage(blob):
    payload = b"\x89PNG\r\n\x1a\n" + blob
    meta = multimodal.decode_png(payload)
    px = multimodal.decode_png_pixels(payload)
    assert (meta is None) == (px is None)
    if meta is not None:
        assert meta[5] == int(px.sum(dtype="int64"))


@given(
    nf=st.integers(min_value=1, max_value=300),
    fd=st.integers(min_value=1, max_value=3000),
    ts=st.sampled_from([1, 600, 1000, 90000]),
    w=st.integers(min_value=1, max_value=4096),
    h=st.integers(min_value=1, max_value=4096),
)
@settings(max_examples=60, deadline=None)
def test_mp4_roundtrip_property(nf, fd, ts, w, h):
    """encode->decode recovers duration/dims/frame count/sample bytes,
    and the frame table reproduces the exact running-offset layout."""
    blob = multimodal.encode_mp4(nf, fd, ts, w, h)
    assert multimodal.decode_mp4(blob) == (
        len(blob), nf * fd * 1000 // ts, w, h, nf,
        sum(16 + (i % 7) for i in range(nf)),
    )
    rows = multimodal.mp4_sample_table(blob)
    off = 0
    assert len(rows) == nf
    for i, (idx, o, size, tms) in enumerate(rows):
        assert (idx, o, size, tms) == (i, off, 16 + i % 7,
                                       i * fd * 1000 // ts)
        off += size


@given(
    base=st.integers(min_value=0, max_value=113),
    wb=st.integers(min_value=1, max_value=8),
    hb=st.integers(min_value=1, max_value=6),
    nc=st.sampled_from([1, 3]),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_property(base, wb, hb, nc):
    """encode->decode recovers dims and the exact pixel sum for
    block-gradient content — DC differences wrap through huffman
    magnitude categories 1 and 7 whenever the gradient crosses 113; the
    color mode (neutral-chroma YCbCr 4:4:4) yields exactly 3x the
    grayscale checksum through interleaved-MCU decode + RGB conversion."""
    vals = [28 + 2 * ((base + b) % 114) for b in range(wb * hb)]
    blob = multimodal.encode_jpeg(8 * wb, 8 * hb, vals, n_components=nc)
    assert multimodal.decode_jpeg(blob) == (
        len(blob), 8 * wb, 8 * hb, nc, nc * 64 * sum(vals)
    )


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(w, h, ch, seed):
    """encode->decode recovers exact dims, channels, and the pixel-byte
    sum for RANDOM pixel content — with h >= 5 every PNG filter type
    participates (the encoder cycles y %% 5)."""
    import random

    px = bytes(random.Random(seed).randrange(256) for _ in range(w * h * ch))
    blob = multimodal.encode_png(w, h, px, ch)
    assert multimodal.decode_png(blob) == (len(blob), w, h, ch, 8, sum(px))


# ---- exact histogram percentiles vs a pure-Python reference ------------
# One Spark job over MANY hypothesis-generated groups at once (each
# example is a Spark round-trip, so groups are batched into one frame).

from kstreamjs_spark.operators.percentile import histogram_percentiles  # noqa: E402


def py_percentile(values, num, den):
    """Smallest v whose cumulative count cc satisfies cc*den >= num*n —
    the operator's contract, restated over a sorted list."""
    vs = sorted(values)
    n = len(vs)
    cc = 0
    i = 0
    while i < n:
        j = i
        while j < n and vs[j] == vs[i]:
            j += 1
        cc += j - i
        if cc * den >= num * n:
            return vs[i]
        i = j
    return vs[-1]


@pytest.mark.slow
@given(
    groups=st.lists(
        st.lists(st.integers(min_value=-50, max_value=50), min_size=1,
                 max_size=30),
        min_size=1,
        max_size=8,
    ),
    num=st.integers(min_value=1, max_value=99),
)
@settings(**SETTINGS)
def test_histogram_percentiles_match_reference(spark, groups, num):
    den = 100
    rows = [(g, v) for g, vals in enumerate(groups) for v in vals]
    df = spark.createDataFrame(rows, "g int, v long")
    out = {
        r["g"]: (r["n"], r["p"])
        for r in histogram_percentiles(
            df, ["g"], "v", {"p": (num, den)}
        ).collect()
    }
    assert set(out) == set(range(len(groups)))
    for g, vals in enumerate(groups):
        assert out[g] == (len(vals), py_percentile(vals, num, den)), (
            f"group {g} vals={vals} num={num}"
        )


# ---- gap sessionization vs a pure-Python reference ---------------------
# Random data almost never produces deltas EXACTLY at the gap boundary,
# so the oracle runs (q55/q108) under-test the > vs >= edge and the
# equal-timestamp tie-break. Deltas here are drawn from the boundary set.

from kstreamjs_spark.operators.funnel import with_sessions  # noqa: E402

_GAP = 1800
_deltas = st.lists(
    st.sampled_from([0, 1, _GAP - 1, _GAP, _GAP + 1, 2 * _GAP]),
    min_size=1, max_size=8,
)


def py_sessions(events):
    """Reference: sort by (ts, event_id); new session iff first event or
    ts - prev_ts > gap (strictly greater — an event landing exactly at
    the gap continues the session)."""
    out, seq, prev = {}, 0, None
    for ts, eid in sorted(events):
        if prev is None or ts - prev > _GAP:
            seq += 1
        out[eid] = seq
        prev = ts
    return out


@pytest.mark.slow
@given(users=st.lists(_deltas, min_size=1, max_size=5))
@settings(**SETTINGS)
def test_with_sessions_matches_python_reference(spark, users):
    rows, eid = [], 0
    expected = {}
    for u, deltas in enumerate(users):
        ts, events = 1_700_000_000, []
        for d in deltas:
            ts += d
            rows.append((u, ts, eid))
            events.append((ts, eid))
            eid += 1
        for e, s in py_sessions(events).items():
            expected[e] = (u, s)
    df = spark.createDataFrame(
        rows, "user_id long, epoch long, event_id long"
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id"
    )
    got = {
        r["event_id"]: (r["user_id"], r["session_seq"])
        for r in with_sessions(df).collect()
    }
    assert got == expected


# ---- bloom membership: no false negatives, ever ------------------------
# A bloom prefilter is only sound to compose with an exact verify join
# because it can never drop a true member; hypothesis drives the whole
# build+probe cycle over random key sets.

from kstreamjs_spark.operators import bloom as bloom_ops  # noqa: E402

key = st.text(alphabet="abcdef0123456789", min_size=1, max_size=12)


@pytest.mark.slow
@given(
    members=st.lists(key, min_size=1, max_size=20, unique=True),
    others=st.lists(key, min_size=0, max_size=20, unique=True),
    num_bits=st.sampled_from([64, 1024, 1 << 16]),
    num_hashes=st.integers(min_value=1, max_value=8),
)
@settings(**SETTINGS)
def test_bloom_never_false_negative(spark, members, others, num_bits,
                                    num_hashes):
    mdf = spark.createDataFrame([(m,) for m in members], "g string")
    bf = bloom_ops.bloom_build(mdf, "g", num_bits, num_hashes, seed=7)
    allkeys = members + [o for o in others if o not in set(members)]
    adf = spark.createDataFrame([(k,) for k in allkeys], "g string")
    got = {
        r["g"]: r["maybe"]
        for r in bloom_ops.bloom_might_contain(adf, "g", bf).collect()
    }
    for m in members:
        assert got[m] is True  # the soundness invariant
    # tiny bitsets may false-positive on non-members — allowed; a roomy
    # bitset over few keys should still reject most non-members
    if num_bits >= 1 << 16 and others:
        fp = sum(got[o] for o in got if o not in set(members))
        assert fp <= max(1, len(others) // 4)


def test_bloom_empty_build_rejects_everything(spark):
    empty = spark.createDataFrame([], "g string")
    bf = bloom_ops.bloom_build(empty, "g", 1024)
    adf = spark.createDataFrame([("x",), ("y",)], "g string")
    out = bloom_ops.bloom_might_contain(adf, "g", bf).collect()
    assert all(r["maybe"] is False for r in out)


def test_bloom_build_chunk_packing_matches_reference(spark):
    """The executor-side chunk packing (collect_set per 2^19-bit range
    -> bytes masks -> driver OR) must produce the bit-identical bitset
    a naive driver-side build would: verified against positions computed
    through the SAME JVM xxhash expression, at a num_bits that spans
    multiple chunks with a ragged final chunk."""
    import numpy as np
    import pyspark.sql.functions as F

    num_bits = (1 << 19) * 2 + 1000  # 3 chunks, last one ragged
    mdf = spark.createDataFrame(
        [(f"key{i}",) for i in range(500)], "g string"
    )
    bf = bloom_ops.bloom_build(mdf, "g", num_bits, num_hashes=5, seed=13)
    pos = (
        mdf.select(
            F.explode(
                bloom_ops._positions(F.col("g"), num_bits, 5, 13)
            ).alias("p")
        )
        .distinct()
        .toPandas()["p"]
        .to_numpy()
    )
    ref = np.zeros((num_bits + 7) // 8, dtype=np.uint8)
    np.bitwise_or.at(ref, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    assert (bf["bits"] == ref).all()
    assert len(bf["bits"]) == (num_bits + 7) // 8


@given(
    base=st.integers(min_value=0, max_value=113),
    wb=st.integers(min_value=1, max_value=8),
    hb=st.integers(min_value=1, max_value=6),
    layout=st.sampled_from([(1, "444"), (3, "444"), (3, "420")]),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_progressive_roundtrip_property(base, wb, hb, layout):
    """encode_jpeg_progressive -> decode recovers dims and the exact
    pixel sum of the baseline closed form: the multi-scan reassembly
    (DC first at Al=1 + refinement bit + per-component EOB-run AC
    scans) must accumulate the very same coefficient grid the baseline
    single scan produces, for all three component layouts."""
    nc, sub = layout
    if sub == "420":
        wb, hb = 2 * wb, 2 * hb  # full 16x16 MCUs
    vals = [28 + 2 * ((base + b) % 114) for b in range(wb * hb)]
    blob = multimodal.encode_jpeg_progressive(
        8 * wb, 8 * hb, vals, n_components=nc, subsampling=sub
    )
    assert multimodal.decode_jpeg(blob) == (
        len(blob), 8 * wb, 8 * hb, nc, nc * 64 * sum(vals)
    )


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    wb=st.integers(min_value=1, max_value=4),
    hb=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_progressive_equals_baseline_on_arbitrary_coefs(seed, wb, hb):
    """The baseline<->progressive equivalence pin on ARBITRARY sparse
    quantized coefficients: the progressive rendering (successive
    approximation Al=1 -> 0 on DC and both spectral bands, so the
    refinement scans carry real correction bits for nonzero-history
    coefficients, new +-1 coefficients, ZRLs, and EOB runs) must decode
    to pixels identical to the baseline rendering of the same grid."""
    import numpy as np

    rng = np.random.RandomState(seed)
    blocks = []
    for _ in range(wb * hb):
        b = [0] * 64
        b[0] = int(rng.randint(-200, 200))
        for _ in range(rng.randint(0, 14)):
            k = int(rng.randint(1, 64))
            v = int(rng.randint(-60, 61))
            b[k] = v if v else 7
        if rng.randint(0, 3) == 0:  # magnitude-1-heavy refinement blocks
            for k in range(1, 64, 3):
                b[k] = int(rng.choice([-1, 1, 0, 2, -2]))
        blocks.append(b)
    bb = multimodal._encode_jpeg_coefs(8 * wb, 8 * hb, blocks)
    bp = multimodal._encode_jpeg_coefs(
        8 * wb, 8 * hb, blocks, progressive=True
    )
    p0 = multimodal.decode_jpeg_pixels(bb)
    p1 = multimodal.decode_jpeg_pixels(bp)
    assert p0 is not None and p1 is not None
    assert np.array_equal(p0, p1)


def test_jpeg_progressive_total_on_mutations():
    """Totality over corrupted PROGRESSIVE payloads: single-byte flips
    anywhere in a valid multi-scan file (headers, scan headers, every
    entropy segment) must reject or decode — never raise, never hang."""
    vals = [28 + 2 * (b % 114) for b in range(12)]
    good = multimodal.encode_jpeg_progressive(32, 24, vals)
    assert multimodal.decode_jpeg(good) is not None
    for flip in range(len(good)):
        mutated = bytearray(good)
        mutated[flip] ^= 0xFF
        out = multimodal.decode_jpeg(bytes(mutated))
        assert out is None or (len(out) == 5 and out[0] == len(good))
    for cut in range(0, len(good), 7):  # truncations
        assert multimodal.decode_jpeg(good[:cut]) is None


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_gif_pixels_total_on_arbitrary_bytes(blob):
    # GIF kernel: same totality bar — None or a well-shaped
    # RGB array, never an exception, including with correct magic in
    # front of garbage (the LZW/structure gates must reject, not raise)
    for b in (blob, b"GIF89a" + blob, b"GIF87a" + blob):
        out = multimodal.decode_gif_pixels(b)
        assert out is None or (
            out.ndim == 3 and out.shape[2] == 3 and out.dtype.name == "uint8"
        )


@given(
    w=st.integers(min_value=1, max_value=48),
    h=st.integers(min_value=1, max_value=48),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    interlace=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_gif_pixel_roundtrip_property(w, h, seed, interlace):
    """encode_gif_pixels -> decode_gif_pixels is an exact roundtrip for
    arbitrary content at arbitrary geometry, through real LZW (width
    bumps included) and both row storage orders (sequential and the
    four-pass interlace)."""
    import numpy as np

    gray = bytes(
        np.random.RandomState(seed).randint(0, 256, w * h, dtype=np.uint8)
    )
    blob = multimodal.encode_gif_pixels(w, h, gray, interlace=interlace)
    px = multimodal.decode_gif_pixels(blob)
    assert px is not None and px.shape == (h, w, 3)
    assert bytes(px[:, :, 0].ravel()) == gray
    assert (px[:, :, 0] == px[:, :, 1]).all()
    assert (px[:, :, 0] == px[:, :, 2]).all()
    meta = multimodal.decode_gif(blob)
    assert meta == (len(blob), w, h, 3)


@given(blob=raw_bytes)
@settings(max_examples=200, deadline=None)
def test_gif_anim_surface_total_on_arbitrary_bytes(blob):
    # the animation surface shares the still kernel's totality bar:
    # frame table and any frame index decode-or-None, never raise
    for b in (blob, b"GIF89a" + blob):
        t = multimodal.gif_frame_table(b)
        assert t is None or isinstance(t, list)
        for idx in (0, 2):
            out = multimodal.decode_gif_frame(b, idx)
            assert out is None or (
                out.ndim == 3 and out.shape[2] == 3
                and out.dtype.name == "uint8"
            )


@given(blob=raw_bytes)
@settings(max_examples=200, deadline=None)
def test_apng_surface_total_on_arbitrary_bytes(blob):
    # the APNG animation surface shares the PNG kernel's totality bar
    for b in (blob, b"\x89PNG\r\n\x1a\n" + blob):
        t = multimodal.apng_frame_table(b)
        assert t is None or isinstance(t, list)
        for idx in (0, 2):
            out = multimodal.decode_apng_frame(b, idx)
            assert out is None or (
                out.ndim == 3 and out.dtype.name == "uint8"
            )


def test_gif_lzw_roundtrip_forces_table_overflow_reset():
    """The 48x48 property cap (2304 px) never fills the 4096-entry LZW
    table, so the property tests never reach the encoder's clear-code
    reset branch. Two >=20k-px payloads force it: high-entropy
    bytes (table fills fastest: mostly 2-byte strings) and a long-run
    payload (table fills with ever-longer runs, exercising deep prefix
    chains at reset time). Both must roundtrip exactly."""
    import numpy as np

    w, h = 160, 140  # 22400 px >> 4096-entry table capacity
    entropic = bytes(
        np.random.RandomState(7).randint(0, 256, w * h, dtype=np.uint8)
    )
    runs = bytes(
        np.repeat(
            np.arange(0, 256, dtype=np.uint8), (w * h) // 256 + 1
        )[: w * h]
    )
    for gray in (entropic, runs):
        blob = multimodal.encode_gif_pixels(w, h, gray)
        px = multimodal.decode_gif_pixels(blob)
        assert px is not None and px.shape == (h, w, 3)
        assert bytes(px[:, :, 0].ravel()) == gray


# ------------------------------------------------------------------- FLAC
@given(
    n=st.integers(min_value=1, max_value=3000),
    nch=st.integers(min_value=1, max_value=2),
    bs=st.sampled_from([256, 512, 1024, 4096]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    smooth=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_flac_roundtrip_property(n, nch, bs, seed, smooth):
    """encode_flac_samples -> decode_flac_samples is an exact int16
    roundtrip at arbitrary length/channels/block size — through real
    Rice coding, fixed predictors, multi-frame walks with ragged last
    blocks, CRC-8/CRC-16, and the STREAMINFO MD5 check."""
    import numpy as np

    rng = np.random.RandomState(seed)
    if smooth:
        t = np.arange(n * nch)
        s = (3000 * np.sin(t / 37.0) + rng.randint(-32, 32, n * nch)).astype(
            np.int16
        )
    else:
        s = rng.randint(-32768, 32768, n * nch).astype(np.int16)
    blob = multimodal.encode_flac_samples(s, n_channels=nch, block_size=bs)
    dec = multimodal.decode_flac_samples(blob)
    assert dec is not None
    rate, arr = dec
    assert rate == 16000 and arr.shape == (n, nch)
    assert np.array_equal(arr.ravel(), s)


@given(blob=raw_bytes)
@settings(max_examples=300, deadline=None)
def test_decode_flac_total_on_arbitrary_bytes(blob):
    for b in (blob, b"fLaC" + blob):
        out = multimodal.decode_flac_samples(b)
        assert out is None or (
            isinstance(out[0], int) and out[1].dtype.name == "int16"
        )


def test_flac_total_on_mutations_and_crc_rejects():
    """Totality over corrupted payloads: single-byte flips anywhere in
    a valid multi-frame file must reject or decode-equal (flips in the
    zero-padded size fields can be no-ops), never raise; every
    truncation rejects; and a flip INSIDE a frame's coded region must
    be caught by CRC/MD5 — never silently alter the samples."""
    import numpy as np

    s = np.random.RandomState(3).randint(-2048, 2048, 700).astype(np.int16)
    good = multimodal.encode_flac_samples(s, block_size=256)
    ref = multimodal.decode_flac_samples(good)
    assert ref is not None
    for flip in range(len(good)):
        mutated = bytearray(good)
        mutated[flip] ^= 0xFF
        out = multimodal.decode_flac_samples(bytes(mutated))
        assert out is None or np.array_equal(out[1], ref[1])
    for cut in range(0, len(good), 5):
        assert multimodal.decode_flac_samples(good[:cut]) is None


def _handmade_flac(subframes_writer, n, nch, samples_interleaved):
    """Assemble a one-frame FLAC stream around hand-written subframes:
    STREAMINFO (with the true MD5), frame header, the caller's subframe
    bits, padding and both CRCs — lets tests drive decoder paths the
    encoder never emits (LPC, stereo decorrelation, wasted bits)."""
    import hashlib

    import numpy as np

    md5 = hashlib.md5(
        np.asarray(samples_interleaved, dtype="<i2").tobytes()
    ).digest()
    si = 0
    si = (si << 16) | n
    si = (si << 16) | n
    si = (si << 24) | 0
    si = (si << 24) | 0
    si = (si << 20) | 16000
    si = (si << 3) | (nch - 1)
    si = (si << 5) | 15
    si = (si << 36) | n
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + (34).to_bytes(3, "big") + si.to_bytes(18, "big") + md5
    w = multimodal._FlacBitWriter()
    w.write(0x3FFE, 14)
    w.write(0, 2)
    w.write(7, 4)
    w.write(0, 4)
    # the caller supplies the channel-assignment nibble via this hook
    # so stereo-decorrelation modes are expressible
    ch_code = subframes_writer("ch_code", w, None)
    w.write(ch_code, 4)
    w.write(0b100, 3)
    w.write(0, 1)
    w.write_bytes(multimodal._flac_utf8_encode(0))
    w.write(n - 1, 16)
    w.write(multimodal._flac_crc8(w.buf), 8)
    subframes_writer("subframes", w, n)
    w.align()
    w.write(multimodal._flac_crc16(w.buf), 16)
    return bytes(out + w.buf)


def _write_verbatim_subframe(w, vals, bps):
    w.write(0, 1)
    w.write(1, 6)
    w.write(0, 1)
    for v in vals:
        w.write(int(v) & ((1 << bps) - 1), bps)


def test_flac_stereo_decorrelation_modes_decode():
    """Left/side, right/side and mid/side frames (which the encoder
    never emits) reconstruct the exact L/R samples, side channel at
    bps+1 — pinned against the numpy mirror of the spec arithmetic."""
    import numpy as np

    rng = np.random.RandomState(11)
    L = rng.randint(-2000, 2000, 96).astype(np.int64)
    R = rng.randint(-2000, 2000, 96).astype(np.int64)
    inter = np.empty(192, dtype=np.int16)
    inter[0::2], inter[1::2] = L, R
    cases = {
        8: (L, L - R),                     # left/side
        9: (L - R, R),                     # right/side
        10: ((L + R) >> 1, L - R),         # mid/side
    }
    for code, (c0, c1) in cases.items():
        def writer(stage, w, n, _code=code, _c0=c0, _c1=c1):
            if stage == "ch_code":
                return _code
            if _code == 9:  # right/side: the SIDE channel comes first
                _write_verbatim_subframe(w, _c0, 17)
                _write_verbatim_subframe(w, _c1, 16)
            else:
                _write_verbatim_subframe(w, _c0, 16)
                _write_verbatim_subframe(w, _c1, 17)
            return None

        gen = _handmade_flac(writer, 96, 2, inter)
        dec = multimodal.decode_flac_samples(gen)
        assert dec is not None, code
        assert np.array_equal(dec[1].ravel(), inter), code


def test_flac_lpc_and_wasted_bits_decode():
    """An LPC subframe (order 2, shift 5) and a wasted-bits subframe
    reconstruct exactly — decoder paths the FIXED-only encoder never
    exercises, pinned against pure-Python mirrors."""
    import numpy as np

    # LPC: s[i] = ((2*s[i-1]... coefs (3, -1) >> 1) + residual
    warm = [100, 130]
    coefs, shift, prec = [3, -1], 1, 4  # prec-1 coded as 3
    res = [5, -7, 2, 0, 11, -3, 1, 4]
    samples = list(warm)
    for r in res:
        pred = (coefs[0] * samples[-1] + coefs[1] * samples[-2]) >> shift
        samples.append(pred + r)
    n = len(samples)

    def writer(stage, w, _n):
        if stage == "ch_code":
            return 0  # mono
        w.write(0, 1)
        w.write(32 + len(coefs) - 1, 6)   # LPC, order 2
        w.write(0, 1)
        for v in warm:
            w.write(v & 0xFFFF, 16)
        w.write(prec - 1, 4)
        w.write(shift & 0x1F, 5)
        for c in coefs:
            w.write(c & (2**prec - 1), prec)
        w.write(0, 2)                     # rice method 0
        w.write(0, 4)                     # partition order 0
        w.write(2, 4)                     # rice param 2
        for r in res:
            u = r * 2 if r >= 0 else -r * 2 - 1
            w.write_unary(u >> 2)
            w.write(u & 3, 2)
        return None

    blob = _handmade_flac(writer, n, 1, samples)
    dec = multimodal.decode_flac_samples(blob)
    assert dec is not None
    assert dec[1].ravel().tolist() == samples

    # wasted bits: constant subframe at bps-2 with 2 wasted bits
    vals = [-404] * 12  # -101 << 2
    def writer2(stage, w, _n):
        if stage == "ch_code":
            return 0
        w.write(0, 1)
        w.write(0, 6)       # CONSTANT
        w.write(1, 1)       # wasted-bits flag
        w.write_unary(1)    # unary 1 -> wasted = 2
        w.write(-101 & 0x3FFF, 14)
        return None

    blob2 = _handmade_flac(writer2, 12, 1, vals)
    dec2 = multimodal.decode_flac_samples(blob2)
    assert dec2 is not None
    assert dec2[1].ravel().tolist() == vals


def py_greedy(w: str, vocab_by_len: dict) -> tuple[int, str]:
    """Independent greedy longest-match reference for `greedy_pieces`."""
    from kstreamjs_spark.operators.text import WORDPIECE_UNK

    pos, n, seg = 0, 0, []
    while pos < len(w):
        for l in sorted((k for k in vocab_by_len if k > 1), reverse=True):
            p = w[pos:pos + l]
            if len(p) == l and p in vocab_by_len.get(l, []):
                seg.append(("##" if n else "") + p)
                pos += l
                n += 1
                break
        else:
            c = w[pos]
            piece = c if c in vocab_by_len.get(1, []) else WORDPIECE_UNK
            seg.append(("##" if n else "") + piece)
            pos += 1
            n += 1
    return n, " ".join(seg)


@pytest.mark.slow
@given(
    words=st.lists(
        st.text(alphabet="abcdef", min_size=0, max_size=10),
        min_size=1,
        max_size=10,
        unique=True,
    ),
    chars=st.sets(st.sampled_from("abcdef"), min_size=1, max_size=6),
    multi=st.sets(
        st.text(alphabet="abcdef", min_size=2, max_size=4),
        max_size=8,
    ),
)
@settings(**SETTINGS)
def test_greedy_pieces_matches_reference_on_random_vocab(
    spark, words, chars, multi
):
    """q216's fold expression vs the independent Python greedy on
    RANDOM vocabularies and words — partial char coverage (UNK paths),
    overlapping multi-char pieces, boundary-length words, and the
    empty word all in one sweep."""
    from kstreamjs_spark.operators.text import greedy_pieces

    vocab: dict[int, list[str]] = {1: sorted(chars)}
    for p in multi:
        vocab.setdefault(len(p), []).append(p)
    for k in vocab:
        vocab[k] = sorted(set(vocab[k]))
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: (r["g"]["n_pieces"], r["g"]["seg"])
        for r in df.select(
            "w", greedy_pieces("w", vocab).alias("g")
        ).collect()
    }
    assert got == {w: py_greedy(w, vocab) for w in words}


@given(
    word=st.text(alphabet="abcdxyz", min_size=0, max_size=20),
    vocab_words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ),
)
@settings(**SETTINGS)
def test_unigram_viterbi_total_and_optimal(word, vocab_words):
    """q212b's UNK-total contract, randomized: the DP never raises on
    ANY input word (chars x/y/z are never in the vocab), every
    returned piece is either a vocab piece or a single OOV char, the
    pieces concatenate back to the word, and no real single-char piece
    is ever replaced by UNK (UNK floor never outranks a real score)."""
    from kstreamjs_spark.queries.llm import (
        _unigram_mirror,
        _unigram_scores,
        _unigram_viterbi,
    )

    vocab, _ = _unigram_mirror({w: 1 for w in vocab_words})
    score = _unigram_scores(vocab)
    seg = _unigram_viterbi(word, score)  # must not raise
    assert "".join(seg) == word
    # every piece is either scored (real vocab) or a single OOV char —
    # the UNK branch never swallows multi-char spans or known pieces
    for p in seg:
        assert p in score or (len(p) == 1 and p not in score)
