"""Property-based tests (hypothesis): the core operators must agree with
trivially-correct pure-Python reference implementations on random small
inputs — including the traps (NULL orderings, ties, empty groups,
duplicate keys, skewed values)."""

import datetime
import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from open_bus_stride_etl_spark.functions.geo import haversine_meters
from open_bus_stride_etl_spark.operators.banded_join import banded_priority_join
from open_bus_stride_etl_spark.operators.enrich import enrich_update
from open_bus_stride_etl_spark.operators.first_last import first_last_by
from open_bus_stride_etl_spark.sources.csv_package import key_hashes

SETTINGS = dict(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)

BASE = datetime.datetime(2024, 5, 1)


@st.composite
def event_rows(draw):
    n = draw(st.integers(1, 25))
    rows = []
    for i in range(n):
        g = draw(st.integers(0, 4))
        ts_off = draw(st.one_of(st.none(), st.integers(0, 3600)))
        rows.append(
            (
                i,
                g,
                None if ts_off is None else BASE + datetime.timedelta(seconds=ts_off),
            )
        )
    return rows


@given(event_rows())
@settings(**SETTINGS)
def test_first_last_by_matches_python(spark, rows):
    df = spark.createDataFrame(rows, "id long, g long, ts timestamp")
    got = {
        r["g"]: (r["first_id"], r["last_id"], r["n_rows"])
        for r in first_last_by(df, "g", "ts", ["id"], ["id"]).collect()
    }
    want = {}
    for g in {r[1] for r in rows}:
        grp = [r for r in rows if r[1] == g]
        nn = [r for r in grp if r[2] is not None]
        if nn:
            first = min(nn, key=lambda r: (r[2], r[0]))[0]
            last = max(nn, key=lambda r: (r[2], r[0]))[0]
        else:
            first = last = None
        want[g] = (first, last, len(grp))
    assert got == want


@given(event_rows())
@settings(**SETTINGS)
def test_content_hash_is_order_and_partition_invariant(spark, rows):
    df = spark.createDataFrame(rows, "id long, g long, ts timestamp").withColumn(
        "_k", F.lit("k")
    )
    h1 = key_hashes(df, "_k")["k"][0]
    h2 = key_hashes(df.orderBy(F.col("ts").desc_nulls_first(), "id").repartition(7), "_k")["k"][0]
    assert h1 == h2
    # equals the pure-python recomputation of the same hash definition
    total = 0
    for (i, g, ts) in rows:
        parts = [
            str(i),
            str(g),
            str(ts) if ts is not None else "\x00NULL\x00",
        ]
        md5 = hashlib.md5("|".join(parts).encode()).hexdigest()
        total += int(md5[:10], 16)
    assert h1 == total + len(rows)


@st.composite
def banded_inputs(draw):
    nl = draw(st.integers(1, 12))
    nr = draw(st.integers(0, 12))
    left = [(i, BASE + datetime.timedelta(seconds=draw(st.integers(0, 2000)))) for i in range(nl)]
    right = [
        (100 + j, BASE + datetime.timedelta(seconds=draw(st.integers(0, 2000))))
        for j in range(nr)
    ]
    return left, right


@given(banded_inputs())
@settings(**SETTINGS)
def test_banded_priority_join_matches_bruteforce(spark, lr):
    left, right = lr
    tiers = [1, 3, 5]
    ldf = spark.createDataFrame(left, "lid long, ts timestamp")
    rdf = spark.createDataFrame(right, "rid long, rts timestamp")
    got = {
        r["lid"]: (r["matched_rid"], r["tier"])
        for r in banded_priority_join(
            ldf, rdf, "ts", "rts", tiers, left_id="lid", right_id="rid"
        ).collect()
    }
    want = {}
    for lid, lts in left:
        best = None
        for rid, rts in right:
            dt = abs((lts - rts).total_seconds())
            tier = next((t for t in tiers if dt <= t * 60), None)
            if tier is None:
                continue
            key = (tier, dt, rid)
            if best is None or key < best:
                best = key
        want[lid] = (best[2], best[0]) if best else (None, None)
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.one_of(st.none(), st.integers(0, 100))),
        min_size=1,
        max_size=15,
    ),
    st.lists(st.tuples(st.integers(0, 9), st.integers(200, 300)), max_size=10),
)
@settings(**SETTINGS)
def test_enrich_update_only_if_null(spark, base_rows, upd_rows):
    # dedup update keys (enrich_update contract: one update row per key)
    seen, upds = set(), []
    for k, v in upd_rows:
        if k not in seen:
            seen.add(k)
            upds.append((k, v))
    base = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(base_rows)], "rowid long, k long, v long"
    )
    upd = spark.createDataFrame(upds, "k long, nv long") if upds else spark.createDataFrame(
        [], "k long, nv long"
    )
    out = {
        r["rowid"]: r["v"]
        for r in enrich_update(base, upd, key="k", set_cols={"v": "nv"}).collect()
    }
    upd_map = dict(upds)
    for i, (k, v) in enumerate(base_rows):
        expected = v if v is not None else upd_map.get(k)
        assert out[i] == expected


@given(
    st.floats(-89, 89), st.floats(-179, 179), st.floats(-89, 89), st.floats(-179, 179)
)
@settings(**SETTINGS)
def test_haversine_properties(spark, lat1, lon1, lat2, lon2):
    def hv(a, b, c, d):
        return spark.range(1).select(
            haversine_meters(F.lit(a), F.lit(b), F.lit(c), F.lit(d)).alias("m")
        ).collect()[0]["m"]

    d12 = hv(lat1, lon1, lat2, lon2)
    # symmetry and identity
    assert hv(lat1, lon1, lat1, lon1) == 0.0
    assert math.isclose(d12, hv(lat2, lon2, lat1, lon1), rel_tol=1e-9, abs_tol=1e-6)
    # bounded by half the earth's circumference
    assert 0.0 <= d12 <= 20_037_509.0


@st.composite
def doc_pairs(draw):
    """Two small docs over a tiny vocabulary: repeated words and shared
    runs arise naturally, hitting multi-diagonal and duplicate-shingle
    paths."""
    vocab = ["a", "b", "c", "d", "e"]
    mk = lambda: " ".join(draw(st.lists(st.sampled_from(vocab), min_size=3, max_size=18)))
    return mk(), mk()


def _ref_shared_spans(ta, tb, k=3):
    """Brute force: all (pos_a, pos_b) cells with equal k-grams; runs =
    maximal diagonal chains; returns (max_run, n_cells) or None."""
    wa, wb = ta.split(), tb.split()
    sa = [" ".join(wa[i : i + k]) for i in range(len(wa) - k + 1)]
    sb = [" ".join(wb[i : i + k]) for i in range(len(wb) - k + 1)]
    cells = {(i, j) for i, s in enumerate(sa) for j, t in enumerate(sb) if s == t}
    if not cells:
        return None
    best = 0
    for (i, j) in cells:
        if (i - 1, j - 1) in cells:
            continue  # not a chain start
        run = 1
        while (i + run, j + run) in cells:
            run += 1
        best = max(best, run)
    return best, len(cells)


@given(doc_pairs())
@settings(**SETTINGS)
def test_shared_span_pairs_matches_bruteforce(spark, pair):
    from open_bus_stride_etl_spark.operators.dedup import _span_runs

    ta, tb = pair
    docs = spark.createDataFrame([Row(doc_id=1, text=ta), Row(doc_id=2, text=tb)])
    cands = spark.createDataFrame([Row(doc_a=1, doc_b=2)])
    got = _span_runs(docs, cands).collect()
    want = _ref_shared_spans(ta, tb)
    if want is None:
        assert got == []
    else:
        assert len(got) == 1
        r = got[0]
        assert (r["max_run_shingles"], r["n_matches"]) == want
        assert r["max_run_words"] == want[0] + 2


# --- PNG/WAV codecs ----------------------------------------------------------


@given(
    st.integers(1, 6), st.integers(1, 6),
    st.sampled_from([(0, 1), (2, 3), (4, 2), (6, 4)]),
    st.lists(st.integers(0, 4), min_size=6, max_size=6),
    st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_png_roundtrip_property(h, w, color_ch, filters, seed):
    """Random dims x random per-row filter choices x every color type:
    encode -> decode must be bit-exact."""
    import numpy as np

    from open_bus_stride_etl_spark.operators.multimodal import decode_image, encode_png

    color_type, ch = color_ch
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    payload = encode_png(px, color_type, filters=filters[:h])
    got = decode_image(payload)
    assert got.shape == (h, w, ch) and (got == px).all()


@given(
    st.integers(1, 30), st.sampled_from([1, 2, 3]),
    st.sampled_from([8, 16]), st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_wav_roundtrip_property(frames, channels, bits, seed):
    import numpy as np

    from open_bus_stride_etl_spark.operators.multimodal import decode_audio, encode_wav
    from tests.test_llm_ops import wave_pcm8

    rng = np.random.default_rng(seed)
    lo, hi = (-128, 128) if bits == 8 else (-32768, 32768)
    samples = rng.integers(lo, hi, size=(frames, channels), dtype=np.int32)
    payload = encode_wav(samples, sample_rate=22050) if bits == 16 else wave_pcm8(samples, 22050)
    got, sr = decode_audio(payload)
    assert sr == 22050 and got.shape == (frames, channels) and (got == samples).all()
