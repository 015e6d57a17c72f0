"""Property-based tests (hypothesis) for the pure-python cores — bulk
batching invariants, field naming, mapping synthesis — plus JVM-vs-python
routing-hash parity over a seeded key corpus."""

import json
import random
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from hive2es_offline_spark.functions.es_hash import (
    es_hash,
    es_routing_hash,
    murmur3_x86_32,
)
from hive2es_offline_spark.operators.document import map_field_name, normalize_field_name
from hive2es_offline_spark.plans.mapping import synthesize_mapping
from hive2es_offline_spark.sinks.es_bulk import iter_bulk_batches


def _routing_key_corpus(seed: int = 7, rounds: int = 6) -> list[str | None]:
    """Seeded keys: nulls and empty strings, then ``rounds`` keys of every
    length 0-80 (so every ``len % 4``) from each of ASCII, accented Latin,
    CJK, emoji (surrogate pairs in UTF-16) and all four mixed."""
    rng = random.Random(seed)
    alphabets = [
        string.printable,
        "àáâãäåçèéêëìíîïñòóôõöùúûüýÿßøæœ",
        "".join(map(chr, range(0x4E00, 0x4E00 + 400))),
        "".join(map(chr, range(0x1F600, 0x1F650))),
    ]
    alphabets.append("".join(alphabets))
    keys: list[str | None] = [None, ""] * 20
    for _ in range(rounds):
        for pool in alphabets:
            for length in range(81):
                keys.append("".join(rng.choice(pool) for _ in range(length)))
    return keys


def test_jvm_hash_matches_scalar(spark):
    """The codegen'd JVM ``es_hash`` equals the pure-python oracle on every
    key, in one Spark job."""
    keys = _routing_key_corpus()
    df = spark.createDataFrame(list(enumerate(keys)), "i int, k string")
    got = dict(df.select("i", es_hash("k").alias("h")).collect())
    assert len(keys) >= 2000 and len(got) == len(keys)
    for i, k in enumerate(keys):
        assert got[i] == (None if k is None else es_routing_hash(k)), repr(k)


@settings(max_examples=200)
@given(st.binary(max_size=64), st.integers(min_value=0, max_value=2**32 - 1))
def test_murmur3_is_int32(data, seed):
    h = murmur3_x86_32(data, seed)
    assert -(2**31) <= h < 2**31


@settings(max_examples=100)
@given(st.lists(st.tuples(st.text(min_size=1, max_size=8), st.text(max_size=30)), max_size=60))
def test_bulk_batches_preserve_every_doc(docs):
    triples = [(i_id, i_id, json.dumps({"v": body})) for i_id, body in docs]
    payloads = list(iter_bulk_batches(iter(triples), "idx", bulk_actions=7))
    metas = []
    for p in payloads:
        lines = p.strip().split("\n")
        assert len(lines) % 2 == 0
        metas += [json.loads(lines[i])["create"]["_id"] for i in range(0, len(lines), 2)]
    assert metas == [t[0] for t in triples]  # order + completeness
    for p in payloads[:-1]:
        assert len(p.strip().split("\n")) == 14  # 7 actions x 2 lines


@settings(max_examples=200)
@given(st.text(max_size=30))
def test_normalize_field_name_idempotent_and_clean(name):
    out = normalize_field_name(name)
    assert normalize_field_name(out) == out
    assert "&" not in out and "$" not in out
    assert out == out.lower()


@settings(max_examples=100)
@given(st.text(min_size=1, max_size=20), st.text(min_size=1, max_size=20))
def test_il_map_fields_keep_prefix(col, key):
    out = map_field_name(col + "_il", key)
    assert out.startswith(normalize_field_name(col + "_il-"))


@settings(max_examples=100)
@given(
    st.lists(
        st.tuples(
            st.text(min_size=1, max_size=10),
            st.sampled_from(["string", "long", "integer", "double", "date"]),
            st.booleans(),
        ),
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
def test_mapping_synthesis_policy(fields):
    m = synthesize_mapping(fields)["doc"]
    assert m["_all"] == {"enabled": False}
    for es_key, es_type, need_index in fields:
        entry = m["properties"][es_key]
        assert entry["type"] == es_type
        if not need_index:
            assert entry["index"] == "no"
        elif es_type == "string":
            assert entry["index"] == "not_analyzed"
        if es_type == "date":
            assert entry["format"] == "yyyyMMdd"


# --- JPEG codec properties (pure python+numpy, no Spark) -------------------

import numpy as np
from hypothesis import HealthCheck

from hive2es_offline_spark.operators.jpeg import decode_jpeg_pixels, encode_jpeg


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(min_value=1, max_value=24),   # height: exercises non-MCU dims
    st.integers(min_value=1, max_value=24),   # width
    st.integers(min_value=0, max_value=255),  # base value
    st.sampled_from(["444", "420"]),
    st.integers(min_value=0, max_value=3),    # restart interval
)
def test_jpeg_roundtrip_dims_and_error_bound(h, w, base, subsampling, rst):
    # smooth content (solid + mild gradient): round-trip must preserve the
    # EXACT dimensions for any h/w (crop from MCU padding) and keep error
    # at the quantization level
    grad = np.linspace(0, 30, h * w * 3).reshape(h, w, 3)
    img = np.clip(base + grad, 0, 255).astype(np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg(img, subsampling=subsampling, restart_interval=rst))
    assert dec is not None and dec.shape == (h, w, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 16  # solid+mild-gradient quantization bound


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=200))
def test_jpeg_decoder_total_on_garbage(data):
    # arbitrary bytes (including FFD8-prefixed garbage) must return None or
    # a valid array — never raise out of decode_jpeg_pixels
    out = decode_jpeg_pixels(b"\xff\xd8" + data)
    assert out is None or (out.ndim == 3 and out.shape[2] == 3)


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=300))
def test_progressive_decoder_total_on_garbage(data):
    # a valid progressive header followed by arbitrary bytes must return
    # None or a valid array — never raise or hang
    from hive2es_offline_spark.operators.jpeg import encode_jpeg_progressive

    img = np.full((8, 8, 3), 100, np.uint8)
    enc = encode_jpeg_progressive(img)
    i = enc.find(b"\xFF\xDA")  # first SOS: keep headers, fuzz scan data
    out = decode_jpeg_pixels(enc[:i] + data)
    assert out is None or (out.ndim == 3 and out.shape[2] == 3)
