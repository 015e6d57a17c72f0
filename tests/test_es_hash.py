"""Golden-vector tests for ES murmur3 routing parity.

Vectors come from two public sources: the murmur3 reference test suite (raw
bytes) and Elasticsearch's own ``Murmur3HashFunctionTests`` (string routing,
UTF-16LE) — the same algorithm the reference job partitions by
(``Murmur3HashFunction.java:14-29``, ``ESHashPartitioner.scala:15-19``).
"""

import pyspark.sql.functions as F
import pytest

from hive2es_offline_spark.functions.es_hash import (
    es_routing_hash,
    es_shard,
    murmur3_x86_32,
)


def _s32(x: int) -> int:
    return x - (1 << 32) if x & 0x80000000 else x


@pytest.mark.parametrize(
    "data,seed,expected",
    [
        (b"", 0, 0x0),
        (b"hello", 0, 0x248BFA47),
        (b"Hello, world!", 0, 0xC0363E43),
        (b"", 1, 0x514E28B7),
    ],
)
def test_murmur3_reference_vectors(data, seed, expected):
    assert murmur3_x86_32(data, seed) == _s32(expected)


# Elasticsearch Murmur3HashFunctionTests golden vectors (public test suite).
ES_VECTORS = {
    "hell": 0x5A0CB7C3,
    "hello": 0xD7C31989,
    "hello w": 0x22AB2984,
    "hello wo": 0xDF0CA123,
    "hello wor": 0xE7744D61,
}


@pytest.mark.parametrize("routing,expected", sorted(ES_VECTORS.items()))
def test_es_routing_vectors(routing, expected):
    assert es_routing_hash(routing) == _s32(expected)


def test_shard_assignment_matches_reference_partitioner(spark):
    """es_shard == MathUtils.mod(Murmur3HashFunction.hash(key), n) for a
    spread of keys, computed through the JVM expression path."""
    keys = [str(i) for i in range(200)] + list(ES_VECTORS)
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["shard"]
        for r in df.select("k", es_shard(F.col("k"), 5).alias("shard")).collect()
    }
    for k in keys:
        assert got[k] == es_routing_hash(k) % 5, k


def test_null_key_routes_to_shard_zero(spark):
    # reference ESHashPartitioner.scala:16: null routing key -> partition 0
    df = spark.createDataFrame([(None,), ("x",)], "k string")
    rows = df.select(es_shard(F.col("k"), 3).alias("s")).collect()
    assert rows[0]["s"] == 0
    assert rows[1]["s"] is not None
