"""Elasticsearch-compatible routing hash.

ES routes a document to shard ``mod(murmur3_x86_32(routing), num_shards)``
where the hash is computed over the routing string's UTF-16 code units in
little-endian byte order with seed 0 (reference:
``Murmur3HashFunction.java:14-29`` — each Java ``char`` is emitted as
low-byte, high-byte — and ``ESHashPartitioner.scala:15-19`` which applies
``MathUtils.mod``, i.e. a floor/positive mod).

Spark's built-in ``hash()`` is also murmur3-x86-32 but with seed 42 over
UTF-8 bytes, so it is NOT routing-compatible.  ``es_hash`` builds the parity
hash as a JVM expression instead: ``encode(key, 'UTF-16LE')`` fed to a
``StaticInvoke`` of commons-codec ``MurmurHash3.hash32x86`` (seed 0; the
jar ships with Spark).

Scale notes: both halves are codegen'd into the caller's whole-stage stage,
so routing adds no Python hop and no Arrow round trip per row.  The
pure-python ``murmur3_x86_32`` / ``es_routing_hash`` stay as the reference
implementation the JVM expression is tested against.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.utils import get_active_spark_context

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_M32 = 0xFFFFFFFF


def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """Pure-python murmur3 x86_32 (Austin Appleby's public algorithm).

    Returns the *signed* 32-bit hash, matching the JVM ``int`` the reference
    partitions on.
    """
    h = seed & _M32
    n = len(data)
    nblocks = n >> 2
    for i in range(nblocks):
        j = i << 2
        k = data[j] | (data[j + 1] << 8) | (data[j + 2] << 16) | (data[j + 3] << 24)
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    tail = data[nblocks << 2 :]
    k = 0
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def es_routing_hash(routing: str) -> int:
    """Signed 32-bit ES routing hash of a string (UTF-16LE bytes, seed 0)."""
    return murmur3_x86_32(routing.encode("utf-16-le"), 0)


@functools.cache
def _hash32x86(jvm) -> Callable[[Column], Column]:
    """``MurmurHash3.hash32x86(bytes)`` as a Column builder.  The JVM
    handles are resolved once per gateway: each step of a ``jvm.a.b.C``
    path is its own py4j round trip."""
    utils = jvm.org.apache.spark.sql.classic.ExpressionUtils
    expression, column = utils.expression, utils.column
    to_seq = jvm.org.apache.spark.api.python.PythonUtils.toSeq
    as_list = jvm.java.util.List.of
    static_invoke = jvm.org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    murmur3 = jvm.java.lang.Class.forName("org.apache.commons.codec.digest.MurmurHash3")
    int_type = jvm.org.apache.spark.sql.types.DataTypes.IntegerType
    no_input_types = to_seq(as_list())
    no_function = jvm.scala.Option.empty()

    def build(data: Column) -> Column:
        invoke = static_invoke(
            murmur3,
            int_type,
            "hash32x86",
            to_seq(as_list(expression(data._jc))),
            no_input_types,
            True,  # propagateNull: null bytes hash to null
            True,  # returnNullable
            True,  # isDeterministic
            no_function,
        )
        return Column(column(invoke))

    return build


def es_hash(key: Column | str) -> Column:
    """ES routing hash of ``key`` cast to string, as a codegen'd JVM
    expression (signed int); null keys hash to null."""
    c = F.col(key) if isinstance(key, str) else key
    murmur3 = _hash32x86(get_active_spark_context()._jvm)
    return murmur3(F.encode(c.cast("string"), "UTF-16LE"))


def es_shard(key: Column | str, num_shards: int) -> Column:
    """Shard id for a routing key: positive-mod of the ES hash.

    ``MathUtils.mod`` in the reference is the floor mod — same as Spark's
    ``pmod`` — so ``es_shard(key, n) == ESHashPartitioner(n).getPartition(key)``.
    Null routing keys land on shard 0, matching the reference partitioner's
    null handling (``ESHashPartitioner.scala:16``) — without the coalesce a
    null-routed doc would fall into a ``shard=null`` bucket in the bundle
    layout instead of shard 0.
    """
    return F.coalesce(F.pmod(es_hash(key), F.lit(num_shards)), F.lit(0)).cast("int")
