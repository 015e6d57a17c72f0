"""Index-bundle sink: staged, atomically-published document bundles.

The reference stages zipped Lucene shard dirs on HDFS under ``..._tmp`` names
and renames on completion (``CompressionUtils.java:51-83``,
``ESContainer.scala:251-285``); the server fleet polls for completed bundles
and installs them (``IndexBuilder.java:164-191``).  The Spark-first
equivalent keeps the PROTOCOL (stage -> validate -> atomic rename -> swap)
but stores bundles as shard-partitioned parquet + a JSON manifest, so no
embedded ES node, no zip, and any consumer (including the bulk loader) can
read a bundle as a normal table.

Layout:
    {root}/{index_name}_tmp/          staging (invisible to consumers)
        shard=*/part-*.parquet        documents, partitioned by shard
        _MANIFEST.json                row counts per shard + mapping + settings
    {root}/{index_name}/              published (after atomic rename)
    {root}/{alias}.alias.json         alias pointer (atomic swap via rename)

Scale notes: the write is ``partitionBy("shard")`` on the already
shard-co-located DataFrame, so each task writes only its own shard dirs (no
second shuffle).  The manifest's per-shard counts are read back from the
staged files' parquet footers (``staged_shard_counts``) — the row counts of
what was actually written, without a Spark job; publish then validates from
the manifest.  The rename publish is atomic on HDFS-like filesystems —
identical guarantee to the reference.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ..plans.mapping import index_settings_final, index_settings_for_load


def write_bundle(
    docs: DataFrame,
    root: str,
    index_name: str,
    num_shards: int,
    mapping: dict | None = None,
    shard_col: str = "_shard",
    final_settings: dict | None = None,
) -> dict:
    """Stage a document bundle.  ``docs`` must already carry ``shard_col``
    (see ``operators.routing.with_shard``).  Returns the manifest.

    ``final_settings`` are user index settings applied at publish, merged
    OVER the serving defaults (the reference's --final-index-setting,
    ``ESClient.java:251-266``)."""
    staging = os.path.join(root, f"{index_name}_tmp")
    renamed = docs.withColumnRenamed(shard_col, "shard")
    renamed.write.mode("overwrite").partitionBy("shard").parquet(staging)
    counts = staged_shard_counts(staging)
    manifest = {
        "index": index_name,
        "num_shards": num_shards,
        "doc_count": sum(counts.values()),
        "shard_counts": counts,
        "mapping": mapping or {},
        "settings_load": index_settings_for_load(num_shards),
        "settings_final": {**index_settings_final(), **(final_settings or {})},
        "created_ms": int(time.time() * 1000),
        "state": "started",  # mirrors the ZK started->completed state machine
    }
    with open(os.path.join(staging, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def staged_shard_counts(staging: str) -> dict[int, int]:
    """Rows per shard of a staged bundle, summed from the ``num_rows`` in
    each ``shard=*/*.parquet`` footer.  A file without a readable footer
    (e.g. truncated) raises instead of being counted short."""
    counts: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(glob.escape(staging), "shard=*", "*.parquet"))):
        shard = int(os.path.basename(os.path.dirname(path)).split("=", 1)[1])
        counts[shard] = counts.get(shard, 0) + pq.read_metadata(path).num_rows
    return counts


def publish_bundle(
    root: str,
    index_name: str,
    alias: str | None = None,
    min_docs: int = 1,
) -> dict:
    """Validate + atomically publish a staged bundle; optionally swap the
    alias pointer to it (reference finalization: ``NodeService.java:127-153``,
    alias swap ``ESClient.java:154-170``)."""
    staging = os.path.join(root, f"{index_name}_tmp")
    final = os.path.join(root, index_name)
    with open(os.path.join(staging, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    if manifest["doc_count"] < min_docs:
        raise ValueError(
            f"bundle {index_name} failed validation: {manifest['doc_count']} docs < {min_docs}"
        )
    manifest["state"] = "completed"
    manifest["published_ms"] = int(time.time() * 1000)
    with open(os.path.join(staging, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    if os.path.exists(final):
        shutil.rmtree(final)
    os.rename(staging, final)  # the atomic commit (HDFS rename semantics)
    if alias:
        swap_alias(root, alias, index_name)
    return manifest


def swap_alias(root: str, alias: str, index_name: str) -> None:
    """Atomic alias repoint: write-then-rename, same trick as the bundles."""
    tmp = os.path.join(root, f"{alias}.alias.json._tmp")
    dst = os.path.join(root, f"{alias}.alias.json")
    with open(tmp, "w") as f:
        json.dump({"alias": alias, "index": index_name}, f)
    os.replace(tmp, dst)


def resolve_alias(root: str, alias: str) -> str:
    with open(os.path.join(root, f"{alias}.alias.json")) as f:
        return json.load(f)["index"]


def read_manifest(root: str, index_name: str) -> dict:
    with open(os.path.join(root, index_name, "_MANIFEST.json")) as f:
        return json.load(f)


def read_bundle(spark: SparkSession, root: str, name_or_alias: str) -> DataFrame:
    """Read a published bundle (by index name or alias) as a DataFrame."""
    path = os.path.join(root, name_or_alias)
    if not os.path.exists(path):
        path = os.path.join(root, resolve_alias(root, name_or_alias))
    return spark.read.parquet(path)
