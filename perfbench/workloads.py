"""The benchmark's two workloads.

Each workload prepares its seeded inputs (untimed), then runs iterations
through the library's public entry points and checks every iteration's
output.  An iteration starts from an empty output root and removes it
afterwards.

* ``index_docs``   — ``jobs.hive2es.run_job``: scan, WHERE, documents,
  shard routing with the ESHashPartitioner shuffle, staged bundle,
  validate, atomic rename, alias swap.  Executor-bound.
* ``curate_query`` — the driver-bound consumers, one after the other in
  each iteration:

  - the daily curation (``CurateDaily``): ``jobs.curate.run_curation``
    for today's batch (day 2, the incremental near-dup path) against a
    copy of the signature store that yesterday's batch (day 1) left;
  - a round of requests (``QueryMix``): one per family in a seeded order,
    each compiled from scratch and collected
    (``plans.query_dsl.es_search``, ``plans.scoring.es_scored_search``,
    ``plans.esql.esql``).
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
import queries

#: rows per input table of each workload or workload part.  ``full`` is
#: what the benchmark measures; ``tiny`` (sf0.001 x1) is for the smoke test.
SIZES = {
    "full": {
        "index_docs": {"lineitem": 1_200_000},
        "query_mix": {"orders": 15_000, "lineitem": 60_000, "documents": 500},
        "curate_daily": {"documents": 1_000},
    },
    "tiny": {
        "index_docs": {"lineitem": 6_000},
        "query_mix": {"orders": 1_500, "lineitem": 6_000, "documents": 500},
        "curate_daily": {"documents": 500},
    },
}

INDEX_WHERE = "l_quantity < 30"
INDEX_SHARDS = 5
INDEX_ALIAS = "lineitem"
ROUTING_SAMPLE = 200  # docs per shard re-hashed in the routing check


@dataclass
class Iteration:
    """One timed iteration and what its checks and metrics need."""

    index: int
    #: timed wall time of the whole iteration (job plus requests)
    wall_s: float = 0.0
    #: wall time of the job (``run_job``, or the curation day)
    job_s: float = 0.0
    #: latency of each request (index_docs: of its one ``run_job``)
    calls_s: list[float] = field(default_factory=list)
    src_rows: int = 0
    bytes_out: int = 0
    out_rows: int = 0
    errors: list[str] = field(default_factory=list)
    #: workload-specific detail for checks and per-layer metrics
    detail: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Workload:
    name = ""
    #: measured iterations a run makes at least, however long they take
    min_iterations = 1

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        self.seed = seed
        self.rows = SIZES[size].get(self.name, {})
        self.inputs: dict = {}
        self.spark = None
        self.tracer = None

    def prepare(self, cache: gen.InputCache) -> dict:
        """Generate (or reuse) the inputs; returns ``{table: {rows, bytes}}``."""
        key = f"{self.name}-f{gen.FORMAT}-s{self.seed}-" + "-".join(
            f"{t}{n}" for t, n in sorted(self.rows.items()))
        self.inputs = cache.input_set(key, self._build_inputs)
        return {t: {"rows": v["rows"], "bytes": v["bytes"]} for t, v in self.inputs.items()}

    def input_bytes(self) -> int:
        return sum(v["bytes"] for v in self.inputs.values())

    def start(self, spark, tracer=None) -> None:
        self.spark = spark
        self.tracer = tracer

    def out_root(self, i: int) -> str:
        root = os.path.join(self.work, "out", f"{self.name}-{i}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        return root

    def run(self, i: int, traced: bool = False) -> Iteration:
        """One iteration: timed work, then untimed checks, then removal of
        its output root.  A raised error is recorded as a failed check."""
        it = Iteration(i)
        root = self.out_root(i)
        try:
            self._iterate(it, root, traced)
        except Exception as e:  # noqa: BLE001 - one failed iteration is a result
            import traceback

            traceback.print_exc()
            it.errors.append(f"{type(e).__name__}: {e}")
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return it

    def _build_inputs(self, d: str) -> None:
        raise NotImplementedError

    def _iterate(self, it: Iteration, root: str, traced: bool) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------


class IndexDocs(Workload):
    name = "index_docs"

    def _build_inputs(self, d: str) -> None:
        gen.write(gen.lineitem(self.seed, self.rows["lineitem"]),
                  os.path.join(d, "lineitem.parquet"))

    def prepare(self, cache):
        info = super().prepare(cache)
        path = self.inputs["lineitem"]["path"]
        self.expected_docs = duckdb.sql(
            f"SELECT COUNT(*) FROM '{path}' WHERE {INDEX_WHERE}").fetchone()[0]
        return info

    def _iterate(self, it, root, traced):
        from hive2es_offline_spark.functions.es_hash import es_routing_hash
        from hive2es_offline_spark.jobs.hive2es import Hive2ESConfig, run_job
        from hive2es_offline_spark.sinks import bundle

        index = f"lineitem_{20260101 + it.index}"
        cfg = Hive2ESConfig(
            table="lineitem",
            index_name=index,
            sf_dir=os.path.dirname(self.inputs["lineitem"]["path"]),
            where=INDEX_WHERE,
            routing_col="l_orderkey",
            repartition=True,
            num_shards=INDEX_SHARDS,
            output_root=root,
        )
        t0 = time.perf_counter()
        manifest = run_job(self.spark, cfg)
        it.wall_s = it.job_s = time.perf_counter() - t0
        it.calls_s.append(it.job_s)
        it.src_rows = self.inputs["lineitem"]["rows"]
        published = os.path.join(root, index)
        it.bytes_out = _dir_bytes(published)
        it.out_rows = manifest["doc_count"]
        counts = {int(k): v for k, v in manifest["shard_counts"].items()}
        it.detail["shard_counts"] = counts

        # -- checks (untimed) --
        if manifest["doc_count"] != self.expected_docs:
            it.errors.append(
                f"doc_count {manifest['doc_count']} != DuckDB {self.expected_docs}")
        if sum(counts.values()) != manifest["doc_count"]:
            it.errors.append("shard_counts do not sum to doc_count")
        for shard in range(INDEX_SHARDS):
            files = sorted(glob.glob(os.path.join(published, f"shard={shard}", "*.parquet")))
            if not files:
                if counts.get(shard):
                    it.errors.append(f"shard {shard} has no files")
                continue
            keys = pq.read_table(files[0], columns=["_routing"]).column(0).to_pylist()
            for key in keys[:ROUTING_SAMPLE]:
                if es_routing_hash(key) % INDEX_SHARDS != shard:
                    it.errors.append(f"doc routed {key!r} sits in shard {shard}")
                    break
        alias = bundle.resolve_alias(root, INDEX_ALIAS)
        if alias != index:
            it.errors.append(f"alias resolves to {alias!r}, not {index!r}")


# ---------------------------------------------------------------------------


class QueryMix(Workload):
    """One round of requests: adds their latencies to ``calls_s`` and
    their results to ``out_rows``; a part of ``curate_query``."""

    name = "query_mix"

    def _build_inputs(self, d: str) -> None:
        gen.write(gen.orders(self.seed, self.rows["orders"]), os.path.join(d, "orders.parquet"))
        gen.write(gen.lineitem(self.seed, self.rows["lineitem"]),
                  os.path.join(d, "lineitem.parquet"))
        gen.write(gen.documents(self.seed, self.rows["documents"]),
                  os.path.join(d, "documents.parquet"))

    def prepare(self, cache):
        info = super().prepare(cache)
        self.requests = queries.requests(self.seed)
        self.rng = np.random.default_rng([self.seed, 12])
        con = duckdb.connect()
        for t, v in self.inputs.items():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{v['path']}'")
        #: request key -> (columns, expected hash); DuckDB renderings first,
        #: then the first result seen for the other families
        self.expected: dict[str, tuple[list[str] | None, str]] = {}
        for r in self.requests:
            sql = queries.duckdb_sql(r)
            if sql is not None:
                rel = con.sql(sql)
                self.expected[r.key] = (rel.columns, queries.result_hash(rel.fetchall()))
        con.close()
        return info

    def _round(self) -> list[queries.Request]:
        """One request per family, seeded variant, seeded order."""
        by_family = {}
        for r in self.requests:
            by_family.setdefault(r.family, []).append(r)
        order = self.rng.permutation(len(queries.FAMILIES))
        return [by_family[queries.FAMILIES[k]][int(self.rng.integers(0, queries.VARIANTS))]
                for k in order]

    def _iterate(self, it, root, traced):
        spark = self.spark
        paths = {t: v["path"] for t, v in self.inputs.items()}
        per_request = []
        for req in self._round():
            table = queries.TABLE[req.family]
            t0 = time.perf_counter()
            job0 = self.tracer.job_id() if traced else 0
            py0 = self.tracer.py4j_calls() if traced else 0
            # the source read is part of every request, as in jobs/query.py
            df = queries.build({table: spark.read.parquet(paths[table])}, req)
            t1 = time.perf_counter()
            py1 = self.tracer.py4j_calls() if traced else 0
            job1 = self.tracer.job_id() if traced else 0
            rows = df.collect()
            t2 = time.perf_counter()
            it.calls_s.append(t2 - t0)
            rec = {"family": req.family, "key": req.key, "build_ms": (t1 - t0) * 1000,
                   "exec_ms": (t2 - t1) * 1000, "rows": len(rows)}
            if traced:
                rec["build_py4j"] = py1 - py0
                rec["build_jobs"] = job1 - job0
                rec["catalyst"] = self.tracer.catalyst_phases(df)
            per_request.append(rec)
            it.out_rows += len(rows)
            self._check(it, req, df.columns, rows)
        it.detail["requests"] = per_request

    def _check(self, it, req, columns, rows):
        exp = self.expected.get(req.key)
        if exp is not None and exp[0] is not None:
            cols = exp[0]  # DuckDB column order
            missing = [c for c in cols if c not in columns]
            if missing:
                it.errors.append(f"{req.key}: result lacks columns {missing}")
                return
            got = queries.result_hash([tuple(r[c] for c in cols) for r in rows])
        else:
            cols = list(columns)
            got = queries.result_hash([tuple(r) for r in rows], cols)
        if exp is None:
            self.expected[req.key] = (None, got)
        elif got != exp[1]:
            it.errors.append(f"{req.key}: result hash differs from "
                             f"{'DuckDB' if exp[0] else 'its first result'}")


# ---------------------------------------------------------------------------


def _train_split(doc_id: int) -> bool:
    """``operators.sampling.hash_split``'s default split, recomputed in
    Python: md5 of the id's string form, first 8 hex chars below 0.9."""
    h = hashlib.md5(str(doc_id).encode()).hexdigest()[:8]
    return h < format(int(0.9 * 16 ** 8), "08x")


def _library_digest() -> str:
    """Hash of the library's sources: a store built by other code is not
    reused."""
    import hive2es_offline_spark

    h = hashlib.sha256()
    pkg = os.path.dirname(hive2es_offline_spark.__file__)
    for dirpath, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


class CurateDaily(Workload):
    """The daily curation; a part of ``curate_query``.

    Yesterday's batch (day 1) is a fixed corpus, the same for every seed.
    Its signature store is built once, by running day 1 when a run starts
    and finds none, and is kept with the inputs, keyed by the library's
    sources.  Every iteration is the daily job: today's seeded batch (day
    2, with exact and near copies of yesterday's documents) against a fresh
    copy of that store, so it takes the incremental near-dup path and
    upserts version 2."""

    name = "curate_daily"

    def prepare(self, cache):
        n = self.rows["documents"]
        self.yesterday = cache.input_set(
            f"curate_yesterday-f{gen.FORMAT}-documents{n}",
            lambda d: gen.write(gen.documents(0, n, day=1), os.path.join(d, "day1.parquet")))
        info = super().prepare(cache)
        self.inputs.update(self.yesterday)
        self.store = os.path.join(os.path.dirname(self.yesterday["day1"]["path"]),
                                  f"store-{_library_digest()}")
        return {"day1": {k: self.yesterday["day1"][k] for k in ("rows", "bytes")}, **info}

    def _build_inputs(self, d: str) -> None:
        day1 = pq.read_table(self.yesterday["day1"]["path"])
        gen.write(gen.documents(self.seed, self.rows["documents"], day=2, prior=day1),
                  os.path.join(d, "day2.parquet"))

    def input_bytes(self) -> int:
        return self.inputs["day2"]["bytes"]

    def start(self, spark, tracer=None):
        super().start(spark, tracer)
        #: day 2's report counts in the warm-up, which every later
        #: iteration must reproduce
        self.first_counts: dict | None = None
        if not os.path.exists(os.path.join(self.store, "report.json")):
            self._build_store()
        with open(os.path.join(self.store, "report.json")) as f:
            self.day1_report = json.load(f)

    def _build_store(self) -> None:
        """Run day 1 into an empty store, check it, keep the store."""
        for old in glob.glob(os.path.join(os.path.dirname(self.store), "store-*")):
            shutil.rmtree(old)
        it = Iteration(0)
        root = tempfile.mkdtemp(prefix="curate-day1-")
        rep = self._day(it, root, 1, False, {})
        errors = self._check_day(root, 1, rep, rep["after_near_dup"])
        if errors:
            raise RuntimeError(f"building yesterday's store: {errors}")
        os.makedirs(self.store)
        shutil.copytree(os.path.join(root, "sigs"), os.path.join(self.store, "sigs"))
        with open(os.path.join(self.store, "report.json"), "w") as f:
            json.dump(rep, f, default=str)
        shutil.rmtree(root)

    def _day(self, it, root, day, traced, stage_ms):
        from hive2es_offline_spark.jobs.curate import CurateConfig, run_curation

        cfg = CurateConfig(
            input_path=self.inputs[f"day{day}"]["path"],
            output_path=os.path.join(root, f"export{day}"),
            num_shards=4,
            signature_store=os.path.join(root, "sigs"),
        )
        cb = None
        if traced:
            last = [time.perf_counter()]
            storage = it.detail.setdefault("storage_samples", [])

            def cb(name, df, last=last, storage=storage):
                now = time.perf_counter()
                stage_ms[name] = stage_ms.get(name, 0.0) + (now - last[0]) * 1000
                last[0] = now
                storage.append(self.tracer.storage_used())
                it.detail.setdefault("boundaries", []).append(df)

        t0 = time.perf_counter()
        rep = run_curation(self.spark, cfg, stage_cb=cb)
        t1 = time.perf_counter()
        it.job_s = t1 - t0
        if traced:
            stage_ms["tail"] = (t1 - last[0]) * 1000
        return rep

    def _iterate(self, it, root, traced):
        sigs = os.path.join(root, "sigs")
        shutil.copytree(os.path.join(self.store, "sigs"), sigs)
        store_before = _dir_bytes(sigs)
        stage_ms = {}
        rep = self._day(it, root, 2, traced, stage_ms)
        it.src_rows = self.inputs["day2"]["rows"]
        it.out_rows = rep["export"]["row_count"]
        it.bytes_out = (_dir_bytes(os.path.join(root, "export2"))
                        + _dir_bytes(sigs) - store_before)
        it.detail["stage_ms"] = stage_ms
        it.detail["report"] = rep

        # -- checks (untimed) --
        counts = {k: v for k, v in rep.items() if k != "export"}
        counts["export_rows"] = rep["export"]["row_count"]
        if self.first_counts is None:
            self.first_counts = counts
        elif counts != self.first_counts:
            it.errors.append(f"day 2 stage counts {counts} differ from the "
                             f"warm-up's {self.first_counts}")
        if rep.get("signature_store_version") != 2:
            it.errors.append(
                f"day 2 signature_store_version {rep.get('signature_store_version')}")
        it.errors += self._check_day(root, 1, None, self.day1_report["after_near_dup"])
        it.errors += self._check_day(root, 2, rep, rep["after_near_dup"])

    def _check_day(self, root, day, rep, survivors_expected) -> list[str]:
        """The store's live rows are every day's near-dup survivors, ids
        offset by day: recount ``day``'s survivors and, when ``rep`` is
        that day's report, its export and train split."""
        from hive2es_offline_spark.sinks import snapshot

        sigs = os.path.join(root, "sigs")
        ids = []
        for rel in snapshot.read_manifest(sigs)["partitions"].values():
            ids.extend(ds.dataset(os.path.join(sigs, rel), format="parquet")
                       .to_table(columns=["doc_id"]).column(0).to_pylist())
        survivors = [i for i in ids if i // gen.DAY_ID_OFFSET == day]
        errors = []
        if len(survivors) != survivors_expected:
            errors.append(f"day {day}: store holds {len(survivors)} survivors, "
                          f"report says {survivors_expected}")
        if rep is not None:
            train = sum(1 for i in survivors if _train_split(i))
            exported = _count_jsonl(os.path.join(root, f"export{day}"))
            if not (rep["export"]["row_count"] == train == exported):
                errors.append(
                    f"day {day}: export manifest {rep['export']['row_count']} rows, "
                    f"files {exported}, train split of after_near_dup {train}")
        return errors


def _count_jsonl(path: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(path, "part-*")):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt") as fh:
            n += sum(1 for line in fh if line.strip())
    return n


class CurateQuery(Workload):
    """Day 2 of the daily curation, then a round of requests.  ``job_s``
    and the row and byte figures are the curation's; the request
    latencies are the round's."""

    name = "curate_query"
    #: the daily job swings most with the host; a median of one would too
    min_iterations = 2

    def __init__(self, work: str, seed: int, size: str):
        super().__init__(work, seed, size)
        self.curate = CurateDaily(work, seed, size)
        self.query = QueryMix(work, seed, size)

    def prepare(self, cache):
        return {**self.curate.prepare(cache), **self.query.prepare(cache)}

    def input_bytes(self) -> int:
        return self.curate.input_bytes()

    def start(self, spark, tracer=None):
        super().start(spark, tracer)
        self.curate.start(spark, tracer)
        self.query.start(spark, tracer)

    def _iterate(self, it, root, traced):
        self.curate._iterate(it, root, traced)
        self.query._iterate(it, root, traced)
        it.wall_s = it.job_s + sum(it.calls_s)


WORKLOADS = {w.name: w for w in (IndexDocs, CurateQuery)}
