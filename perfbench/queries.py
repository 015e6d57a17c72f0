"""The ``query_mix`` request families.

Each family compiles one request from seeded parameters through a public
consumer entry point (``es_search``, ``es_scored_search``, ``esql``) — the
calls ``jobs/query.py`` and ``jobs/esql.py`` make — and the caller collects
the result.  Families with a DuckDB rendering are checked against it;
the others (analyzed and scored searches) are checked against the hash of
their first result.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

from gen import PRIORITIES, VOCAB

FAMILIES = (
    "dsl_filter",
    "dsl_aggs",
    "match_analyzed",
    "bm25_scored",
    "query_string",
    "esql_stats",
    "esql_score",
)

#: the one table each family reads
TABLE = {"dsl_filter": "orders", "dsl_aggs": "lineitem", "esql_stats": "orders",
         "match_analyzed": "documents", "bm25_scored": "documents",
         "query_string": "documents", "esql_score": "documents"}

#: request variants per family; rounds repeat them, so the
#: hash-of-first-result check sees every variant several times
VARIANTS = 3


@dataclass(frozen=True)
class Request:
    family: str
    variant: int
    params: tuple

    @property
    def key(self) -> str:
        return f"{self.family}/{self.variant}"


def requests(seed: int) -> list[Request]:
    """The ``VARIANTS`` distinct requests of every family, parameters drawn
    from ``seed``."""
    rng = np.random.default_rng([seed, 11])
    out = []
    for fam in FAMILIES:
        for v in range(VARIANTS):
            words = tuple(str(w) for w in rng.choice(VOCAB[:-4], 3, replace=False))
            lo = float(rng.integers(50, 300) * 1000)
            out.append(Request(fam, v, (
                lo, lo + float(rng.integers(50, 150) * 1000),
                str(rng.choice(PRIORITIES)), int(rng.integers(10, 40)),
                words, int(rng.integers(60, 400)), f"src{int(rng.integers(0, 20))}",
            )))
    return out


def build(tables: dict, req: Request):
    """Compile ``req`` into a DataFrame (no action on the result)."""
    from hive2es_offline_spark.plans import esql as E
    from hive2es_offline_spark.plans import query_dsl as Q
    from hive2es_offline_spark.plans import scoring as S

    lo, hi, prio, qty, words, nchars, src = req.params
    fam = req.family
    if fam == "dsl_filter":
        body = {
            "query": {"bool": {"filter": [
                {"range": {"o_totalprice": {"gte": lo, "lt": hi}}},
                {"term": {"o_orderpriority": prio}},
            ]}},
            "sort": [{"o_totalprice": {"order": "desc"}}, {"o_orderkey": "asc"}],
            "size": 20,
            "_source": ["o_orderkey", "o_totalprice", "o_orderpriority"],
        }
        return Q.es_search(tables["orders"], body, id_field="o_orderkey")
    if fam == "dsl_aggs":
        body = {
            "size": 0,
            "query": {"range": {"l_quantity": {"lte": qty}}},
            "aggs": {"by_flag": {
                "terms": {"field": "l_returnflag"},
                "aggs": {
                    "qty": {"sum": {"field": "l_quantity"}},
                    "top_price": {"max": {"field": "l_extendedprice"}},
                },
            }},
        }
        return Q.es_search(tables["lineitem"], body, id_field="l_orderkey")
    if fam == "match_analyzed":
        body = {
            "query": {"bool": {
                "must": [{"match": {"text": f"the {words[0]}ing {words[1]}s"}}],
                "filter": [{"range": {"n_chars": {"gte": nchars}}}],
            }},
            "sort": [{"doc_id": "asc"}],
            "size": 40,
            "_source": ["doc_id", "source", "n_chars"],
        }
        return Q.es_search(tables["documents"], body, id_field="doc_id",
                           analyzer="english")
    if fam == "bm25_scored":
        body = {
            "query": {"bool": {
                "must": [{"match": {"text": f"{words[0]} {words[1]}"}}],
                "should": [{"term": {"source": src}}],
            }},
            "size": 20,
            "_source": ["doc_id", "source"],
        }
        return S.es_scored_search(tables["documents"], body, id_field="doc_id")
    if fam == "query_string":
        body = {
            "query": {"query_string": {
                "query": f"(text:{words[0]} OR text:{words[1]}) AND "
                         f"n_chars:[{nchars} TO *] AND NOT text:\"{words[2]} "
                         f"{words[0]}\" AND -source:{src}",
            }},
            "sort": [{"doc_id": {"order": "asc"}}],
            "size": 40,
            "_source": ["doc_id", "source", "n_chars"],
        }
        return Q.es_search(tables["documents"], body, id_field="doc_id")
    if fam == "esql_stats":
        return E.esql({"orders": tables["orders"]}, f"""
            FROM orders
            | WHERE o_totalprice >= {lo}
            | EVAL band = CASE(o_totalprice < {hi}, "mid", "high")
            | STATS n = COUNT(*), top = MAX(o_totalprice) BY o_orderpriority, band
            | SORT o_orderpriority ASC, band ASC
        """)
    if fam == "esql_score":
        return E.esql({"documents": tables["documents"]}, f"""
            FROM documents METADATA _score
            | WHERE MATCH(text, "{words[0]} {words[1]}") AND n_chars >= {nchars}
            | KEEP doc_id, source, _score
            | SORT _score DESC, doc_id ASC
            | LIMIT 25
        """)
    raise ValueError(f"unknown family {fam!r}")


def duckdb_sql(req: Request) -> str | None:
    """DuckDB rendering of ``req`` with the same output columns as the
    Spark result, or None for families checked against their first
    result."""
    lo, hi, prio, qty, _words, _nchars, _src = req.params
    if req.family == "dsl_filter":
        return f"""
            SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
            WHERE o_totalprice >= {lo} AND o_totalprice < {hi}
              AND o_orderpriority = '{prio}'
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"""
    if req.family == "dsl_aggs":
        return f"""
            SELECT l_returnflag AS key, COUNT(*) AS doc_count,
                   SUM(l_quantity) AS qty, MAX(l_extendedprice) AS top_price
            FROM lineitem WHERE l_quantity <= {qty} GROUP BY l_returnflag"""
    if req.family == "esql_stats":
        return f"""
            SELECT COUNT(*) AS n, MAX(o_totalprice) AS top, o_orderpriority,
                   CASE WHEN o_totalprice < {hi} THEN 'mid' ELSE 'high' END AS band
            FROM orders WHERE o_totalprice >= {lo} GROUP BY ALL"""
    return None


def _canon(v):
    if isinstance(v, float):
        return repr(round(v, 6))
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return repr(v)


def result_hash(rows, columns: list[str] | None = None) -> str:
    """Order-insensitive hash of result rows (tuples), floats rounded to 6
    decimals."""
    lines = sorted("|".join(_canon(v) for v in r) for r in rows)
    h = hashlib.sha256()
    if columns is not None:
        h.update(",".join(columns).encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return h.hexdigest()
