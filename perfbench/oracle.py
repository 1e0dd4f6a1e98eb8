"""DuckDB oracle answers for every output the benchmark checks.

The expected answers come from the repository's own DuckDB oracle twins
(`plans.all_oracles()`, `plans.matching.UNIFY_SQL` and the D-route twins in
`plans.api`), run over the benchmark's input tables (``data/``). Program outputs are read back
from the parquet the program wrote, again with DuckDB, and compared as
canonical digests: column-name-sorted, row-sorted, stringified cells with
floats rounded to 9 digits (the rule of the repository's oracle gate).

Answers are cached in a JSON file keyed by a digest of the input tables and
the oracle SQL, because recomputing them on every run would cost more than
the run itself. The cache is filled outside the timed region and outside
the set-up time.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import json
import math
import os
from typing import Any

import duckdb

from australian_company_etl_spark.functions.normalize import valid_name_sql
from australian_company_etl_spark.functions.textfns import tokens_all_sql
from australian_company_etl_spark.plans import all_oracles
from australian_company_etl_spark.plans import api as api_plans
from australian_company_etl_spark.plans.matching import UNIFY_SQL

#: the input tables the workloads read, shipped in ``data/``
TABLES = ["region", "nation", "customer", "supplier", "part", "documents", "embeddings"]
BATCH_TWINS = ["etl_dag_end_to_end", "curate_corpus", "dedup_setsim_prefix", "knn_graph_lsh"]
SERVING_TABLES = ["customer", "nation", "part", "documents"]


def _cell(v: Any) -> str:
    if v is None:
        return "None"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonical(cols: list[str], rows: list) -> list[list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([[_cell(r[i]) for i in order] for r in rows])


def digest(cols: list[str], rows: list) -> str:
    body = json.dumps([sorted(cols), canonical(cols, rows)])
    return hashlib.sha256(body.encode()).hexdigest()


def ordered_rows(rows: list[dict]) -> list[list[str]]:
    """Row dicts in their served order, cells canonical — for ranked and
    paged responses, where order is part of the answer."""
    return [[f"{k}={_cell(r[k])}" for k in sorted(r)] for r in rows]


def query_digest(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return {"rows": len(rows), "digest": digest(cols, rows)}


def parquet_digest(con: duckdb.DuckDBPyConnection, path: str) -> dict:
    """Digest of a Spark-written parquet directory (or a single file)."""
    src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
    return query_digest(con, f"SELECT * FROM read_parquet('{src}')")


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


# ---- D-route twins, parameterized -------------------------------------------


def _swap(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise RuntimeError(f"oracle twin no longer contains {old!r}; update the benchmark")
    return sql.replace(old, new)


@contextlib.contextmanager
def _api_params(**params):
    """Temporarily set the module constants the D5/D6 twin builders read."""
    saved = {k: getattr(api_plans, k) for k in params}
    try:
        for k, v in params.items():
            setattr(api_plans, k, v)
        yield
    finally:
        for k, v in saved.items():
            setattr(api_plans, k, v)


def _sql_str(s: str) -> str:
    return s.replace("'", "''")


def _page(rows: list[dict], key: str, after: int | None, limit: int) -> dict:
    rows = sorted(rows, key=lambda r: r[key])
    if after is not None:
        rows = [r for r in rows if r[key] > after]
    more = len(rows) > limit
    rows = rows[:limit]
    return {"rows": rows, "next_after": rows[-1][key] if more and rows else None}


def expected_response(con: duckdb.DuckDBPyConnection, route: str, params: dict) -> dict:
    """Expected (status, rows in served order, cursor) of one serving request,
    from the D-route twins. Mirrors the route contract in
    `serving.http_api`: keyset pages capped by ``limit`` with a
    ``next_after`` cursor, 404 for an absent key."""

    def rows_of(sql: str) -> list[dict]:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return [dict(zip(cols, r)) for r in res.fetchall()]

    after = int(params["after"]) if "after" in params else None
    if route == "key":
        key = int(params["key"])
        rows = rows_of(_swap(api_plans.LOOKUP_SQL, f"c_custkey = {api_plans.LOOKUP_KEY}", f"c_custkey = {key}"))
        return {"status": 404 if not rows else 200, "rows": rows, "next_after": None}
    if route == "ilike":
        sql = _swap(
            api_plans.SEARCH_SQL,
            f"'%{api_plans.SEARCH_PATTERN}%'",
            f"'%{_sql_str(params['q'].lower())}%'",
        )
        return {"status": 200, **_page(rows_of(sql), "p_partkey", after, int(params["limit"]))}
    if route == "state":
        sql = _swap(
            api_plans.BY_STATE_SQL, f"'{api_plans.STATE_NAME}'", f"'{_sql_str(params['state'])}'"
        )
        return {"status": 200, **_page(rows_of(sql), "c_custkey", after, int(params["limit"]))}
    if route == "page":
        sql = _swap(api_plans.PAGE_KEYSET_SQL, f"c_custkey > {api_plans.PAGE_AFTER}", f"c_custkey > {after}")
        sql = _swap(sql, f"LIMIT {api_plans.PAGE_SIZE}", f"LIMIT {int(params['limit'])}")
        rows = rows_of(sql)
        return {"status": 200, "rows": rows, "next_after": rows[-1]["c_custkey"] if rows else None}
    if route == "search":
        terms = [w for w in params["q"].lower().split() if w]
        with _api_params(FT_QUERY_TERMS=terms, FT_TOPK=int(params["k"])):
            sql = api_plans._fulltext_sql()
        return {"status": 200, "rows": rows_of(sql), "next_after": None}
    if route == "fuzzy":
        with _api_params(TRGM_QUERY=params["q"], TRGM_TOPK=int(params["k"])):
            sql = api_plans._trigram_sql()
        return {"status": 200, "rows": rows_of(sql), "next_after": None}
    raise ValueError(f"unknown route {route!r}")


# ---- batch answers ------------------------------------------------------------


def _batch_answers(con: duckdb.DuckDBPyConnection, data_dir: str) -> dict:
    twins = all_oracles()
    out: dict = {name: query_digest(con, twins[name]) for name in BATCH_TWINS}
    out["entity_matching"] = query_digest(con, UNIFY_SQL)
    out["source_rows"] = {
        t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES
    }
    # the nationkey-blocked candidate pairs entity matching scores
    out["blocked_pairs"] = con.execute(
        f"SELECT count(*) FROM supplier JOIN customer ON s_nationkey = c_nationkey "
        f"WHERE {valid_name_sql('c_name')}"
    ).fetchone()[0]
    out["snapshot"] = {
        t: parquet_digest(con, os.path.join(data_dir, f"{t}.parquet")) for t in SERVING_TABLES
    }
    toks = tokens_all_sql("text")
    out["fulltext_index"] = query_digest(
        con,
        f"SELECT tok, doc_id, count(*) AS tf FROM "
        f"(SELECT doc_id, unnest({toks}) AS tok FROM documents) GROUP BY tok, doc_id",
    )
    trg = api_plans._TRGM_SQL.format(c="p_name")
    out["trigram_index"] = query_digest(
        con,
        f"WITH t AS (SELECT p_partkey, p_name, unnest({trg}) AS trgm FROM part) "
        f"SELECT p_partkey, p_name, trgm, count(*) OVER (PARTITION BY p_partkey) AS n_trgm FROM t",
    )
    return out


def data_digest(data_dir: str) -> str:
    """Digest of the input table bytes."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _cache_key(data_hash: str) -> str:
    h = hashlib.sha256(data_hash.encode())
    for sql in [*(all_oracles()[n] for n in BATCH_TWINS), UNIFY_SQL]:
        h.update(sql.encode())
    for sql in [
        api_plans.LOOKUP_SQL,
        api_plans.SEARCH_SQL,
        api_plans.BY_STATE_SQL,
        api_plans.PAGE_KEYSET_SQL,
        api_plans._fulltext_sql(),
        api_plans._trigram_sql(),
    ]:
        h.update(sql.encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


class Oracle:
    """Cached oracle answers for the input tables. ``batch`` holds the batch
    digests; ``response(route, params)`` answers a serving request and
    remembers it, and ``save()`` merges new answers into the cache file."""

    def __init__(self, cache_dir: str, data_dir: str):
        os.makedirs(cache_dir, exist_ok=True)
        self.data_dir, self.data_digest = data_dir, data_digest(data_dir)
        self.path = os.path.join(cache_dir, f"oracle-{_cache_key(self.data_digest)}.json")
        self._con: duckdb.DuckDBPyConnection | None = None
        with self._locked():
            cached = self._read()
            if "batch" not in cached:
                cached["batch"] = _batch_answers(self.con, data_dir)
                cached.setdefault("responses", {})
                self._write(cached)
        self.batch = cached["batch"]
        self.responses: dict = cached.get("responses", {})
        self._new: dict = {}

    @property
    def con(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            self._con = connect(self.data_dir)
        return self._con

    @contextlib.contextmanager
    def _locked(self):
        with open(self.path + ".lock", "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            yield

    def _read(self) -> dict:
        try:
            with open(self.path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _write(self, obj: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, self.path)

    def response(self, route: str, params: dict) -> dict:
        key = route + "?" + "&".join(f"{k}={params[k]}" for k in sorted(params))
        if key not in self.responses:
            exp = expected_response(self.con, route, params)
            self.responses[key] = self._new[key] = {
                "status": exp["status"],
                "rows": ordered_rows(exp["rows"]),
                "next_after": exp["next_after"],
            }
        return self.responses[key]

    def save(self) -> None:
        if not self._new:
            return
        with self._locked():
            cached = self._read()
            cached.setdefault("responses", {}).update(self._new)
            self._write(cached)
        self._new = {}

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def files_bytes(path: str) -> int:
    """Total size of the regular files under ``path`` (file or directory)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(p))
