"""Closed-loop load generator for the serving workload.

Runs in its own process so that client-side work never competes with the
server for the interpreter lock. ``SERVE_CLIENTS`` threads each replay seeded
sessions against the server and send their next request only when the
previous one has returned (a closed loop). One session:

1. ``/companies/search`` — ILIKE search on a part-name token;
2. ``/companies/{key}`` — lookup of a key taken from that result, with 5%
   of keys absent (404 expected);
3. ``/companies/by_state`` — first page, then its ``next_after`` cursor
   followed for 1-3 pages in total;
4. ``/companies`` — one keyset page at a random cursor;
5. ``/search`` — 1-2 terms drawn Zipf-skewed from the corpus vocabulary,
   ~15% of them with ``shard=1``;
6. ``/fuzzy`` — a part name with one typo.

The seed draws every parameter (tokens, keys, states, cursors, terms, names,
typos). The shape of the n-th session of a client is fixed, so that runs of
a few dozen requests carry the same route mix whatever the seed: page
counts cycle 1-2-3, term counts 1-2, every 7th search is sharded, and every
20th key lookup (from a seeded offset) is of an absent key. Every response is written as one JSON line
(route, params, status, expected status, latency, rows) to ``--out``.

Usage: python3 loadgen.py --port P --pools pools.json --seed N --seconds S --out out.jsonl
"""

from __future__ import annotations

import argparse
import json
import random
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

SERVE_CLIENTS = 2  # 4 clients oversubscribe a 4-core host: latency doubles, rps rises ~30%
ABSENT_KEY_EVERY = 20  # 5% of key lookups miss
SHARD_EVERY = 7  # ~15% of searches read the sharded segments
ZIPF_S = 1.1
STATE_PAGE = 20
ILIKE_PAGE = 20
KEYSET_PAGE = 25
TOPK = 10

LOOKUP_ROUTES = ("key", "page", "ilike", "state")
RANKED_ROUTES = ("search", "fuzzy")


def _url(route: str, params: dict) -> str:
    if route == "key":
        return f"/companies/{params['key']}"
    path = {
        "ilike": "/companies/search",
        "state": "/companies/by_state",
        "page": "/companies",
        "search": "/search",
        "fuzzy": "/fuzzy",
    }[route]
    return path + "?" + urllib.parse.urlencode(params)


def _typo(rng: random.Random, name: str) -> str:
    words = name.split()
    i = rng.randrange(len(words))
    w = words[i]
    j = rng.randrange(len(w))
    op = rng.randrange(3)
    if op == 0 and len(w) > 3:
        w = w[:j] + w[j + 1 :]
    elif op == 1 and j < len(w) - 1:
        w = w[:j] + w[j + 1] + w[j] + w[j + 2 :]
    else:
        w = w[:j] + rng.choice("aeiou") + w[j + 1 :]
    words[i] = w
    return " ".join(words)


class Client:
    """One closed-loop client. ``request`` sends a request and records it;
    ``session`` replays one seeded session."""

    def __init__(self, base: str, pools: dict, rng: random.Random, record, cid: int = 0):
        self.base, self.pools, self.rng, self.record, self.cid = base, pools, rng, record, cid
        self.n_session = 0
        self.absent_at = rng.randrange(ABSENT_KEY_EVERY)
        self.vocab = pools["vocab"]
        self.zipf_w = [1.0 / (r + 1) ** ZIPF_S for r in range(len(self.vocab))]

    def request(self, route: str, params: dict, expect: int) -> dict | None:
        t0 = time.perf_counter()
        status, body, error = None, None, None
        try:
            with urllib.request.urlopen(self.base + _url(route, params), timeout=120) as r:
                status, raw = r.status, r.read()
        except urllib.error.HTTPError as e:
            status, raw = e.code, e.read()
        except OSError as e:
            raw, error = b"", f"{type(e).__name__}: {e}"
        latency_ms = (time.perf_counter() - t0) * 1000.0
        try:
            body = json.loads(raw) if raw else None
        except ValueError:
            error = error or "response is not JSON"
        self.record(
            {
                "route": route,
                "params": {k: str(v) for k, v in params.items()},
                "expect": expect,
                "status": status,
                "error": error,
                "t0": t0,
                "ms": latency_ms,
                "rows": body.get("rows") if isinstance(body, dict) else None,
                "next_after": body.get("next_after") if isinstance(body, dict) else None,
            }
        )
        return body if status == expect and isinstance(body, dict) else None

    def session(self) -> None:
        rng, pools = self.rng, self.pools
        self.n_session += 1
        n = self.n_session + self.cid  # clients start at different shapes
        n_cust = pools["n_customers"]
        body = self.request(
            "ilike", {"q": rng.choice(pools["name_tokens"]), "limit": ILIKE_PAGE}, 200
        )
        hits = [r["p_partkey"] for r in (body or {}).get("rows", [])]
        if n % ABSENT_KEY_EVERY == self.absent_at:
            self.request("key", {"key": n_cust + rng.randrange(1_000_000)}, 404)
        else:
            key = (rng.choice(hits) if hits else rng.randrange(n_cust)) % n_cust
            self.request("key", {"key": key}, 200)
        params = {"state": rng.choice(pools["states"]), "limit": STATE_PAGE}
        for _ in range(1 + n % 3):
            body = self.request("state", params, 200)
            if not body or body.get("next_after") is None:
                break
            params = {**params, "after": body["next_after"]}
        self.request("page", {"after": rng.randrange(n_cust), "limit": KEYSET_PAGE}, 200)
        terms = rng.choices(self.vocab, weights=self.zipf_w, k=1 + n % 2)
        params = {"q": " ".join(dict.fromkeys(terms)), "k": TOPK}
        if n % SHARD_EVERY == 0:
            params["shard"] = 1
        self.request("search", params, 200)
        self.request("fuzzy", {"q": _typo(rng, rng.choice(pools["part_names"])), "k": TOPK}, 200)


class _Deadline(Exception):
    """Raised in a client thread once the run's time is up."""


def run(base: str, pools: dict, seed: int, seconds: float) -> list[dict]:
    """Replay sessions from ``SERVE_CLIENTS`` threads until ``seconds`` have
    passed; a session in progress at the deadline is cut after its current
    request. Returns every request record."""
    lock = threading.Lock()
    records: list[dict] = []
    deadline = time.perf_counter() + seconds

    def record(rec: dict) -> None:
        with lock:
            records.append(rec)
        if time.perf_counter() >= deadline:
            raise _Deadline

    def loop(i: int) -> None:
        client = Client(base, pools, random.Random(f"{seed}:{i}"), record, cid=i)
        try:
            while True:
                client.session()
        except _Deadline:
            pass

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(SERVE_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--pools", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(a.pools) as f:
        pools = json.load(f)
    records = run(f"http://127.0.0.1:{a.port}", pools, a.seed, a.seconds)
    with open(a.out, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")


if __name__ == "__main__":
    main()
