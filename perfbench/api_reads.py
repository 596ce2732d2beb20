"""api_reads: the read-only API path, one HTTP client against `ApiServer`.

Closed loop, one client thread, over seeded sf0.1-shaped tables (100k
events, 1500 user ids) written by `fixtures.write_catalog`. The seeded
route mix leans on lists: tx_list 50%, tx_last 30%, pegout 10%, prices/var
7%, infoapi 3%. Addresses follow a Zipf skew over the 1500 ids: the head
repeats, and the tail keeps bringing address literals Spark has not
compiled code for (and overflows its 100-entry codegen cache). Route
counts and each route's Zipf ranks are stratified, so every window holds
the same (route, rank) multiset and so the same first-seen requests;
request latency is bimodal (compile or not), and a drawn mix would move
the median between modes.

Set-up writes the tables, starts the server and sends WARM_REQUESTS
untimed requests; the window is a fixed number of requests derived from
--seconds. Each request is timed at the client, HTTP included.

Output checks (untimed): every tx_list and tx_last response must equal
DuckDB's answer over the same parquet through `TRANSACTIONS_CTE`; every
request must answer 200.
"""

from __future__ import annotations

import bisect
import http.client
import itertools
import json
import os
import random
from urllib.parse import urlencode

import fixtures
from harness import SparkCounters, metric, percentile

ROUTES = (  # (weight, route)
    (50, "/transactions/list"),
    (30, "/transactions/last"),
    (10, "/fastbtc/pegout"),
    (7, "/prices/var"),
    (3, "/infoapi"),
)
SPAN_ROUTE = {
    "/transactions/list": "tx_list",
    "/transactions/last": "tx_last",
    "/fastbtc/pegout": "pegout",
    "/prices/var": "price_var",
    "/infoapi": "infoapi",
}
# No request log of the reference API exists, so the address skew is a
# model: Zipf(1.1), the skew the repository uses for its other skewed
# inputs (`scripts/scale_curve.py --zipf`, PLANS.md round 5). With the
# stratified ranks, a 40-request window sends 36 requests with an address:
# 6 to the top id and 22 distinct ids, none of which warm-up has seen (its
# stream is seed-independent, so it draws other ids).
ZIPF_S = 1.1
PAGE = 20
WARM_REQUESTS = 24
# converts --seconds into the fixed request count of the window: 40
# requests at --seconds 20
NOMINAL_REQ_S = 0.5
MIN_WINDOW_REQUESTS = 20


COUNTS = ("spark.jobs_per_req", "spark.tasks_per_req",
          "spark.codegen_compiles_per_req")
SPAN_LAYERS = tuple(f"api.handler_ms.{r}" for r in SPAN_ROUTE.values()) + (
    "tables.read_ms", "serving.plan_ms", "serving.exec_ms",
    "http.overhead_ms", "traced.req_ms",
)
SPANS = tuple(f"api.handler.{r}" for r in SPAN_ROUTE.values()) + (
    "tables.read", "serving.plan", "serving.exec",
)


def window_requests(seconds: int) -> int:
    return max(MIN_WINDOW_REQUESTS, round(seconds / NOMINAL_REQ_S))


def _stratified(weights: list[float], n: int) -> list[int]:
    """`n` draws from the distribution `weights` taken at the midpoints of
    n equal probability strata: every seed gets the same multiset, so the
    share of repeated vs first-seen values in a window is fixed."""
    total = sum(weights)
    cum = list(itertools.accumulate(w / total for w in weights))
    return [min(bisect.bisect_left(cum, (i + 0.5) / n), len(weights) - 1)
            for i in range(n)]


def request_stream(seed: int, n: int) -> list[str]:
    """`n` request paths (with query strings) from the seeded mix. Route
    counts, each route's multiset of Zipf ranks and the share of deeper
    tx_list pages are stratified, so every seed sends the same multiset of
    (route, rank) requests; the seed picks which ids hold which rank, which
    list requests page deeper, and the order."""
    rng = random.Random(seed)
    ids = list(range(fixtures.N_USERS))
    rng.shuffle(ids)  # which ids form the Zipf head depends on the seed
    zipf = [1.0 / (r + 1) ** ZIPF_S for r in range(len(ids))]
    routes = [ROUTES[i][1] for i in _stratified([w for w, _ in ROUTES], n)]
    out = []
    for route in dict.fromkeys(routes):
        k = routes.count(route)
        skips = [PAGE if j % 3 == 2 else 0 for j in range(k)]
        rng.shuffle(skips)
        for rank, skip in zip(_stratified(zipf, k), skips):
            if route == "/transactions/list":
                q = {"address": ids[rank], "skip": skip, "limit": PAGE}
            elif route in ("/transactions/last", "/fastbtc/pegout"):
                q = {"address": ids[rank]}
            else:
                q = {}
            out.append(route + ("?" + urlencode(q) if q else ""))
    rng.shuffle(out)
    return out


def install_spans(tracer, api_cls) -> None:
    import moc_indexer_spark.operators.serving as serving
    import moc_indexer_spark.plans.serving_registry as serving_registry
    import moc_indexer_spark.serving_http as http_mod
    import moc_indexer_spark.tables as tables

    for route, name in SPAN_ROUTE.items():
        tracer.wrap(api_cls.ROUTES, route, f"api.handler.{name}")
    for mod in (tables, serving_registry):
        tracer.wrap(mod, "table", "tables.read")
        tracer.wrap(mod, "transactions", "tables.read")
    for fn in ("api_tx_list", "api_tx_last", "api_price_variation"):
        tracer.wrap(serving, fn, "serving.plan")
    tracer.wrap(http_mod, "df_to_payload", "serving.exec")


def _get(conn, path: str) -> tuple[int, dict]:
    conn.request("GET", path)
    resp = conn.getresponse()
    body = resp.read()
    return resp.status, json.loads(body)


def _duck_expected(con, path: str):
    """DuckDB's answer for a tx_list / tx_last request (None for other
    routes); `con` has the fixture's `events` view."""
    from urllib.parse import parse_qs, urlparse

    from moc_indexer_spark.plans.registry import EXCLUDED_EVENTS
    from moc_indexer_spark.tables import TRANSACTIONS_CTE

    u = urlparse(path)
    q = {k: v[0] for k, v in parse_qs(u.query).items()}
    if u.path not in ("/transactions/list", "/transactions/last"):
        return None
    base = f"WITH transactions AS ({TRANSACTIONS_CTE}) "
    addr = int(q["address"])
    if u.path == "/transactions/last":
        rows = con.execute(
            base + "SELECT tx_hash, address, event, created_at, amount "
            "FROM transactions WHERE address = ? "
            "ORDER BY created_at DESC, tx_hash DESC LIMIT 1", [addr]
        ).fetchall()
        if not rows:
            return {"transaction": None}
        r = rows[0]
        return {"transaction": {
            "tx_hash": r[0], "address": r[1], "event": r[2],
            "created_at": r[3].isoformat(), "amount": r[4]}}
    skip, limit = int(q["skip"]), int(q["limit"])
    excl = ", ".join(f"'{e}'" for e in EXCLUDED_EVENTS)
    f = f"address = {addr} AND event NOT IN ({excl})"
    rows = con.execute(
        base + "SELECT tx_hash, upper(hex(tx_hash)), address, event, "
        "strftime(created_at, '%Y-%m-%dT%H:%M:%S.%gZ'), amount, rn FROM ("
        "SELECT *, ROW_NUMBER() OVER (ORDER BY created_at DESC, "
        f"tx_hash DESC) AS rn FROM transactions WHERE {f}) "
        "WHERE rn > ? AND rn <= ? ORDER BY rn", [skip, skip + limit]
    ).fetchall()
    total = con.execute(
        base + f"SELECT count(*) FROM transactions WHERE {f}"
    ).fetchone()[0]
    keys = ("tx_hash", "tx_hash_hex", "address", "event",
            "created_at_iso", "amount", "rn")
    page = [dict(zip(keys, r)) for r in rows]
    return {"transactions": page, "count": len(page), "total": total,
            "skip": skip, "limit": limit}


def _span_metrics(tracer) -> dict:
    from tracing import self_times

    per: dict[str, list[float]] = {}
    for spans in tracer.by_op().values():
        st = self_times(spans)
        root = next(s for s in spans if s["parent"] is None)
        sums: dict[str, float] = {}
        for s in spans:
            sums[s["name"]] = sums.get(s["name"], 0.0) + st[s["id"]]
            if s["name"].startswith("api.handler."):
                route = s["name"].rsplit(".", 1)[1]
                per.setdefault(f"api.handler_ms.{route}", []).append(
                    (s["end"] - s["start"]) * 1000.0)
        for layer in ("tables.read", "serving.plan", "serving.exec"):
            per.setdefault(f"{layer}_ms", []).append(sums.get(layer, 0.0))
        per.setdefault("http.overhead_ms", []).append(st[root["id"]])
        per.setdefault("traced.req_ms", []).append(
            (root["end"] - root["start"]) * 1000.0)
    return {name: percentile(v, 50) for name, v in per.items()}


def run(ctx) -> dict:
    from moc_indexer_spark.plans.registry import registry
    from moc_indexer_spark.serving_http import ApiServer

    sf_dir = os.path.join(ctx.scratch, "sf")
    fixtures.write_catalog(sf_dir, ctx.seed)
    registry()  # import every registry module before any request
    api = ApiServer(ctx.spark, sf_dir)
    if ctx.tracer is not None:
        install_spans(ctx.tracer, ApiServer)
    n = window_requests(ctx.seconds)
    # the warm-up stream does not depend on the seed, so set-up does the
    # same work in every run
    paths = request_stream(-1, WARM_REQUESTS) + request_stream(ctx.seed, n)
    port = api.start(0)
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    clock = ctx.clock
    errors: list[str] = []
    answers: list[tuple[str, dict]] = []
    lat: list[float] = []
    per_req: list[dict] = []
    try:
        for path in paths[:WARM_REQUESTS]:
            status, body = _get(conn, path)
            if status != 200:
                errors.append(f"{path}: HTTP {status} {body}")
            answers.append((path, body))
        setup_s = clock() - ctx.t_start
        ctx.log("set-up done")
        counters = SparkCounters(ctx.spark)
        window_t0 = clock()
        for path in paths[WARM_REQUESTS:]:
            with ctx.op("request", True):
                t0 = clock()
                status, body = _get(conn, path)
                lat.append((clock() - t0) * 1000.0)
            per_req.append(counters.take())
            if status != 200:
                errors.append(f"{path}: HTTP {status} {body}")
            answers.append((path, body))
        window_s = clock() - window_t0
        ctx.log("window done")
    finally:
        conn.close()
        api.stop()

    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/events.parquet')")
        for path, body in answers:
            want = _duck_expected(con, path)
            if want is not None and body != want:
                errors.append(f"{path}: response differs from DuckDB")
    finally:
        con.close()
    ctx.log("checks done")

    read_lat = [ms for ms, path in zip(lat, paths[WARM_REQUESTS:])
                if path.startswith("/transactions/")]
    layers = {
        "spark.jobs_per_req": sum(c["jobs"] for c in per_req) / n,
        "spark.tasks_per_req": sum(c["tasks"] for c in per_req) / n,
        "spark.codegen_compiles_per_req":
            sum(c["compiles"] for c in per_req) / n,
    }
    if ctx.tracer is not None:
        layers.update(_span_metrics(ctx.tracer))
    return {
        "errors": errors,
        "attempted": n,
        # op = any request; read = the list-heavy tx_list / tx_last
        # requests (the ones checked against DuckDB); throughput = requests
        # per second of the one closed-loop client
        "end_to_end": {
            "setup_s": metric(setup_s, "s"),
            "op_p50_ms": metric(percentile(lat, 50), "ms"),
            "op_p75_ms": metric(percentile(lat, 75), "ms"),
            "read_p50_ms": metric(percentile(read_lat, 50), "ms"),
            "read_p75_ms": metric(percentile(read_lat, 75), "ms"),
            "throughput_per_s": metric(n / window_s, "1/s"),
        },
        "layers": layers,
        "samples": {"requests": n, "warm_requests": WARM_REQUESTS,
                    "request_ms": [round(x, 1) for x in lat],
                    "compiles": [c["compiles"] for c in per_req]},
    }
