"""Seeded inputs for every workload.

Everything the engine receives is made here from the run's seed: the
parquet tables it loads, the InfluxQL strings and the line-protocol bodies.
The same seed gives byte-identical inputs. Tables are written with pyarrow
in the physical schema of the engine's reference testdata (int32/int64/
double/string/timestamp[us]/list<float>), with the value distributions of
`tools/gen_scale.py`, so `__spark_entry__` and `oracles.py` read them
unchanged.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS = 1_000_000_000
HOUR = 3600 * NS
DAY = 24 * HOUR
JAN1_NS = 1_704_067_200 * NS          # 2024-01-01T00:00:00Z
EPOCH_1995_S = 788_918_400            # 1995-01-01T00:00:00Z

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "de", "fr", "es", "it"]
P_ADJ = ["red", "blue", "hot", "cold", "old", "new", "large", "small"]
P_NOUN = ["bolt", "gear", "ring", "plate", "wheel", "spring", "pin", "cap"]
DOC_VOCAB = ["spark", "table", "query", "join", "scan", "filter", "group",
             "sort", "hash", "shuffle", "column", "row", "value", "key",
             "index", "batch", "stream", "window", "agg", "order", "part",
             "line", "customer", "vector", "fast", "slow", "small", "big",
             "a", "the", "g"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# serving tables follow the sf0.1 testdata (100k events over 30 days);
# analytics tables follow sf0.01, where the headline keys are
# dominated by per-query overhead rather than data volume
SERVING_EVENTS = 100_000
ANALYTICS_ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000,
                  "orders": 15_000, "events": 10_000, "documents": 500,
                  "embeddings": 200}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a table or a
    statement never shifts the values of another."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


def _money(rng, n, lo, hi):
    return lo + rng.integers(0, int(round((hi - lo) * 100)), n) / 100.0


def _days_us(rng, n, days):
    return (EPOCH_1995_S + rng.integers(0, days, n) * 86400) * 1_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events_columns(seed: int, n: int, n_users: int) -> dict:
    """30 days of January 2024; strictly increasing µs timestamps (no two
    points share a time, so ORDER BY time is total); value on the 0.01
    grid below 512."""
    rng = _rng(seed, "events")
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000 - n, n)) + np.arange(n)
    ts += JAN1_NS // 1000
    k = rng.integers(0, 100, n)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(rng.integers(0, 51_200, n) / 100.0),
        "props": pa.array([f'{{"k": {v}}}' for v in k]),
    }


def write_serving_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "events", events_columns(seed, SERVING_EVENTS, 1_500))


def write_analytics_tables(seed: int, out_dir: str) -> None:
    """The ten tables `__spark_entry__.queries()` reads, at sf0.01 size."""
    os.makedirs(out_dir, exist_ok=True)
    n = ANALYTICS_ROWS
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    r = _rng(seed, "customer")
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, n["customer"], -1000.0, 10000.0)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[
            r.integers(0, len(SEGMENTS), n["customer"])])})

    r = _rng(seed, "supplier")
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, n["supplier"], -1000.0, 10000.0))})

    r = _rng(seed, "part")
    np_ = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            r.integers(0, 8, np_), r.integers(0, 8, np_))]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, np_)]),
        "p_type": pa.array(np.array(TYPES)[r.integers(0, len(TYPES), np_)]),
        "p_size": pa.array(r.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(_money(r, np_, 900.0, 2100.0))})

    r = _rng(seed, "orders")
    no = n["orders"]
    st = r.integers(0, 100, no)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], no)),
        "o_orderstatus": pa.array(np.where(st < 49, "O",
                                           np.where(st < 98, "F", "P"))),
        "o_totalprice": pa.array(_money(r, no, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days_us(r, no, 2400), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            r.integers(0, len(PRIORITIES), no)])})

    r = _rng(seed, "lineitem")
    per = r.integers(0, 4, no) + r.integers(0, 4, no) + 1
    okey = np.repeat(np.arange(no, dtype=np.int64), per)
    nl = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = r.integers(1, 51, nl).astype(np.float64)
    price = _money(r, nl, 900.0, 2100.0)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r.integers(0, np_, nl)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], nl)),
        "l_linenumber": pa.array((np.arange(nl) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price, 2)),
        "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days_us(r, nl, 2500), pa.timestamp("us"))})

    _write(out_dir, "events", events_columns(seed, n["events"], 150))

    # ~2% of documents are exact clones of their 50-block leader, so the
    # dedup operators always have true duplicates to find
    r = _rng(seed, "documents")
    nd = n["documents"]
    texts = [" ".join(np.array(DOC_VOCAB)[r.integers(0, len(DOC_VOCAB), k)])
             for k in r.integers(10, 101, nd)]
    for i in np.flatnonzero(r.integers(0, 100, nd) < 2):
        texts[i] = texts[i - i % 50]
    lang = np.where(r.integers(0, 10, nd) < 6, "en",
                    np.array(LANGS[1:])[r.integers(0, 4, nd)])
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    # near-random 64-dim vectors (same-label cosine ~ 0), components in
    # about [-0.39, 0.39] like the reference testdata
    r = _rng(seed, "embeddings")
    ne = n["embeddings"]
    vec = ((r.integers(0, 1601, (ne, 64)) - 800) / 2050.0).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, ne).astype(np.int32))})


# Headline keys the analytics workload runs -- the sketch, dedup and
# embedding-similarity operators among bench.py's HEADLINE -- with the
# tables each reads. README.md says why the workload does not run all 24.
ANALYTICS_SUBSET = {
    "doc_simhash": ("documents",),
    "emb_brute_topk": ("embeddings",),
    "emb_semantic_dedup": ("embeddings",),
    "sk_hll": ("lineitem",),
    "sk_kmv": ("lineitem",),
    "sk_merge": ("lineitem",),
}


def analytics_keys() -> list[str]:
    """ANALYTICS_SUBSET's keys in bench.HEADLINE order, taken from
    bench.py by import so a renamed or dropped headline key fails loudly
    here."""
    import bench
    keys = [k for k in bench.HEADLINE if k in ANALYTICS_SUBSET]
    if len(keys) != len(ANALYTICS_SUBSET):
        raise ValueError(f"bench.HEADLINE lacks some of {ANALYTICS_SUBSET}")
    return keys


# -- InfluxQL statements ---------------------------------------------------

def dashboard_statements(seed: int) -> list[dict]:
    """The fixed dashboard mix with seeded windows and tag values. Each
    entry is {"name", "q", "params", "spec"}: `params` are extra /query
    parameters, `spec` is what the DuckDB oracle needs to compute the
    expected answer."""
    rng = _rng(seed, "dashboard")

    def day(lo=0, hi=27):
        return JAN1_NS + int(rng.integers(lo, hi)) * DAY

    def hour(d):
        return d + int(rng.integers(0, 20)) * HOUR

    def et():
        return EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]

    out = []

    def add(name, q, params=None, **spec):
        out.append({"name": name, "q": q, "params": params or {},
                    "spec": {"kind": name, **spec}})

    t0 = day()
    add("group_time_tag",
        "SELECT mean(value) AS mean_value, count(value) AS n FROM events "
        f"WHERE time >= {t0} AND time < {t0 + DAY} "
        "GROUP BY time(1h), event_type", t0=t0, t1=t0 + DAY, every=HOUR)
    t0, e = hour(day()), et()
    add("fill_linear",
        "SELECT mean(value) AS mv FROM events "
        f"WHERE time >= {t0} AND time < {t0 + 2 * HOUR} "
        f"AND event_type = '{e}' GROUP BY time(2m) fill(linear)",
        t0=t0, t1=t0 + 2 * HOUR, every=120 * NS, event_type=e)
    t0, e = hour(day()), et()
    add("fill_previous",
        "SELECT sum(value) AS sv FROM events "
        f"WHERE time >= {t0} AND time < {t0 + 4 * HOUR} "
        f"AND event_type = '{e}' GROUP BY time(5m) fill(previous)",
        t0=t0, t1=t0 + 4 * HOUR, every=300 * NS, event_type=e)
    t0 = hour(day())
    add("fill_zero",
        "SELECT count(value) AS n FROM events "
        f"WHERE time >= {t0} AND time < {t0 + 2 * HOUR} "
        "GROUP BY time(1m), event_type fill(0)",
        t0=t0, t1=t0 + 2 * HOUR, every=60 * NS)
    t0 = day(0, 25)
    add("top",
        "SELECT top(value, 5) AS top_value FROM events "
        f"WHERE time >= {t0} AND time < {t0 + 2 * DAY} GROUP BY event_type",
        t0=t0, t1=t0 + 2 * DAY)
    t0 = day(0, 20)
    add("count_distinct",
        "SELECT count(distinct(user_id)) AS u FROM events "
        f"WHERE time >= {t0} AND time < {t0 + 7 * DAY} GROUP BY event_type",
        t0=t0, t1=t0 + 7 * DAY)
    t0 = day(0, 24)
    add("subquery",
        "SELECT max(c) AS max_hourly, min(c) AS min_hourly FROM "
        "(SELECT count(value) AS c FROM events "
        f"WHERE time >= {t0} AND time < {t0 + 3 * DAY} "
        "GROUP BY time(1h), event_type fill(none)) GROUP BY event_type",
        t0=t0, t1=t0 + 3 * DAY)
    t0, e = day(0, 25), et()
    add("order_limit",
        "SELECT value, event_id FROM events "
        f"WHERE event_type = '{e}' AND time >= {t0} AND time < {t0 + 2 * DAY} "
        "ORDER BY time DESC LIMIT 50", t0=t0, t1=t0 + 2 * DAY, event_type=e)
    # one raw export: a day of points (about 3,300 rows), in chunks of
    # 1,000 rows with epoch-ns times, so `result` shapes real row counts
    t0 = day(0, 29)
    add("export",
        f"SELECT * FROM events WHERE time >= {t0} AND time < {t0 + DAY}",
        params={"epoch": "ns", "chunked": "true", "chunk_size": "1000"},
        t0=t0, t1=t0 + DAY)
    add("show_tag_values",
        "SHOW TAG VALUES FROM events WITH KEY = event_type")
    add("show_series", "SHOW SERIES FROM events")
    add("show_measurements", "SHOW MEASUREMENTS")
    return out


# -- line protocol -----------------------------------------------------------

INGEST_DB = "bench"
INGEST_HOSTS = 40


def ingest_batches(seed: int, measurement: str, n_batches: int,
                   points: int = 500, overwrite_share: float = 0.1
                   ) -> list[dict]:
    """Seeded /write batches for one measurement that starts empty.

    Points are `<m>,host=hN,region=rK usage=<f>,load=<f> <t>` with the
    partition key on `host`. From the second batch on, a share of the
    points reuse an earlier (time, tagset) pair with new field values, so
    the upsert path replaces rather than appends. Two planted batches must
    be refused with 400 and change nothing: after the first batch one with
    a malformed line, after the second one whose points lack the
    partition-key tag. Every batch carries the expected per-host state
    after it is applied (count, usage sum)."""
    rng = _rng(seed, "ingest:" + measurement)
    state: dict[tuple, float] = {}          # (time, host) -> usage
    keys: list[tuple] = []                  # state's keys, in write order
    base = JAN1_NS
    next_t = 0
    out = []
    for b in range(n_batches):
        lines, seen = [], set()
        for _ in range(points):
            if keys and rng.random() < overwrite_share:
                t, host = keys[int(rng.integers(0, len(keys)))]
            else:
                t, host = base + next_t * NS, f"h{int(rng.integers(0, INGEST_HOSTS))}"
                next_t += 1
                keys.append((t, host))
            if (t, host) in seen:
                continue
            seen.add((t, host))
            usage = int(rng.integers(0, 100_000)) / 100.0
            load = int(rng.integers(0, 1_000)) / 100.0
            region = f"r{int(host[1:]) % 4}"
            lines.append(f"{measurement},host={host},region={region} "
                         f"usage={usage},load={load} {t}")
            state[(t, host)] = usage
        out.append({"body": "\n".join(lines) + "\n", "points": len(lines),
                    "expect": 204, "state": _per_host(state)})
        if b == 0:
            good = lines[:3]
            out.append({"body": "\n".join(good + [
                f"{measurement},host=h1 usage= {base}"]) + "\n",
                "points": 0, "expect": 400, "state": _per_host(state)})
        if b == 1:
            out.append({"body": "\n".join(
                f"{measurement},region=r0 usage=1.5 {base + i * NS}"
                for i in range(5)) + "\n",
                "points": 0, "expect": 400, "state": _per_host(state)})
    return out


def _per_host(state: dict) -> dict:
    agg: dict[str, list] = {}
    for (_, host), usage in state.items():
        a = agg.setdefault(host, [0, 0.0])
        a[0] += 1
        a[1] += usage
    return {h: (c, s) for h, (c, s) in agg.items()}
