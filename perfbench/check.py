"""Output checks for the serving workloads.

Expected answers come from DuckDB over the same parquet the engine loaded.
A response is turned into canonical rows (tags merged in, `time` as epoch
ns whatever the `epoch`/`chunked` form), sorted, and compared with the
expected rows: same row count, same column names, equal strings and ints,
floats within a relative 1e-9. `checksum()` gives the digest of the
canonical rows at fixed rounding, recorded beside every verdict.
"""

from __future__ import annotations

import hashlib
import json
import math
from datetime import datetime

EV_TIME = "epoch_ns(ts)"


def _bucketed(con, spec, select: str, where: str = "", by_type=True):
    """{(event_type|None, bucket_ns): row} of one GROUP BY time() query."""
    every = spec["every"]
    tag = "event_type, " if by_type else ""
    sql = (f"SELECT {tag}({EV_TIME} // {every}) * {every} AS b, {select} "
           f"FROM events WHERE {EV_TIME} >= {spec['t0']} "
           f"AND {EV_TIME} < {spec['t1']} {where} GROUP BY ALL")
    out = {}
    for r in con.sql(sql).fetchall():
        if by_type:
            out[(r[0], r[1])] = r[2:]
        else:
            out[(None, r[0])] = r[1:]
    return out


def _spine(spec):
    return list(range(spec["t0"], spec["t1"], spec["every"]))


def _present_types(con, spec):
    return [r[0] for r in con.sql(
        f"SELECT DISTINCT event_type FROM events WHERE {EV_TIME} >= {spec['t0']}"
        f" AND {EV_TIME} < {spec['t1']} ORDER BY 1").fetchall()]


def _fill(values: list, how: str, spine: list) -> list:
    if how == "previous":
        last, out = None, []
        for v in values:
            last = v if v is not None else last
            out.append(last)
        return out
    if how == "linear":
        known = [(t, v) for t, v in zip(spine, values) if v is not None]
        out = list(values)
        for (ta, va), (tb, vb) in zip(known, known[1:]):
            for i, t in enumerate(spine):
                if ta < t < tb:
                    out[i] = va + (vb - va) * ((t - ta) / (tb - ta))
        return out
    return values


def expected(con, spec: dict) -> list[dict]:
    """Expected canonical rows of one generated statement."""
    kind = spec["kind"]
    if kind == "group_time_tag":
        got = _bucketed(con, spec, "avg(value), count(value)")
        return [{"event_type": et, "time": b,
                 "mean_value": got.get((et, b), (None, None))[0],
                 "n": got.get((et, b), (None, None))[1]}
                for et in _present_types(con, spec) for b in _spine(spec)]
    if kind in ("fill_linear", "fill_previous"):
        agg, col = (("avg(value)", "mv") if kind == "fill_linear"
                    else ("sum(value)", "sv"))
        got = _bucketed(con, spec, agg,
                        f"AND event_type = '{spec['event_type']}'",
                        by_type=False)
        spine = _spine(spec)
        vals = _fill([got.get((None, b), (None,))[0] for b in spine],
                     kind.split("_")[1], spine)
        return [{"time": b, col: v} for b, v in zip(spine, vals)]
    if kind == "fill_zero":
        got = _bucketed(con, spec, "count(value)")
        return [{"event_type": et, "time": b, "n": got.get((et, b), (0,))[0]}
                for et in _present_types(con, spec) for b in _spine(spec)]
    if kind == "top":
        sql = (f"SELECT event_type, t, value FROM (SELECT event_type, "
               f"{EV_TIME} AS t, value, row_number() OVER (PARTITION BY "
               f"event_type ORDER BY value DESC, {EV_TIME} ASC) AS rn "
               f"FROM events WHERE {EV_TIME} >= {spec['t0']} AND {EV_TIME} < "
               f"{spec['t1']}) WHERE rn <= 5")
        return [{"event_type": e, "time": t, "top_value": v}
                for e, t, v in con.sql(sql).fetchall()]
    if kind == "count_distinct":
        sql = (f"SELECT event_type, count(DISTINCT user_id) FROM events "
               f"WHERE {EV_TIME} >= {spec['t0']} AND {EV_TIME} < {spec['t1']} "
               "GROUP BY 1")
        return [{"event_type": e, "u": u}
                for e, u in con.sql(sql).fetchall()]
    if kind == "subquery":
        sql = (f"SELECT event_type, max(c), min(c) FROM (SELECT event_type, "
               f"{EV_TIME} // 3600000000000 AS h, count(value) AS c "
               f"FROM events WHERE {EV_TIME} >= {spec['t0']} AND {EV_TIME} < "
               f"{spec['t1']} GROUP BY 1, 2) GROUP BY 1")
        return [{"event_type": e, "max_hourly": mx, "min_hourly": mn} for e, mx, mn in con.sql(sql).fetchall()]
    if kind == "order_limit":
        sql = (f"SELECT {EV_TIME}, value, event_id FROM events WHERE "
               f"event_type = '{spec['event_type']}' AND {EV_TIME} >= "
               f"{spec['t0']} AND {EV_TIME} < {spec['t1']} "
               "ORDER BY 1 DESC LIMIT 50")
        return [{"time": t, "value": v, "event_id": i}
                for t, v, i in con.sql(sql).fetchall()]
    if kind == "show_tag_values":
        return [{"key": "event_type", "value": e}
                for (e,) in con.sql("SELECT DISTINCT event_type FROM events")
                .fetchall()]
    if kind == "show_series":
        return [{"key": f"events,event_type={e}"}
                for (e,) in con.sql("SELECT DISTINCT event_type FROM events")
                .fetchall()]
    if kind == "show_measurements":
        return [{"name": "events"}]
    if kind == "export":
        sql = (f"SELECT {EV_TIME} AS time, event_id, event_type, props, "
               f"user_id, value FROM events WHERE {EV_TIME} >= {spec['t0']} "
               f"AND {EV_TIME} < {spec['t1']}")
        rel = con.sql(sql)
        cols = rel.columns
        return [dict(zip(cols, r)) for r in rel.fetchall()]
    raise ValueError(f"no oracle for {kind}")


# -- responses ---------------------------------------------------------------

def _time_ns(v) -> int:
    if isinstance(v, int):
        return v
    head, _, frac = v.rstrip("Z").partition(".")
    secs = int(datetime.fromisoformat(head + "+00:00").timestamp())
    return secs * 1_000_000_000 + int((frac or "0").ljust(9, "0"))


def response_rows(body: bytes, chunked: bool) -> list[dict]:
    """Canonical rows of a one-statement /query response. Raises
    ValueError when the response carries an error."""
    docs = ([json.loads(ln) for ln in body.splitlines() if ln.strip()]
            if chunked else [json.loads(body)])
    rows = []
    for doc in docs:
        if "error" in doc:
            raise ValueError(doc["error"])
        for res in doc.get("results", []):
            if "error" in res:
                raise ValueError(res["error"])
            for s in res.get("series") or []:
                cols, tags = s["columns"], s.get("tags") or {}
                for vals in s["values"]:
                    r = dict(tags)
                    r.update(zip(cols, vals))
                    if r.get("time") is not None:
                        r["time"] = _time_ns(r["time"])
                    rows.append(r)
    return rows


def _norm(v):
    if isinstance(v, float):
        return ("f", round(v, 6))
    if v is None:
        return ("n", 0)
    return (type(v).__name__, v)


def _order(rows: list[dict]) -> list[dict]:
    return sorted(rows, key=lambda r: [(k, _norm(r[k])) for k in sorted(r)])


def checksum(rows: list[dict]) -> str:
    h = hashlib.sha256()
    for r in _order(rows):
        h.update(repr([(k, _norm(r[k])) for k in sorted(r)]).encode())
    return h.hexdigest()[:16]


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(got: list[dict], want: list[dict]) -> str | None:
    """None if `got` equals `want`, else a one-line reason."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for g, w in zip(_order(got), _order(want)):
        if set(g) != set(w):
            return f"columns {sorted(g)} != {sorted(w)}"
        for k in g:
            if not _same(g[k], w[k]):
                return f"{k}: {g[k]!r} != {w[k]!r}"
    return None


def ingest_expected(state: dict) -> list[dict]:
    return [{"host": h, "n": c, "s": s}
            for h, (c, s) in state.items()]
