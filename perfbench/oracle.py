"""Output checks: every result the engine produced in a run is compared with
an independent DuckDB computation over the same inputs.

* Queries: each query's saved full result against its `SparkEntry.oracleSql`,
  hashed the way `tools/check.py` (the repo's correctness gate) hashes:
  rows sorted, columns sorted by name, floats at full precision.
* Medallion: the four Gold "current" tables and the dashboard rows against
  the Bronze → Silver → Gold → dashboard logic recomputed from the landing
  files, with Spark's rounding (HALF_UP on the double's decimal string).
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb


# ── queries ─────────────────────────────────────────────────────────────

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def table_hash(rows, cols):
    """tools/check.py's digest: rows sorted, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for row in data:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def open_tables(tables_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def expected_digests(tables_dir, oracle_sql):
    """name -> (row count, sorted column names, digest) of each oracle."""
    con = open_tables(tables_dir)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        cur = con.execute(sql)
        rows, cols = cur.fetchall(), [d[0] for d in cur.description]
        out[name] = (len(rows), sorted(cols), table_hash(rows, cols))
    return out


def check_queries(work, expected):
    """name -> None when the saved Spark result matches, else the reason."""
    con = duckdb.connect()
    verdicts = {}
    for name, (n, cols, digest) in expected.items():
        files = os.path.join(work, "results", name, "*.parquet")
        if not glob.glob(files):
            verdicts[name] = "no result"
            continue
        cur = con.execute(f"SELECT * FROM '{files}'")
        rows, got_cols = cur.fetchall(), [d[0] for d in cur.description]
        if sorted(got_cols) != cols:
            verdicts[name] = f"columns {sorted(got_cols)} != {cols}"
        elif len(rows) != n:
            verdicts[name] = f"rows {len(rows)} != {n}"
        elif table_hash(rows, got_cols) != digest:
            verdicts[name] = "value digest differs"
        else:
            verdicts[name] = None
    return verdicts


def result_rows(work, name):
    files = os.path.join(work, "results", name, "*.parquet")
    return duckdb.connect().execute(f"SELECT count(*) FROM '{files}'").fetchone()[0]


# ── medallion ───────────────────────────────────────────────────────────

_ASSET = ("STRUCT(id VARCHAR, rank VARCHAR, symbol VARCHAR, name VARCHAR, "
          "supply VARCHAR, maxSupply VARCHAR, marketCapUsd VARCHAR, "
          "volumeUsd24Hr VARCHAR, priceUsd VARCHAR, changePercent24Hr VARCHAR, "
          "vwap24Hr VARCHAR, explorer VARCHAR)[]")

_SILVER = f"""
SELECT c.id AS id, TRY_CAST(c.rank AS INTEGER) AS rank, c.symbol AS symbol,
  c.name AS name, TRY_CAST(c.supply AS DOUBLE) AS supply,
  TRY_CAST(c.maxSupply AS DOUBLE) AS max_supply,
  TRY_CAST(c.marketCapUsd AS DOUBLE) AS market_cap_usd,
  TRY_CAST(c.volumeUsd24Hr AS DOUBLE) AS volume_usd_24hr,
  TRY_CAST(c.priceUsd AS DOUBLE) AS price_usd,
  TRY_CAST(c.changePercent24Hr AS DOUBLE) AS change_percent_24hr,
  TRY_CAST(c.vwap24Hr AS DOUBLE) AS vwap_24hr, c.explorer AS explorer,
  ts // 1000 AS ts_s
FROM (SELECT unnest(data) AS c, "timestamp" AS ts
      FROM read_json(?, format='newline_delimited',
                     columns={{'data': '{_ASSET}', 'timestamp': 'BIGINT'}}))
"""

_COLS = ["id", "rank", "symbol", "name", "supply", "max_supply",
         "market_cap_usd", "volume_usd_24hr", "price_usd",
         "change_percent_24hr", "vwap_24hr", "explorer", "ts_s"]

STATUS_UNDEFINED, STATUS_NEAR_LIMIT, STATUS_AVAILABLE = (
    "Não Definido", "Próximo do Limite", "Disponível")
_CTX = decimal.Context(prec=60)


def spark_round(x, scale):
    """Spark's round() on a double: HALF_UP on its decimal string."""
    if x is None:
        return None
    q = decimal.Decimal(1).scaleb(-scale)
    return float(_CTX.create_decimal(repr(x)).quantize(
        q, rounding=decimal.ROUND_HALF_UP, context=_CTX))


def micros_of_run_ts(run_ts):
    t = datetime.datetime.strptime(run_ts, "%Y-%m-%d %H:%M:%S")
    return int(t.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000


def expected_gold(poll_files, run_ts):
    """The four Gold tables and the dashboard, recomputed from landing files."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE silver AS {_SILVER}", [sorted(poll_files)])
    pick = ", ".join(_COLS)
    latest = [dict(zip(_COLS, r)) for r in con.execute(
        f"SELECT {pick} FROM silver QUALIFY row_number() OVER "
        "(PARTITION BY id ORDER BY ts_s DESC) = 1").fetchall()]
    losers = [dict(zip(_COLS, r)) for r in con.execute(
        f"SELECT {pick} FROM silver WHERE change_percent_24hr IS NOT NULL "
        "ORDER BY change_percent_24hr ASC LIMIT 10").fetchall()]
    analysis = micros_of_run_ts(run_ts)
    for r in latest + losers:
        r["dr"] = r["ts_s"] * 1_000_000

    overview = [{
        "id": r["id"], "name": r["name"], "symbol": r["symbol"], "rank": r["rank"],
        "price_usd": spark_round(r["price_usd"], 8),
        "market_cap_usd": spark_round(r["market_cap_usd"], 2),
        "volume_usd_24hr": spark_round(r["volume_usd_24hr"], 2),
        "change_percent_24hr": spark_round(r["change_percent_24hr"], 4),
        "vwap_24hr": spark_round(r["vwap_24hr"], 8),
        "supply": spark_round(r["supply"], 0),
        "max_supply": spark_round(r["max_supply"], 0),
        "explorer": r["explorer"], "data_referencia": r["dr"],
        "data_processamento_analise": analysis} for r in latest]

    def mover(r, kind):
        return {"name": r["name"], "symbol": r["symbol"],
                "change_percent_24hr": spark_round(r["change_percent_24hr"], 4),
                "price_usd": spark_round(r["price_usd"], 8),
                "tipo_movimento": kind, "data_referencia": r["dr"],
                "data_processamento_analise": analysis}
    gainers = sorted((r for r in latest if r["change_percent_24hr"] is not None),
                     key=lambda r: -r["change_percent_24hr"])[:10]
    movers = ([mover(r, "Ganhador") for r in gainers]
              + [mover(r, "Perdedor") for r in losers])

    total = sum(r["market_cap_usd"] for r in latest
                if r["market_cap_usd"] is not None)
    dominance = [] if not total > 0 else [{
        "name": r["name"], "symbol": r["symbol"],
        "market_cap_usd": spark_round(r["market_cap_usd"], 2),
        "percent_market_cap": spark_round(r["market_cap_usd"] / total * 100, 4),
        "data_referencia": r["dr"], "data_processamento_analise": analysis}
        for r in latest if r["market_cap_usd"] is not None]

    def status(r):
        if r["max_supply"] is None:
            return STATUS_UNDEFINED
        return STATUS_NEAR_LIMIT if r["supply"] >= r["max_supply"] else STATUS_AVAILABLE
    supply = [{
        "name": r["name"], "symbol": r["symbol"],
        "supply": spark_round(r["supply"], 0),
        "max_supply": spark_round(r["max_supply"], 0),
        "market_cap_per_unit_supply": spark_round(r["market_cap_usd"] / r["supply"], 8),
        "status_oferta_maxima": status(r), "data_referencia": r["dr"],
        "data_processamento_analise": analysis}
        for r in latest if r["supply"] is not None and r["supply"] > 0
        and r["market_cap_usd"] is not None]

    def index(rows):
        out = {}
        for r in rows:
            out.setdefault((r["symbol"], r["data_referencia"]), []).append(r)
        return out
    by_supply, by_dom, by_mover = index(supply), index(dominance), index(movers)
    newest = max((r["data_referencia"] for r in overview), default=None)
    dashboard = []
    for o in overview:
        if o["data_referencia"] != newest:
            continue
        key = (o["symbol"], o["data_referencia"])
        for s in by_supply.get(key, [None]):
            for d in by_dom.get(key, [None]):
                for m in by_mover.get(key, [None]):
                    dashboard.append({
                        **{c: o[c] for c in DASHBOARD_OVERVIEW_COLS},
                        "market_cap_per_unit_supply": s and s["market_cap_per_unit_supply"],
                        "status_oferta_maxima": s and s["status_oferta_maxima"],
                        "percent_market_cap": d and d["percent_market_cap"],
                        "tipo_movimento": m and m["tipo_movimento"]})
    return {"daily_overview": overview, "top_gainers_losers": movers,
            "market_dominance": dominance, "supply_dynamics": supply,
            "dashboard": dashboard}


DASHBOARD_OVERVIEW_COLS = [
    "id", "name", "symbol", "rank", "price_usd", "market_cap_usd",
    "volume_usd_24hr", "change_percent_24hr", "vwap_24hr", "supply",
    "max_supply", "explorer", "data_referencia"]

# Columns computed from an order-dependent double sum: Spark and this oracle
# may add the market caps in different orders, so the rounded percentage may
# differ by one unit in its last (4th) decimal at a rounding boundary.
_ONE_UNIT = {"percent_market_cap": 1e-4}


def read_gold_table(path):
    """Rows of a Spark-written parquet table, instants as epoch micros."""
    con = duckdb.connect()
    files = os.path.join(path, "*.parquet")
    desc = con.execute(f"DESCRIBE SELECT * FROM '{files}'").fetchall()
    sel = ", ".join(f'epoch_us("{c}") AS "{c}"' if t.startswith("TIMESTAMP")
                    else f'"{c}"' for c, t, *_ in desc)
    cur = con.execute(f"SELECT {sel} FROM '{files}'")
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def read_dashboard_rows(path):
    """Rows the harness collected, instants (ISO-8601 UTC) as epoch micros."""
    doc = json.load(open(path))
    out = []
    for r in doc["rows"]:
        row = dict(zip(doc["columns"], r))
        t = datetime.datetime.fromisoformat(row["data_referencia"].replace("Z", "+00:00"))
        row["data_referencia"] = int(t.timestamp()) * 1_000_000 + t.microsecond
        out.append(row)
    return out


def _same(col, a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float) and col in _ONE_UNIT:
        return abs(abs(a - b) - _ONE_UNIT[col]) < 1e-9
    return False


def compare_rows(got, want):
    """None when the row multisets match, else a short reason."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if not want:
        return None
    cols = sorted(want[0])
    if got and sorted(got[0]) != cols:
        return f"columns {sorted(got[0])} != {cols}"

    # one-unit columns sort last, so rows that differ only there pair up
    order = [c for c in cols if c not in _ONE_UNIT] + [c for c in cols if c in _ONE_UNIT]

    def key(r):
        return tuple((r[c] is None, 0 if r[c] is None else r[c]) for c in order)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for c in cols:
            if not _same(c, g[c], w[c]):
                return f"{c}: {g[c]!r} != {w[c]!r} (row id={w.get('id', w.get('name'))})"
    return None


def check_medallion(work, backfill_files, all_files, backfill_ts, final_ts):
    """name -> None when it matches, else the reason."""
    verdicts = {}
    exp = expected_gold(backfill_files, backfill_ts)
    verdicts["dashboard_backfill"] = compare_rows(
        read_dashboard_rows(os.path.join(work, "dashboard_backfill.json")),
        exp["dashboard"])
    exp = expected_gold(all_files, final_ts)
    for name in ("daily_overview", "top_gainers_losers", "market_dominance",
                 "supply_dynamics"):
        path = os.path.join(work, "warehouse", "gold", name)
        verdicts[name] = (compare_rows(read_gold_table(path), exp[name])
                          if os.path.isdir(path) else "table missing")
    verdicts["dashboard_final"] = compare_rows(
        read_dashboard_rows(os.path.join(work, "dashboard_final.json")),
        exp["dashboard"])
    return verdicts
