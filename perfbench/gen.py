"""Seeded input generation for the benchmark.

Everything the engine reads in a run is produced here from the run's seed:

* CoinCap-shaped poll documents for the `medallion` workload (the engine's
  Bronze input): 2000 assets per poll, numeric fields as 16-fraction-digit
  decimal strings, null `maxSupply` and null `changePercent24Hr`, symbols
  shared by several assets, and `tokens` maps.
* The star-schema tables (`region` ... `embeddings`) the query workloads
  read, with the row counts, column types, key ranges and value ranges of
  the engine's test data at the same scale factor.

The same seed gives byte-identical files; numpy's PCG64 stream and Python's
float formatting are both platform-independent.
"""
import datetime
import os

import numpy as np

ASSETS_PER_POLL = 2000
POLL_INTERVAL_MS = 5 * 60 * 1000
# 2025-05-24 00:00:00 UTC; each seed starts on its own day.
EPOCH_BASE_MS = 1748044800000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


# ── medallion: CoinCap polls ────────────────────────────────────────────

_SYLLABLES = ["ba", "co", "di", "fe", "ga", "hu", "ki", "lo", "ma", "ne",
              "po", "qu", "ra", "si", "to", "vu", "wa", "xe", "yo", "zu"]


class PollSource:
    """A fixed asset universe whose prices random-walk from poll to poll."""

    def __init__(self, seed, n_assets=ASSETS_PER_POLL):
        rng = _rng(seed, 1)
        self.rng = _rng(seed, 2)
        self.n = n_assets
        self.t0 = EPOCH_BASE_MS + (seed % 1000) * 86_400_000
        names, symbols = [], []
        for i in range(n_assets):
            k = rng.integers(0, len(_SYLLABLES), 3)
            names.append("".join(_SYLLABLES[j] for j in k).capitalize()
                         + f" {i}")
            symbols.append("".join(chr(65 + c) for c in rng.integers(0, 26, 4)))
        # ~5% of assets reuse another asset's symbol (the dashboard join
        # fans out on symbol, as the reference's does)
        for i in np.flatnonzero(rng.random(n_assets) < 0.05):
            symbols[i] = symbols[int(rng.integers(0, n_assets))]
        self.supply = 10 ** rng.uniform(4, 11, n_assets)
        kind = rng.random(n_assets)
        # maxSupply: null (uncapped), equal to supply (at the limit), or above
        self.max_supply = np.where(kind < 0.4, np.nan,
                                   np.where(kind < 0.5, self.supply,
                                            self.supply * rng.uniform(1, 3, n_assets)))
        self.log_price = rng.uniform(np.log(1e-6), np.log(1e5), n_assets)
        static = []
        for i in range(n_assets):
            aid = f"asset-{i:04d}"
            explorer = ("null" if rng.random() < 0.1
                        else f'"https://explorer.example/{aid}"')
            if rng.random() < 0.3:
                addr = "".join(f"{b:02x}" for b in rng.integers(0, 256, 20))
                tokens = f'{{"{int(rng.integers(1, 60))}":["0x{addr}"]}}'
            else:
                tokens = "{}"
            static.append((f'{{"id":"{aid}","symbol":"{symbols[i]}",'
                           f'"name":"{names[i]}",', explorer, tokens))
        self.static = static
        self.index = 0

    def next_poll(self):
        """(epoch_ms, json text) of the next poll."""
        rng, n = self.rng, self.n
        self.log_price += rng.normal(0, 0.002, n)
        price = np.exp(self.log_price)
        mcap = price * self.supply
        volume = mcap * rng.uniform(0.001, 0.2, n)
        vwap = price * (1 + rng.normal(0, 0.01, n))
        change = rng.normal(0, 5, n)
        change_null = rng.random(n) < 0.03
        rank = np.empty(n, dtype=np.int64)
        rank[np.argsort(-mcap, kind="stable")] = np.arange(1, n + 1)
        ts = self.t0 + self.index * POLL_INTERVAL_MS + int(rng.integers(0, 1000))
        self.index += 1
        parts = []
        for i in range(n):
            head, explorer, tokens = self.static[i]
            parts.append(
                f'{head}"rank":"{rank[i]}","supply":{_dec(self.supply[i])},'
                f'"maxSupply":{_dec(self.max_supply[i])},'
                f'"marketCapUsd":{_dec(mcap[i])},"volumeUsd24Hr":{_dec(volume[i])},'
                f'"priceUsd":{_dec(price[i])},'
                f'"changePercent24Hr":{"null" if change_null[i] else _dec(change[i])},'
                f'"vwap24Hr":{_dec(vwap[i])},"explorer":{explorer},'
                f'"tokens":{tokens}}}')
        return ts, '{"data":[' + ",".join(parts) + f'],"timestamp":{ts}}}'


def _dec(x):
    """The API's number format: a decimal string with 16 fraction digits."""
    return "null" if np.isnan(x) else f'"{x:.16f}"'


def poll_file_name(epoch_ms):
    """Landing.pollFileName: coincap_data_<yyyyMMdd_HHmmss>.json (UTC)."""
    t = datetime.datetime.fromtimestamp(epoch_ms // 1000, datetime.timezone.utc)
    return t.strftime("coincap_data_%Y%m%d_%H%M%S.json")


def write_polls(source, directory, count):
    os.makedirs(directory, exist_ok=True)
    for _ in range(count):
        ts, text = source.next_poll()
        with open(os.path.join(directory, poll_file_name(ts)), "w") as f:
            f.write(text)


def medallion_inputs(seed, out_dir, backfill_polls, cycle_polls):
    """Backfill polls (landed at once) and the polls the incremental cycles
    land one by one, in landing order."""
    src = PollSource(seed)
    write_polls(src, os.path.join(out_dir, "backfill"), backfill_polls)
    write_polls(src, os.path.join(out_dir, "incoming"), cycle_polls)


# ── query workloads: star-schema tables ─────────────────────────────────

_WORDS = ["query", "row", "stream", "the", "batch", "sort", "value", "hash",
          "filter", "big", "data", "dup", "part", "column", "order", "scan",
          "a", "slow", "agg", "key", "window", "table", "merge", "vector",
          "join", "spark", "line", "small", "fast", "group", "customer"]


def _micros(start, end):
    return np.datetime64(start, "us"), np.datetime64(end, "us")


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def star_tables(seed, sf=0.1):
    """name -> pyarrow.Table, shaped like the engine's star-schema test data."""
    import pyarrow as pa

    def scale(n):
        return max(1, int(round(n * sf / 0.1)))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    rng = _rng(seed, 10)
    n = scale(15000)
    segments = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
                         "BUILDING"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": segments[rng.integers(0, 5, n)]})
    n_cust = n

    rng = _rng(seed, 11)
    n = scale(1000)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n_supp = n

    rng = _rng(seed, 12)
    n = scale(20000)
    adj = np.array(["large", "hot", "blue", "small", "red", "cold", "green",
                    "shiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "spring",
                     "plate"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                              noun[rng.integers(0, 8, n)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10.0, 1)})
    n_part = n

    rng = _rng(seed, 13)
    n = scale(150000)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n)]})
    n_orders = n

    rng = _rng(seed, 14)
    n = scale(600000)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})

    rng = _rng(seed, 15)
    n = scale(100000)
    lo, hi = _micros("2024-01-01", "2024-01-31")
    ts = np.sort(rng.integers(0, (hi - lo).astype(int), n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(lo + ts),
        "user_id": pa.array(rng.integers(0, scale(1500), n).astype(np.int64)),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])
        [rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    # documents and embeddings have at least 500 rows at every scale
    rng = _rng(seed, 16)
    n = max(500, scale(5000))
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), int(k))])
             for k in rng.integers(10, 101, n)]
    # as in the test data: 4.8% of documents are near-duplicates (another
    # document's text plus " dup") and 0.16% exact duplicates, fixed counts
    # so that every seed gives the dedup queries the same amount of work
    copies = rng.permutation(n)[:round(0.048 * n) + int(0.0016 * n)]
    originals = np.setdiff1d(np.arange(n), copies)
    for j, i in enumerate(copies):
        src = texts[int(originals[rng.integers(0, len(originals))])]
        texts[i] = src + " dup" if j < round(0.048 * n) else src
    langs = np.array(["en", "zh", "de", "es", "fr"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})

    rng = _rng(seed, 17)
    n = max(500, scale(2000))
    # unit vectors uniform on the sphere; labels independent of them
    vecs = rng.normal(0, 1, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    label = rng.integers(0, 10, n)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    return t


def write_tables(seed, out_dir, sf=0.1):
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


def query_order(seed, names, passes):
    """A fresh seeded permutation of the query names for each pass."""
    rng = _rng(seed, 20)
    names = sorted(names)
    return [[names[i] for i in rng.permutation(len(names))]
            for _ in range(passes)]

