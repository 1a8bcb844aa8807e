"""Deterministic inputs for the perfbench workloads.

Two kinds of input are written here, both with numpy + pyarrow only:

* the ten fixture tables the engine's queries read (``region`` ..
  ``embeddings``), at a chosen scale factor, with the same schemas and
  value distributions as the fixture tables described in TESTDATA.md;
* the replay files of the streaming lanes: market-snapshot slices for the
  ingest and pair-scan lanes and document slices for the curation lane.

Every file is a function of (scale, seed) alone. Replay files are written
one at a time, in slice order, and each gets a fixed modification time, so
a file stream source sees the same files in the same order on every run
(``graft.streaming.Replay.stage`` writes its slices in parallel, which
leaves the order to task timing).
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
PART_ADJ = ("red", "small", "hot", "cold", "old", "large", "blue", "new")
PART_NOUN = ("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt",
             "rod")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

US = 1_000_000
EPOCH_2024 = 1_704_067_200 * US          # 2024-01-01T00:00:00Z in µs
EPOCH_1995 = 788_918_400 * US            # 1995-01-01T00:00:00Z in µs
DAY_US = 86_400 * US
# replay files get modification times counted from here, one second apart
REPLAY_MTIME0 = 1_704_067_200
# event-time spacing of consecutive rows of the pair-scan stream
SCAN_STEP_US = 4 * US


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), size=n, p=p)].tolist(), type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    """The ten fixture tables at scale `sf`, as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US)})
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + EPOCH_2024
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, n_ev)])})
    # documents: random word strings, 5% of them a near-duplicate of an
    # earlier document (its text plus " dup")
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            nw = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), nw)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64))})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return out


def write_table(table, path, mtime=None):
    """Write one parquet file in a single row group, atomically."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows),
                   compression="snappy")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def write_tables(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# --- market snapshots ------------------------------------------------------

def _condition_id(market):
    return "0x" + hashlib.md5(market.encode()).hexdigest()


def snapshots(event_id, ts_us, user_id, price):
    """Market-snapshot rows in the schema of graft.sources.Snapshots.frame:
    even ids are Kalshi books, odd ids Polymarket books, on 8 markets."""
    rows = {k: [] for k in (
        "snapshot_id", "ts", "ts_ns", "ts_us", "source", "market", "ticker",
        "full_orderbook", "api_call_start_ns", "api_response_ns",
        "virginia_received_ns", "data_server_stored_ns")}
    for eid, us, uid, p in zip(event_id.tolist(), ts_us.tolist(),
                               user_id.tolist(), price.tolist()):
        market = f"T{uid % 8}"
        q1, q2, q3 = (eid % 50) * 10 + 10, (uid % 30) * 5 + 5, 17
        if eid % 2 == 0:
            source, ticker = "kalshi", market
            book = {"yes": [[p, q1], [p - 1, q2]],
                    "no": [[99 - p, q3], [98 - p, q1]]}
        else:
            source, ticker = "polymarket", _condition_id(market)

            def lvl(c, s):
                return {"price": c / 100.0, "size": float(s)}
            book = {"condition_id": ticker, "yes_price": p / 100.0,
                    "no_price": 1.0 - p / 100.0,
                    "orderbook": {"bids": [lvl(p - 1, q1), lvl(p - 2, q2)],
                                  "asks": [lvl(p + 1, q3), lvl(p + 2, q1)]}}
        ns0 = us * 1000
        recv = ns0 + ((uid % 50) + 1) * 1_000_000
        rows["snapshot_id"].append(eid)
        rows["ts"].append(us)
        rows["ts_ns"].append(ns0)
        rows["ts_us"].append(us)
        rows["source"].append(source)
        rows["market"].append(market)
        rows["ticker"].append(ticker)
        rows["full_orderbook"].append(json.dumps(book, separators=(",", ":")))
        rows["api_call_start_ns"].append(
            ns0 - ((eid % 500) + 20) * 1_000_000)
        rows["api_response_ns"].append(ns0)
        rows["virginia_received_ns"].append(recv)
        rows["data_server_stored_ns"].append(
            recv + ((eid % 200) + 5) * 1_000_000)
    text = ("source", "market", "ticker", "full_orderbook")
    cols = {k: pa.array(v, pa.string() if k in text else pa.int64())
            for k, v in rows.items()}
    # a UTC-adjusted timestamp, as Spark writes the snapshot store's `ts`
    cols["ts"] = pa.array(np.asarray(rows["ts"], np.int64),
                          pa.timestamp("us", tz="UTC"))
    return pa.table(cols)


def ingest_snapshots(events):
    """The snapshot store derived from `events` (the ingest lane's input)."""
    price = np.floor(events.column("value").to_numpy()).astype(np.int64) \
        % 95 + 2
    return snapshots(events.column("event_id").to_numpy(),
                     events.column("ts").cast(pa.int64()).to_numpy(),
                     events.column("user_id").to_numpy(), price)


def scan_snapshots(n_rows, seed):
    """A dense, time-ordered snapshot stream for the pair-scan lane: row i
    lands SCAN_STEP_US after row i-1, on market i % 8, so each Kalshi book
    meets several Polymarket books of its pair inside the 60 s window."""
    rng = np.random.default_rng([seed, 7])
    i = np.arange(n_rows, dtype=np.int64)
    # user_id chosen so that user_id % 8 is the market and the row's parity
    # (its source) alternates within each market
    user_id = (i % 8) + 8 * rng.integers(0, 180, n_rows)
    event_id = 2 * (i // 8) * 8 + (i % 8) * 2 + ((i // 8) % 2)
    price = rng.integers(2, 97, n_rows)
    return snapshots(event_id, EPOCH_2024 + i * SCAN_STEP_US, user_id, price)


def slice_bounds(n_rows, n_slices):
    """Row offsets of `n_slices` contiguous slices: slice k holds rows
    [bounds[k], bounds[k + 1])."""
    return np.linspace(0, n_rows, n_slices + 1).astype(int).tolist()


def write_slices(table, out_dir, n_slices, mtime0=REPLAY_MTIME0):
    """Split `table` into `n_slices` contiguous slices and write them one at
    a time, in order, as slice-00000.parquet ..., with modification times
    mtime0, mtime0 + 1, ..."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = slice_bounds(table.num_rows, n_slices)
    for k in range(n_slices):
        write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                    os.path.join(out_dir, f"slice-{k:05d}.parquet"),
                    mtime=mtime0 + k)


def lane_inputs(data_dir, out_dir, seed, cfg):
    """Replay files for the three lanes under `out_dir`:
    ingest/ (snapshot store slices), scan/ (dense scan stream slices) and
    curation/ (the incoming document split). `data_dir` holds the tables.
    Returns the schedule facts run.py and the harness need."""
    events = pq.read_table(os.path.join(data_dir, "events.parquet")).slice(
        0, cfg["ingest_rows"])
    write_slices(ingest_snapshots(events), os.path.join(out_dir, "ingest"),
                 cfg["ingest_slices"])
    scan = scan_snapshots(cfg["scan_rows"], seed)
    write_slices(scan, os.path.join(out_dir, "scan"), cfg["scan_slices"])
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text", "source"])
    ids = docs.column("doc_id").to_numpy()
    incoming = docs.filter(pa.array(ids % 10 >= 8)).slice(
        0, cfg["curation_docs"])
    write_slices(incoming, os.path.join(out_dir, "curation"),
                 cfg["curation_slices"])
    return {"ingest_rows": events.num_rows, "scan_rows": scan.num_rows,
            "curation_docs": incoming.num_rows}
