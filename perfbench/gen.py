"""Seeded input generator for the benchmark.

Everything the program reads during a benchmark run is written here,
from ``--seed`` alone, with numpy and pyarrow (no Spark), so the same
seed gives byte-identical files and input generation never shares the
engine being measured.

The tables have the fixture schemas the registry queries expect
(TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``).
Each operation's input is a fresh draw keyed by ``(seed, operation
index)``: distinct data of identical size and distribution, so no
path- or content-keyed memo in the program can serve one operation
from another. The skew of ``tools/bench_scale.materialize_skew`` is
planted the same way: the seed chooses which documents form one hot
near-duplicate cluster, and a fifth of the embeddings sit in one dense
cluster (one hot IVF cell). Ids are not shifted per operation, as
``bench_scale.materialize`` does, because several queries select fixed
id ranges (``sim_ivf_topk`` queries ``vec_id < 10``).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "row", "the", "query", "stream", "fast", "spark", "line", "small",
    "customer", "group", "value", "hash", "batch", "sort", "data", "big",
    "filter", "key", "agg", "scan", "slow", "table", "part", "a", "merge",
    "window", "order", "column", "join", "vector",
]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
P_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMB_DIM = 64
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
DAY_US = 86_400 * 1_000_000
ORDER_T0_US = 788_918_400_000_000  # 1995-01-01

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[i : i + ln]))
        i += ln
    return out


def tables(seed: int, op: int, sf: float, hot_docs: int = 0) -> dict[str, pa.Table]:
    """All fixture tables at scale ``sf`` (row counts as in TESTDATA.md:
    lineitem ~6e6*sf, events 1e6*sf, documents 5e4*sf).

    ``hot_docs`` plants the skew of ``materialize_skew``: that many
    seed-chosen documents share one text, forming one hot near-dup
    cluster whose every LSH band bucket is maximally hot."""
    r = _rng(seed, op)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 200)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 60)
    n_vecs = max(int(20_000 * sf), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    money = lambda lo, hi, n: np.round(r.uniform(lo, hi, n), 2)  # noqa: E731
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(P_ADJ)[r.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN)[r.integers(0, len(P_NOUN), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(P_TYPES)[r.integers(0, len(P_TYPES), n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    odate = ORDER_T0_US + r.integers(0, 2404, n_ord) * DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(odate // 1000, pa.timestamp("ms")),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )
    per_order = r.integers(1, 8, n_ord)  # ~4 lines per order
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    n_li = len(lok)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": lok,
            "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(18.0, 2100.0, n_li), 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                (odate[lok] + r.integers(1, 122, n_li) * DAY_US) // 1000,
                pa.timestamp("ms"),
            ),
        }
    )
    ts = EVENT_T0_US + np.sort(r.integers(0, EVENT_SPAN_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts * 1000, pa.timestamp("ns")),
            "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.clip(np.round(r.lognormal(3.5, 1.1, n_ev), 2), 0.01, 500.0),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    texts = _texts(r, n_docs)
    # planted near-duplicates: every 20th doc repeats an earlier doc + " dup"
    for i in range(19, n_docs, 20):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    if hot_docs:
        hot = " ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), 40))
        for i in r.choice(n_docs, size=min(hot_docs, n_docs), replace=False):
            texts[int(i)] = hot
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
            "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)),
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    # ten label centroids plus one dense cluster: a fifth of the vectors
    # sit tightly around one direction (the hot IVF cell)
    labels = r.integers(0, 10, n_vecs).astype(np.int32)
    cent = r.normal(size=(11, EMB_DIM))
    spread = np.where(np.arange(n_vecs) % 5 == 0, 0.05, 1.0)[:, None]
    which = np.where(np.arange(n_vecs) % 5 == 0, 10, labels)
    v = cent[which] + spread * r.normal(size=(n_vecs, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], dst: str) -> None:
    """Write each table as ``<dst>/<name>.parquet``."""
    os.makedirs(dst, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dst, f"{name}.parquet"))


# --- UNSW-NB15-shaped CSVs (io.unsw column order) --------------------------

ATTACK_CATS = [
    "Fuzzers", "Analysis", "Backdoors", "DoS", "Exploits", "Generic",
    "Reconnaissance", "Shellcode", "Worms",
]


def unsw_frame(events: pa.Table) -> pd.DataFrame:
    """The 49 UNSW columns derived row-locally from ``events`` with the
    arithmetic of ``io.unsw.synthesize_unsw``, plus the ``__file`` split
    key. Columns come out in ``UNSW_COLUMNS`` order."""
    eid = events["event_id"].to_numpy()
    uid = events["user_id"].to_numpy()
    v = events["value"].to_numpy()
    m = (eid * 31 + uid) % 13
    i32 = lambda a: np.asarray(a).astype(np.int32)  # noqa: E731

    def nullable(a, null):
        out = pd.array(np.asarray(a).astype(np.int32), dtype="Int32")
        out[null] = pd.NA
        return out

    stime = 1420070400 + eid * 97 % 86400
    cols = {
        "srcip": np.char.add("10.0.0.", (uid % 8).astype(str)),
        "sport": i32(1024 + eid % 60000),
        "dstip": np.char.add("192.168.1.", ((uid + 3) % 8).astype(str)),
        "dsport": i32(1 + eid % 1024),
        "proto": np.array(["tcp", "udp", "icmp", "arp", "ospf"])[uid % 5],
        "state": np.array(["FIN", "CON", "INT", "REQ"])[uid % 4],
        "dur": v / 100.0,
        "sbytes": i32(eid * 7 % 100000),
        "dbytes": i32(uid * 13 % 80000),
        "sttl": i32(31 + eid % 224),
        "dttl": i32(29 + uid % 224),
        "sloss": i32(eid % 10),
        "dloss": i32(uid % 7),
        "service": np.select(
            [v < 50, v < 150, v < 250, v < 300], ["http", "dns", "smtp", "ftp"], "-"
        ),
        "sload": v * 8.0,
        "dload": v * 4.25,
        "spkts": i32(1 + eid % 1000),
        "dpkts": i32(1 + uid % 800),
        "swin": i32(np.full(len(eid), 255)),
        "dwin": i32(np.full(len(eid), 255)),
        "stcpb": i32(eid * 1003 % 2000000),
        "dtcpb": i32(uid * 2003 % 2000000),
        "smeansz": i32(40 + eid % 1400),
        "dmeansz": i32(40 + uid % 1400),
        "trans_depth": i32(eid % 5),
        "res_bdy_len": i32(eid * 3 % 5000),
        "sjit": v / 7.0,
        "djit": v / 11.0,
        "stime": i32(stime),
        "ltime": i32(stime + np.floor(v / 100.0)),
        "sintpkt": v / 3.0,
        "dintpkt": v / 5.0,
        "tcprtt": v / 1000.0,
        "synack": v / 2000.0,
        "ackdat": v / 3000.0,
        "is_sm_ips_ports": i32(uid % 50 == 0),
        "ct_state_ttl": i32(eid % 6),
        "ct_flw_http_mthd": nullable(eid % 7, eid % 10 == 0),
        "is_ftp_login": nullable(uid % 2, uid % 25 == 0),
        "ct_ftp_cmd": i32(uid % 3),
        "ct_srv_src": i32(1 + eid % 60),
        "ct_srv_dst": i32(1 + uid % 60),
        "ct_dst_ltm": i32(1 + eid % 40),
        "ct_src_ltm": i32(1 + uid % 40),
        "ct_src_dport_ltm": i32(1 + eid % 20),
        "ct_dst_sport_ltm": i32(1 + uid % 20),
        "ct_dst_src_ltm": i32(1 + eid % 30),
        "attack_cat": np.where(
            m < 4, "Normal", np.array(["Normal", *ATTACK_CATS])[np.clip(m - 3, 0, 9)]
        ),
        "label": i32(m >= 4),
        "__file": eid % 4,
    }
    return pd.DataFrame(cols)


def write_unsw_csvs(events: pa.Table, dst: str, columns: list[str]) -> None:
    """The reference's four headerless partition files
    ``UNSW-NB15_{1..4}.csv`` (file n holds ``event_id % 4 == n - 1``),
    columns in ``columns`` order."""
    df = unsw_frame(events)
    os.makedirs(dst, exist_ok=True)
    for n in range(1, 5):
        path = os.path.join(dst, f"UNSW-NB15_{n}.csv")
        df.loc[df["__file"] == n - 1, columns].to_csv(path, header=False, index=False)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
