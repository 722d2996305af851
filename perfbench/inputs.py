"""Seeded benchmark inputs, generated once per (kind, seed, size) and cached.

Two families:

- ``tables``: the ten sf-tier parquet tables the query workloads read,
  in the shape of the repository's testdata (TPC-H-ish star schema, an
  ``events`` stream, a ``documents`` corpus with a 5% near-duplicate
  tail, clustered unit-norm ``embeddings``).
- ``archive``: an ODNS scan archive ``<root>/<year>/{tcp,udp}/`` with
  one gzipped ``;``-separated scan file per protocol in the reference's
  row shape (tcp 18 columns, udp 17 without ``timestamp_response``).
  About 2% of every field is empty, and a known share of timestamps
  and ASNs is malformed, so null-on-failure typing has work to do. The
  exact per-column null counts the sink must show are written next to
  the archive as ``truth.json``.

Everything is vectorized (numpy for values, pyarrow for string
assembly and the CSV writer), so a 1M-row scan file takes seconds, not
the ~40 s of a pandas ``to_csv`` row loop. A cache entry is written to
a temp name and renamed into place, so an interrupted run never leaves
a half-written entry behind.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv

ARCHIVE_YEAR = 2024
SCAN_DATE = "2024-06-15"

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
MKTSEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD", "PROMO"]
PADJ = ["large", "hot", "blue", "old", "cold", "new", "red", "green"]
PNOUN = ["ring", "bolt", "plate", "gear", "wheel", "cap", "rod", "pin"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# ODNS field vocabularies and fault shares
COUNTRIES = ["DE", "US", "JP", "BR", "IN", "FR", "NL", "CN", "RU", "GB"]
ORGS = ["ACME-NET", "EXAMPLE-ISP", "TEST-ORG", "BACKBONE-AS", "CLOUD-1", "MOBILE-CARRIER"]
RESPONSE_TYPES = ["transparent", "recursive", "correct", "incorrect", "timeout"]
EMPTY_SHARE = 0.02  # every field, as in the reference scans
BAD_TS_SHARE = 0.01  # of timestamps: no fraction or garbage -> NULL
BAD_ASN_SHARE = 0.01  # of ASNs: "AS<n>" -> NULL
TCP_COLUMNS = [
    "ip_request", "ip_response", "a_record", "timestamp_request",
    "timestamp_response", "response_type", "country_request", "asn_request",
    "prefix_request", "org_request", "country_response", "asn_response",
    "prefix_response", "org_response", "country_arecord", "asn_arecord",
    "prefix_arecord", "org_arecord",
]
COLUMNS = {"tcp": TCP_COLUMNS, "udp": [c for c in TCP_COLUMNS if c != "timestamp_response"]}


def _publish(tmp: str, final: str) -> str:
    if os.path.isdir(final):  # lost a race with a concurrent run: keep theirs
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)
    return final


def tables(cache_dir: str, seed: int, sf: float) -> str:
    """Directory holding the ten sf-tier tables for ``seed``."""
    final = os.path.join(cache_dir, f"tables-sf{sf}-seed{seed}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp)
    _write_tables(tmp, np.random.default_rng(seed), sf / 0.1)
    return _publish(tmp, final)


def _ts(base: str, offset_days: np.ndarray) -> np.ndarray:
    return np.datetime64(base) + (offset_days * 86_400_000_000).astype("timedelta64[us]")


def _write_tables(out: str, rng: np.random.Generator, k: float) -> None:
    def write(name: str, cols: dict) -> None:
        # 32k-row groups keep every scan multi-task, as the lake layout would
        pd.DataFrame(cols).to_parquet(
            os.path.join(out, f"{name}.parquet"), index=False, row_group_size=32_768
        )

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    write("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    n_cust, n_supp, n_part = int(15_000 * k), int(1_000 * k), int(20_000 * k)
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": rng.choice(MKTSEGMENTS, n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(PADJ, n_part), " "), rng.choice(PNOUN, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(0, 25, n_part).astype("U2")),
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    n_ord = int(150_000 * k)
    odays = rng.uniform(0, 2404, n_ord)
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", np.floor(odays)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    n_li = int(600_000 * k)
    lok = np.sort(rng.integers(0, n_ord, n_li).astype(np.int64))
    first = np.r_[0, np.flatnonzero(np.diff(lok)) + 1]
    linenum = np.arange(n_li) - np.repeat(first, np.diff(np.r_[first, n_li])) + 1
    write("lineitem", {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-01", np.floor(odays[lok] + rng.uniform(1, 95, n_li))),
    })
    n_ev, n_users = int(100_000 * k), max(1, int(1_500 * k))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype("U3")), "}"),
    })
    n_doc = int(5_000 * k)
    lens = rng.integers(10, 101, n_doc)
    toks = rng.choice(np.array(VOCAB, dtype=object), int(lens.sum()))
    offs = np.r_[0, np.cumsum(lens)]
    texts = [" ".join(toks[offs[i]:offs[i + 1]]) for i in range(n_doc)]
    # 5% near-duplicate tail: a copy of another doc plus a ' dup' marker
    for d, s in zip(rng.choice(n_doc, n_doc // 20, replace=False), rng.integers(0, n_doc, n_doc // 20)):
        if d != s:
            texts[d] = texts[s] + " dup"
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.40, 0.15, 0.15, 0.15, 0.15]),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype("U2")),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_emb = int(2_000 * k)
    cents = rng.normal(0, 1, (10, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = cents[labels] + 0.35 * rng.normal(0, 1 / 8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(np.int32),
    })


def archive(cache_dir: str, seed: int, rows: int) -> str:
    """Archive root for ``seed`` with ``rows`` rows per protocol file;
    ``<root>/truth.json`` holds what a correct ingest must produce."""
    final = os.path.join(cache_dir, f"archive-{rows}-seed{seed}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    rng = np.random.default_rng(seed)
    truth: dict = {"scan_date": SCAN_DATE, "protocols": {}}
    for proto in ("tcp", "udp"):
        d = os.path.join(tmp, str(ARCHIVE_YEAR), proto)
        os.makedirs(d)
        path = os.path.join(d, f"{proto}_dns_scan_{SCAN_DATE}.csv.gz")
        truth["protocols"][proto] = _write_scan(path, proto, rows, rng)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return _publish(tmp, final)


def _digits(a: np.ndarray, width: int = 0) -> pa.Array:
    s = pc.cast(pa.array(a), pa.string())
    return pc.utf8_lpad(s, width, "0") if width else s


def _ips(rng: np.random.Generator, n: int) -> pa.Array:
    parts = [_digits(rng.integers(lo, 255, n)) for lo in (1, 0, 0, 1)]
    return pc.binary_join_element_wise(*parts, ".")


def _write_scan(path: str, proto: str, n: int, rng: np.random.Generator) -> dict:
    """Write one scan file; return its row count, decompressed CSV bytes
    and the typed-null count per column a correct ingest must produce."""
    def pick(vocab: list[str]) -> pa.Array:
        return pa.array(np.asarray(vocab, dtype=object)[rng.integers(0, len(vocab), n)])

    def timestamps() -> tuple[pa.Array, np.ndarray]:
        hh, mm, ss = (_digits(rng.integers(0, m, n), 2) for m in (24, 60, 60))
        us = _digits(rng.integers(0, 1_000_000, n), 6)
        hms = pc.binary_join_element_wise(hh, mm, ss, ":")
        good = pc.binary_join_element_wise(pa.scalar(SCAN_DATE), hms, " ")
        kind = rng.random(n)
        bad = kind < BAD_TS_SHARE
        # half the bad ones lack the strict %f fraction, half are garbage
        no_frac = kind < BAD_TS_SHARE / 2
        vals = pc.if_else(
            pa.array(bad),
            pc.if_else(pa.array(no_frac), good, pa.scalar("not-a-date")),
            pc.binary_join_element_wise(good, us, "."),
        )
        return vals, bad

    def asns() -> tuple[pa.Array, np.ndarray]:
        num = _digits(rng.integers(100, 70_000, n))
        bad = rng.random(n) < BAD_ASN_SHARE
        vals = pc.if_else(
            pa.array(bad),
            pc.binary_join_element_wise(pa.scalar("AS"), num, ""),
            pc.binary_join_element_wise(num, pa.scalar(".0"), ""),
        )
        return vals, bad

    cols: dict[str, pa.Array] = {}
    nulls: dict[str, int] = {}
    for name in COLUMNS[proto]:
        bad = np.zeros(n, dtype=bool)
        if name.startswith(("ip_", "a_record")):
            vals = _ips(rng, n)
        elif name.startswith("prefix_"):
            vals = pc.binary_join_element_wise(_ips(rng, n), pa.scalar("/24"), "")
        elif name.startswith("timestamp_"):
            vals, bad = timestamps()
        elif name.startswith("asn_"):
            vals, bad = asns()
        elif name.startswith("country_"):
            vals = pick(COUNTRIES)
        elif name.startswith("org_"):
            vals = pick(ORGS)
        else:
            vals = pick(RESPONSE_TYPES)
        empty = rng.random(n) < EMPTY_SHARE
        cols[name] = pc.if_else(pa.array(empty), pa.scalar(None, pa.string()), vals)
        nulls[name] = int((empty | bad).sum())

    # the reference's header is unquoted; pyarrow quotes header names
    sink = pa.BufferOutputStream()
    sink.write((";".join(cols) + "\n").encode())
    pcsv.write_csv(
        pa.table(cols),
        sink,
        pcsv.WriteOptions(
            include_header=False, delimiter=";", quoting_style="none", batch_size=65_536
        ),
    )
    buf = sink.getvalue()
    with gzip.open(path, "wb", compresslevel=1) as f:
        f.write(memoryview(buf))
    return {"rows": n, "csv_bytes": buf.size, "typed_nulls": nulls}
