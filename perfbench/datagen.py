"""Seeded input generation for the benchmark workloads.

Every table's VALUES come from a fixed generator (``VALUE_SEED``), so the
multiset of rows, and with it every query result, is the same for every
run. The run's ``--seed`` decides the LAYOUT: row order inside each file,
how the corpus is split into micro-batch files, which later batch each
planted near-duplicate twin lands in, and the order a portal serves its
pages in. Layout moves the work (skew, batch composition, page order)
while the recorded output digests stay valid for any seed.

The relational and corpus tables mirror the synthetic TPC-H/events/
documents/embeddings schema the package's queries read; the police rows
mirror the reference's STOPS fixtures (mixed date formats, race/
ethnicity/gender/age labels, multi-person cells).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VALUE_SEED = 42

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _rng(tag: str) -> np.random.Generator:
    return np.random.default_rng([VALUE_SEED, sum(map(ord, tag))])


def _ts(days_from: dt.date, days: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]").astype(
        "timedelta64[us]"), type=pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def tpch_tables(sf: float) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem/events at
    scale factor ``sf`` (lineitem = 6M x sf rows)."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev, n_users = int(6_000_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    r = _rng("tpch")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r.uniform(-999.99, 9999.99, n_supp))})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
                     "widget"])
    types = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    span_o = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r.uniform(1000, 500_000, n_ord)),
        "o_orderdate": _ts(dt.date(1995, 1, 1), r.integers(0, span_o, n_ord)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, n_ord)]})
    span_l = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days + 1
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r.uniform(900, 105_000, n_li)),
        "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["N", "R", "A"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.date(1995, 1, 2), r.integers(0, span_l, n_li))})
    gaps_us = np.maximum(1, r.exponential(26e6, n_ev)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        gaps_us).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["signup", "purchase", "view", "click",
                                "error"])[r.integers(0, 5, n_ev)],
        "value": _money(r.exponential(50, n_ev)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    return out


def corpus_tables(sf: float) -> dict[str, pa.Table]:
    """documents (50k x sf) with 5% near-duplicate '... dup' copies and a
    few exact copies, plus 64-dim unit embeddings (20k x sf), 10 labels."""
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    r = _rng("corpus")
    words = np.array(_WORDS)
    lens = r.integers(10, 101, n_doc)
    texts = [" ".join(words[r.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(r.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    for i in np.flatnonzero(r.random(n_doc) < 0.002):
        if i > 0:
            texts[i] = texts[int(r.integers(0, i))]
    docs = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[r.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 0.06, (10, 64))
    v = r.normal(0, 1, (n_emb, 64)) / 8 + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return {"documents": docs, "embeddings": emb}


def shuffled(table: pa.Table, seed: int, tag: str) -> pa.Table:
    """Row order of ``table`` permuted by the run seed."""
    perm = np.random.default_rng([seed, sum(map(ord, tag))]).permutation(
        table.num_rows)
    return table.take(pa.array(perm))


def write_tables(out_dir: str, tables: dict[str, pa.Table], seed: int) -> None:
    """One single-row-group parquet file per table, rows in seed order
    (the same file layout as the package's synthetic test data)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(shuffled(t, seed, name),
                       os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))


# ---------------------------------------------------------------------------
# stream_dedup: corpus split into micro-batch files with planted twins
# ---------------------------------------------------------------------------

def stream_files(docs: pa.Table, seed: int, n_files: int,
                 twin_share: float) -> tuple[list[pa.Table], set[int]]:
    """Split the documents into ``n_files`` batches in seed order, and add
    for a ``twin_share`` of them a near-duplicate twin (one word appended,
    fresh id) that lands in a strictly later batch. Returns the batches
    and the planted twin ids. Twins are always later than their original,
    so the set of survivors does not depend on the seed."""
    r = np.random.default_rng([seed, 7])
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    order = r.permutation(len(ids))
    bounds = np.linspace(0, len(ids), n_files + 1).astype(int)
    batch_of = np.empty(len(ids), dtype=np.int64)
    for b in range(n_files):
        batch_of[order[bounds[b]:bounds[b + 1]]] = b
    extra: list[list[tuple[int, str]]] = [[] for _ in range(n_files)]
    twin_ids: set[int] = set()
    next_id = int(ids.max()) + 1_000_000
    for i in np.flatnonzero(_rng("twins").random(len(ids)) < twin_share):
        if batch_of[i] >= n_files - 1:
            continue
        target = int(r.integers(batch_of[i] + 1, n_files))
        extra[target].append((next_id, texts[i] + " twin"))
        twin_ids.add(next_id)
        next_id += 1
    batches = []
    for b in range(n_files):
        sel = np.sort(order[bounds[b]:bounds[b + 1]])
        rows_id = list(ids[sel]) + [e[0] for e in extra[b]]
        rows_tx = [texts[j] for j in sel] + [e[1] for e in extra[b]]
        batches.append(pa.table({"doc_id": pa.array(rows_id, pa.int64()),
                                 "text": rows_tx}))
    return batches, twin_ids


# ---------------------------------------------------------------------------
# ingest_standardize: police-style portal and file rows
# ---------------------------------------------------------------------------

_RACES = ["WHITE", "BLACK", "HISPANIC", "ASIAN", "UNKNOWN", "W", "B",
          "BLACK OR AFRICAN AMERICAN", "AMERICAN INDIAN OR ALASKA NATIVE"]
_ETHS = ["NOT HISPANIC OR LATINO", "HISPANIC OR LATINO", "UNKNOWN"]
_GENDERS = ["M", "F", "MALE", "FEMALE", "U"]
AGENCIES = ["Springfield PD", "Shelbyville PD", "Capital City PD"]


def _date_text(ts: dt.datetime, fmt: str):
    if fmt == "epoch_ms":
        return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    if fmt == "mmddyyyy":
        return f"{ts.month}/{ts.day}/{ts.year}"
    return ts.strftime("%Y-%m-%dT%H:%M:%S")


def police_rows(n: int, tag: str, date_text: str = "iso") -> list[dict]:
    """Incident rows spanning 2019-2021: one `incident_date` stored as
    ``date_text``, an agency, and subject demographics where ~20% of
    cells list several people (", "-delimited)."""
    r = _rng(tag)
    base = dt.datetime(2019, 1, 1, 6, 30)
    rows = []
    for i in range(n):
        ts = base + dt.timedelta(minutes=int(r.integers(0, 3 * 365 * 1440)))
        k = 1 + int(r.random() < 0.2) * int(r.integers(1, 3))
        pick = lambda vals: ", ".join(  # noqa: E731
            vals[int(j)] for j in r.integers(0, len(vals), k))
        ages = ", ".join(str(int(a)) for a in r.integers(15, 80, k))
        rows.append({
            "case_id": f"{tag[:1].upper()}{i:06d}",
            "incident_date": _date_text(ts, date_text),
            "agency": AGENCIES[int(r.integers(0, 3))],
            "subject_race": pick(_RACES),
            "subject_ethnicity": pick(_ETHS),
            "subject_sex": pick(_GENDERS),
            "subject_age": ages,
            "officer_race": _RACES[int(r.integers(0, len(_RACES)))],
            "value": int(r.integers(0, 100)),
        })
    return rows


def detail_rows(cases: list[str], tag: str) -> list[dict]:
    """A related per-incident table keyed by the same case ids (the merge
    side): disposition and an officer count per case."""
    r = _rng(tag)
    disp = ["ARREST", "CITATION", "WARNING", "NO ACTION"]
    return [{"case_id": c, "disposition": disp[int(r.integers(0, 4))],
             "officer_count": int(r.integers(1, 4))} for c in cases]
