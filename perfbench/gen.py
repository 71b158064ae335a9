"""Seeded input generators. The same seed always yields the same inputs; the
program under test only ever sees what these functions write.

* :func:`tpch_tables` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registry queries read, one parquet
  file per table, with the column names and types of the repo's test data.
* :class:`ChangeGenerator` + :func:`encode_txn` — transactions over one keyed
  table with seeded key skew, insert/update/delete mix and transaction sizes,
  encoded as pgoutput Begin/DML/Commit frames with
  ``sources.pgoutput.encode_*``.
* :func:`envelope_files` — Debezium-envelope JSONL files for the apply phase.
* :func:`property_sales_append` — rows appended to a snapshot source between
  incremental snapshots.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- TPC-H-ish tables --------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PWORDS = ["small", "red", "blue", "green", "large", "steel", "ring", "widget", "bolt", "gear"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small big customer query order group "
    "filter stream vector"
).split()


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


def tpch_tables(out_dir: str, seed: int, scale: float = 0.01) -> None:
    """Write the tables under ``out_dir/<name>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), 500, 500
    day_us = 86_400 * 1_000_000
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}" for a, b in zip(rng.choice(_PWORDS[:5], n_part), rng.choice(_PWORDS[5:], n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    odate_days = rng.integers(0, 6 * 365 + 200, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), odate_days * day_us),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    lines_per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(
            dt.datetime(1995, 1, 1),
            (odate_days[l_order] + rng.integers(1, 122, n_li)) * day_us,
        ),
    })
    ev_off = np.sort(rng.integers(0, 30 * day_us, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_off),
        "user_id": pa.array(rng.integers(0, max(2, n_events // 66), n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 490, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    # planted near-duplicates, as in the repo's test data: 5 % of the
    # documents copy another one with " dup" appended, so each planted pair
    # has a word-trigram Jaccard of 8/9 or more, far above the 0.5 threshold
    # near which MinHash-LSH recall is approximate; random pairs share
    # almost no trigrams
    planted = rng.choice(n_docs, size=2 * (n_docs // 20), replace=False)
    for i, j in zip(planted[::2], planted[1::2]):
        texts[i] = texts[j] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0, 1, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# -- CDC change streams ------------------------------------------------------

CDC_SCHEMA = "public"
CDC_TABLE = "accounts"
CDC_COLUMNS = [("id", 20), ("eid", 20), ("owner", 25), ("balance", 20)]  # int8/text
CDC_ROW_DDL = "id long, eid long, owner string, balance long"
_LSN_BASE = 0x1000000
_REL_ID = 16384


@dataclass
class Event:
    eid: int
    op: str  # c | u | d
    key: int
    row: dict | None  # after image (None for deletes)


@dataclass
class Txn:
    lsn: int  # Begin.final_lsn == Commit.commit_lsn
    end_lsn: int
    events: list[Event]
    due: float = 0.0  # wall-clock send time; set when the txn is sent


class ChangeGenerator:
    """Seeded change stream over one table. Keys follow a power law (a few
    hot keys take most changes); a change to an absent key inserts it, a
    change to a present key updates it (3 in 4) or deletes it. A key is
    touched at most once per transaction, so (lsn, key) names an event."""

    def __init__(self, seed: int, stream: int, n_keys: int = 2000,
                 skew: float = 1.1, lsn_base: int = _LSN_BASE):
        self.rng = np.random.default_rng([seed, 2, stream])
        w = 1.0 / np.arange(1, n_keys + 1) ** skew
        self.key_p = w / w.sum()
        self.keys = self.rng.permutation(n_keys) + 1
        self.live: dict[int, dict] = {}
        self.next_eid = 1
        self.next_lsn = lsn_base

    def _sizes(self, n_events: int, n_txns: int) -> np.ndarray:
        return 1 + self.rng.multinomial(n_events - n_txns, np.full(n_txns, 1.0 / n_txns))

    def transactions(self, n_events: int, n_txns: int) -> list[Txn]:
        out = []
        for size in self._sizes(n_events, n_txns):
            touched: set[int] = set()
            events = []
            while len(events) < size:
                key = int(self.keys[self.rng.choice(len(self.keys), p=self.key_p)])
                if key in touched:
                    continue
                touched.add(key)
                eid = self.next_eid
                self.next_eid += 1
                if key not in self.live:
                    op = "c"
                elif self.rng.random() < 0.75:
                    op = "u"
                else:
                    op = "d"
                if op == "d":
                    del self.live[key]
                    events.append(Event(eid, op, key, None))
                else:
                    row = {"id": key, "eid": eid, "owner": f"owner-{key % 97}",
                           "balance": int(self.rng.integers(0, 1_000_000))}
                    self.live[key] = row
                    events.append(Event(eid, op, key, row))
            lsn = self.next_lsn
            self.next_lsn += 0x100
            out.append(Txn(lsn=lsn, end_lsn=lsn + 8, events=events))
        return out


def relation_frame() -> bytes:
    from librarian_spark.sources import pgoutput as pg

    return pg.encode_relation(_REL_ID, CDC_SCHEMA, CDC_TABLE, CDC_COLUMNS)


def encode_txn(txn: Txn, commit_ts_ms: int) -> list[bytes]:
    """Begin, one DML frame per event, Commit — pgoutput wire messages."""
    from librarian_spark.sources import pgoutput as pg

    def vals(row):
        return [str(row[c]) for c, _ in CDC_COLUMNS]

    msgs = [pg.encode_begin(txn.lsn, commit_ts_ms, txn.lsn & 0x7FFFFFFF)]
    for e in txn.events:
        if e.op == "c":
            msgs.append(pg.encode_insert(_REL_ID, vals(e.row)))
        elif e.op == "u":
            msgs.append(pg.encode_update(_REL_ID, vals(e.row)))
        else:
            msgs.append(pg.encode_delete(_REL_ID, [str(e.key), None, None, None]))
    msgs.append(pg.encode_commit(txn.lsn, txn.end_lsn, commit_ts_ms))
    return msgs


def replay(events: list[tuple[int, int, Event]]) -> dict[int, dict]:
    """Latest change per key by (ts_ms, lsn) order, deletes dropped."""
    state: dict[int, tuple[tuple[int, int], Event]] = {}
    for ts_ms, lsn, e in events:
        prev = state.get(e.key)
        if prev is None or (ts_ms, lsn) >= prev[0]:
            state[e.key] = ((ts_ms, lsn), e)
    return {k: e.row for k, (_, e) in state.items() if e.op != "d"}


def envelope_files(out_dir: str, seed: int, n_files: int, events_per_file: int,
                   base_ts_ms: int) -> list[tuple[int, int, Event]]:
    """Write ``n_files`` Debezium-envelope JSONL files; returns every event
    as (ts_ms, lsn, event) for the replay check."""
    gen = ChangeGenerator(seed, stream=9)
    os.makedirs(out_dir, exist_ok=True)
    out: list[tuple[int, int, Event]] = []
    for i in range(n_files):
        txns = gen.transactions(events_per_file, max(1, events_per_file // 8))
        lines = []
        for t_i, txn in enumerate(txns):
            ts_ms = base_ts_ms + (i * len(txns) + t_i) * 10
            for e in txn.events:
                before = {"id": e.key, "eid": None, "owner": None, "balance": None} if e.op == "d" else None
                payload = {
                    "before": before,
                    "after": e.row,
                    "source": {
                        "version": "1.0.0", "connector": "postgresql", "name": "perfbench",
                        "ts_ms": ts_ms, "snapshot": "false", "db": "postgres",
                        "schema": CDC_SCHEMA, "table": CDC_TABLE, "lsn": txn.lsn, "xmin": None,
                    },
                    "op": e.op,
                    "ts_ms": ts_ms,
                    "transaction": None,
                }
                lines.append(json.dumps({"payload": payload}, separators=(",", ":")))
                out.append((ts_ms, txn.lsn, e))
        with open(os.path.join(out_dir, f"part-{i:05d}.jsonl"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
    return out


# -- snapshot source appends ------------------------------------------------

def property_sales_append(schema: pa.Schema, first_serial: int, n: int, seed: int,
                          batch: int, today: dt.date) -> pa.Table:
    """``n`` property_sales rows continuing the serial sequence, in the
    column types of the existing source files."""
    rng = np.random.default_rng([seed, 3, batch])
    ids = np.arange(first_serial, first_serial + n)
    money = lambda: [f"{v:.2f}" for v in rng.uniform(0, 999_999, n)]  # noqa: E731
    cols = {
        "serial_number": ids,
        "list_year": rng.integers(0, 2023, n),
        "date_recorded": [today] * n,
        "town": [f"{i} Town" for i in ids],
        "address": [f"{i} Address" for i in ids],
        "assessed_value": money(),
        "sale_amount": money(),
        "sales_ratio": [f"{v:.4f}" for v in rng.uniform(0, 99.99, n)],
        "property_type": [f"{i - 1} Type" for i in ids],
        "residential_type": [f"{i - 1} Residential" for i in ids],
        "non_use_code": [f"{i - 1} Code" for i in ids],
        "assessor_remarks": [f"{i - 1} Assessor Remarks" for i in ids],
        "opm_remarks": [f"{i - 1} OPM Remarks" for i in ids],
        "location": [f"{i} Location" for i in ids],
    }
    arrays = []
    for f in schema:
        v = cols[f.name]
        if pa.types.is_decimal(f.type):
            from decimal import Decimal

            arrays.append(pa.array([Decimal(x) for x in v], f.type))
        else:
            arrays.append(pa.array(v, f.type))
    return pa.Table.from_arrays(arrays, schema=schema)
