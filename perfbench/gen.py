"""Seeded input generators for the perfbench workloads.

Everything the program reads is made here from the workload seed:

* ``write_corpus``: the ten graded tables (region .. embeddings) at a scale
  factor, with the column set, value domains and key relationships of the
  graded corpus (uniform draws; ~5% of documents are "<earlier doc> dup"
  near-duplicates; embeddings are unit vectors with a 0-9 label).
* ``write_meter_batches``: interval meter readings in EtlPipeline.rawSchema
  CSV, one directory per batch, with duplicate re-deliveries, quarantinable
  rows, late corrections and deletes, plus the expected result of every
  batch (pipeline summary and snapshot-table state) from a plain Python
  model of the two programs' documented semantics. No reference rates
  exist for these anomalies, so all four follow one assumed rule: each is
  ``anomaly_rate`` of the batch's fresh readings.
"""
import datetime as dt
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * US


def _dates(rng, n, lo, hi):
    """Uniform whole-day timestamps in [lo, hi] as a timestamp[us] array."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_micros(lo) + days * 86_400 * US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


WORDS = ("spark window merge table column vector stream value data small join filter big group "
         "hash customer sort order slow line part fast row the agg key query a scan batch").split()
ADJ = "red small hot cold old new large blue".split()
NOUN = "gear gizmo widget ring plate anvil bolt rod".split()


def corpus_tables(sf, rng):
    """The ten tables as pyarrow column dicts (one draw per seed)."""
    n = lambda base: max(1, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_li, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_doc, n_emb, n_user = n(50_000), n(20_000), n(15_000)
    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}
    t["nation"] = {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}
    t["customer"] = {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                     "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                     "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                 "HOUSEHOLD", "MACHINERY"], n_cust)}
    t["supplier"] = {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                     "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = {"p_partkey": pa.array(pk, pa.int64()),
                 "p_name": _pick(rng, names, n_part),
                 "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                 "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                 "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                 "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)}
    t["orders"] = {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                   "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                   "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                   "o_orderdate": _dates(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
                   "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"], n_ord)}
    t["lineitem"] = {"l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                     "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                     "l_linestatus": _pick(rng, ["F", "O"], n_li),
                     "l_shipdate": _dates(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))}
    span = 30 * 86_400 * US
    ts = np.sort(rng.integers(0, span, n_ev)) + _micros(dt.datetime(2024, 1, 1))
    t["events"] = {"event_id": pa.array(np.arange(n_ev), pa.int64()),
                   "ts": pa.array(ts, pa.timestamp("us")),
                   "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
                   "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
                   "value": np.round(rng.exponential(50.0, n_ev), 2),
                   "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    t["documents"] = {"doc_id": pa.array(np.arange(n_doc), pa.int64()),
                      "text": pa.array(texts),
                      "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n_doc,
                                    p=[0.4, 0.15, 0.15, 0.15, 0.15]),
                      "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
                      "n_chars": pa.array([len(x) for x in texts], pa.int64())}
    v = rng.normal(size=(n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {"vec_id": pa.array(np.arange(n_emb), pa.int64()),
                       "embedding": pa.array(list(v), pa.list_(pa.float32())),
                       "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}
    return t


def write_corpus(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    tables = corpus_tables(sf, np.random.default_rng([seed, 1]))
    for name, cols in tables.items():
        _write(out, name, cols)
    return tables


# ---------------------------------------------------------------- meter_ingest

THERM_KWH = Decimal("29.3001")
DAY0 = dt.datetime(2024, 3, 1)


def _kwh(fuel, value):
    v = Decimal(value)
    return (v * THERM_KWH if fuel == "natural_gas" else v).quantize(Decimal("0.000001"))


def meter_key(meter, ts_us):
    """The snapshot table's single key column: (meter, 15-minute slot)."""
    return meter * 1_000_000 + (ts_us - _micros(DAY0)) // (900 * US)


def checksum(state):
    """(live rows, sum of keys, sum of (key mod 9973) * kwh) as exact text."""
    return [len(state), str(sum(state)),
            str(sum((k % 9973) * v for k, v in state.items()) if state else Decimal(0))]


def write_meter_batches(out, seed, batches, meters, days_per_batch, anomaly_rate):
    """One CSV directory per batch plus ``model.json`` with the expected
    per-batch pipeline summary and per-batch snapshot-table checksum.
    Each batch holds ``meters`` x 96 x ``days_per_batch`` fresh readings and
    ``round(anomaly_rate * fresh)`` of each anomaly kind (re-deliveries,
    late corrections, quarantinable rows, deletes)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    fuels = ["electricity" if m % 3 else "natural_gas" for m in range(meters)]
    slots = 96 * days_per_batch
    next_id = 1
    sink = {}          # reading_id -> kwh (EtlPipeline's upsert sink)
    table = {}         # key -> kwh (the snapshot table)
    history = []       # (meter, ts_us, reading_id) of accepted readings
    model = []
    for b in range(batches):
        rows = []
        t0 = _micros(DAY0) + b * slots * 900 * US
        for m in range(meters):
            for s in range(slots):
                rows.append([next_id, t0 + s * 900 * US, m, fuels[m],
                             f"{rng.integers(0, 500_000) / 100:.2f}"])
                next_id += 1
        n_new = len(rows)
        n_anom = max(3, round(anomaly_rate * n_new))
        # duplicate re-deliveries: same (meter, ts), later reading_id
        for i in rng.choice(n_new, n_anom, replace=False):
            r = rows[i]
            rows.append([next_id, r[1], r[2], r[3], f"{rng.integers(0, 500_000) / 100:.2f}"])
            next_id += 1
        # late corrections of earlier batches: a new reading_id for an old
        # (meter, ts); the table takes the corrected value
        if history:
            for i in rng.choice(len(history), min(len(history), n_anom), replace=False):
                m, ts, _ = history[i]
                rows.append([next_id, ts, m, fuels[m], f"{rng.integers(0, 500_000) / 100:.2f}"])
                next_id += 1
        # quarantinable rows: negative value, missing meter, unparseable ts
        bad = []
        for j in range(n_anom):
            kind = j % 3
            r = [next_id, t0, int(rng.integers(0, meters)), "electricity", "1.00"]
            next_id += 1
            if kind == 0:
                r[4] = "-3.25"
            elif kind == 1:
                r[2] = None
            else:
                r[1] = "not-a-time"
            bad.append(r)
        # model: earliest reading_id wins per (meter, ts) within the batch
        first = {}
        for rid, ts, m, fuel, val in rows:
            k = (m, ts)
            if k not in first or rid < first[k][0]:
                first[k] = (rid, _kwh(fuel, val))
        changes = {meter_key(m, ts): kwh for (m, ts), (rid, kwh) in first.items()}
        # deletes of live keys this batch does not also upsert (a merge
        # change set carries one row per key)
        live = sorted(set(table) - set(changes))
        deletes = [int(k) for k in rng.choice(live, min(len(live), n_anom), replace=False)] if live else []
        for (m, ts), (rid, kwh) in first.items():
            sink[rid] = kwh
            history.append((m, ts, rid))
        allrows = rows + bad
        order = rng.permutation(len(allrows))
        d = os.path.join(out, f"batch_{b:03d}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.csv"), "w") as f:
            f.write("reading_id,ts,meter_id,fuel,value\n")
            for i in order:
                rid, ts, m, fuel, val = allrows[i]
                ts_s = ts if isinstance(ts, str) else \
                    (EPOCH + dt.timedelta(microseconds=ts)).strftime("%Y-%m-%dT%H:%M:%S") + "Z"
                f.write(f"{rid},{ts_s},{'' if m is None else m},{fuel},{val}\n")
        with open(os.path.join(out, f"deletes_{b:03d}.json"), "w") as f:
            json.dump(deletes, f)
        for k in deletes:
            table.pop(k, None)
        table.update(changes)
        model.append({"ingested": len(allrows), "quarantined": len(bad),
                      "deduped": len(first), "loaded": len(sink),
                      "upserts": len(changes), "deletes": len(deletes),
                      "raw_bytes": os.path.getsize(os.path.join(d, "part-0.csv")),
                      "table": checksum(table)})
    with open(os.path.join(out, "model.json"), "w") as f:
        json.dump(model, f)
    return model
