"""Seeded input generator for the pipeline benchmark.

One process, numpy + pyarrow only. The package under test receives nothing
but the files written here; the same seed writes byte-identical files.

    python3 perfbench/gen.py --workload lambda_wide --seed 1 --out DIR

Layout of DIR:
  history.parquet, card_member.parquet, member_score.parquet, zip_geo.parquet
  payload/batch_00000.json ...     (lambda_wide; JSON lines)
  sf/<table>.parquet               (query_mix; the registry's table layout)
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_ZIPS = 17_409  # rows of the reference's geo table (GeoGraudData.csv)
HISTORY_START = np.datetime64("2024-01-01T00:00:00", "s")
HISTORY_SPAN_S = 360 * 86_400
# Payloads start two days after the last history row, so a card's first
# payload event is never fast enough to trip the speed rule. That keeps the
# foreachBatch scorer (state seeded from the lookup) and the stateful scorer
# (state starts empty) in agreement on every event.
PAYLOAD_START = HISTORY_START + np.timedelta64(HISTORY_SPAN_S + 2 * 86_400, "s")
ISO = "%Y-%m-%d %H:%M:%S"
DMY = "%d-%m-%Y %H:%M:%S"


@dataclass(frozen=True)
class PipelineShape:
    n_cards: int            # cards in the lookup
    history_per_card: int   # history rows per card
    batch_events: int       # events per payload micro-batch, distinct cards
    n_batches: int          # payload files written
    batch_span_s: int       # event-time width of one batch


LAMBDA_WIDE = PipelineShape(50_000, 20, 500, 60, 60)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _fmt(ts: np.ndarray, fmt: str) -> pa.Array:
    """Timestamps as ISO (yyyy-MM-dd HH:mm:ss) or DMY (dd-MM-yyyy HH:mm:ss) text."""
    iso = pa.array(ts.astype("datetime64[s]")).cast(pa.string())
    if fmt == ISO:
        return iso

    def part(a, b):
        return pc.utf8_slice_codeunits(iso, a, b)

    dmy = pc.binary_join_element_wise(part(8, 10), part(5, 7), part(0, 4), "-")
    return pc.binary_join_element_wise(dmy, part(10, 19), "")


def zip_table(rng: np.random.Generator) -> pa.Table:
    zips = np.arange(10_000, 10_000 + N_ZIPS)
    return pa.table({
        "zip": pa.array(zips.astype(str)),
        "lat": np.round(rng.uniform(25.0, 49.0, N_ZIPS), 6),
        "lon": np.round(rng.uniform(-124.0, -67.0, N_ZIPS), 6),
        "city": pa.array([f"city{z % 997}" for z in zips]),
        "state": pa.array([f"S{z % 50:02d}" for z in zips]),
        "pos_id": pa.array([f"{z:015d}" for z in zips]),
    })


def write_pipeline(out: str, seed: int) -> list[pd.DataFrame]:
    """History, dims, zip geo and payload batches for the pipeline workload.
    Returns the payload batches as written, one DataFrame per file."""
    shape = LAMBDA_WIDE
    rng = np.random.default_rng([seed, 0])
    os.makedirs(os.path.join(out, "payload"), exist_ok=True)
    _write(zip_table(rng), os.path.join(out, "zip_geo.parquet"))

    n, h = shape.n_cards, shape.history_per_card
    cards = np.arange(1, n + 1, dtype=np.int64)
    members = (cards + 1) // 2
    n_members = int(members.max())
    _write(pa.table({
        "card_id": cards,
        "member_id": members,
        "member_joining_dt": pa.array(["2015-01-01"] * n),
        "card_purchase_dt": pa.array(["2016-01-01"] * n),
        "country": pa.array(["US"] * n),
        "city": pa.array([f"city{c % 997}" for c in cards]),
    }), os.path.join(out, "card_member.parquet"))
    _write(pa.table({
        "member_id": np.arange(1, n_members + 1, dtype=np.int64),
        "score": rng.integers(100, 900, n_members).astype(np.int32),
    }), os.path.join(out, "member_score.parquet"))

    # Per-card spend profile and home zip; history rows at distinct seconds.
    mean = rng.uniform(20.0, 400.0, n)
    sd = mean * rng.uniform(0.05, 0.4, n)
    home = rng.integers(0, N_ZIPS, n)
    card_col = np.repeat(cards, h)
    offs = np.sort(rng.integers(0, HISTORY_SPAN_S, (n, h)), axis=1)
    offs += np.arange(h)  # strictly increasing within a card
    amount = np.round(np.abs(rng.normal(np.repeat(mean, h), np.repeat(sd, h))) + 1.0, 2)
    away = rng.random(n * h) < 0.2
    zips = np.where(away, rng.integers(0, N_ZIPS, n * h), np.repeat(home, h))
    status = np.where(rng.random(n * h) < 0.05, "FRAUDULENT", "GENUINE")
    _write(pa.table({
        "card_id": card_col,
        "member_id": (card_col + 1) // 2,
        "amount": amount,
        "postcode": (zips + 10_000).astype(np.int32),
        "pos_id": rng.integers(100_000, 999_999, n * h),
        "transaction_dt": _fmt(HISTORY_START + offs.reshape(-1), ISO),
        "status": pa.array(status),
    }), os.path.join(out, "history.parquet"))

    batches = []
    for b in range(shape.n_batches):
        k = shape.batch_events
        ev_cards = rng.choice(cards, k, replace=False)
        sec = rng.integers(0, shape.batch_span_s, k)
        idx = ev_cards - 1
        ts = PAYLOAD_START + (b * shape.batch_span_s + sec).astype("timedelta64[s]")
        dmy = rng.random(k) < 0.5
        ts_str = np.where(dmy, np.asarray(_fmt(ts, DMY)), np.asarray(_fmt(ts, ISO)))
        big = rng.random(k) < 0.05
        amt = np.round(np.where(big, mean[idx] * 10, np.abs(rng.normal(mean[idx], sd[idx])) + 1.0), 2)
        ev_zip = np.where(rng.random(k) < 0.5, rng.integers(0, N_ZIPS, k), home[idx]) + 10_000
        batch = pd.DataFrame({
            "card_id": ev_cards, "member_id": (ev_cards + 1) // 2, "amount": amt,
            "pos_id": rng.integers(100_000, 999_999, k), "postcode": ev_zip.astype(np.int32),
            "transaction_dt": ts_str,
        })
        # float repr is what json writes, and it reads back to the same double
        lines = [
            f'{{"card_id": {c}, "member_id": {m}, "amount": {a!r}, "pos_id": {p}, '
            f'"postcode": {z}, "transaction_dt": "{t}"}}\n'
            for c, m, a, p, z, t in zip(*(batch[col].tolist() for col in batch.columns))
        ]
        with open(os.path.join(out, "payload", f"batch_{b:05d}.json"), "w") as fh:
            fh.write("".join(lines))
        batches.append(batch)
    return batches


# --- query_mix: the registry's table layout, about 1/100 of TPC-H sf1 -------

_WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
          "line sort window data column join small big order group filter stream "
          "query vector customer").split()


def write_query_tables(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 2])
    sf = os.path.join(out, "sf")
    os.makedirs(sf, exist_ok=True)
    n_cust, n_ord, n_li, n_ev, n_doc, n_vec = 1_500, 15_000, 60_000, 10_000, 500, 500
    day = np.datetime64("1995-01-01T00:00:00", "us")

    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust)),
    }), os.path.join(sf, "customer.parquet"))

    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        # Small totals keep cross-engine float error (~1e-16 relative) far
        # below the 1e-6 the UCL queries round to, so no row lands on a
        # rounding boundary in one engine and not the other.
        "o_totalprice": np.round(rng.uniform(10.0, 5_000.0, n_ord), 2),
        "o_orderdate": pa.array(day + (rng.integers(0, 2_400, n_ord) * 86_400_000_000)
                                .astype("timedelta64[us]")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    }), os.path.join(sf, "orders.parquet"))

    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, 2_000, n_li),
        "l_suppkey": rng.integers(0, 100, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(day + (rng.integers(1, 2_500, n_li) * 86_400_000_000)
                               .astype("timedelta64[us]")),
    }), os.path.join(sf, "lineitem.parquet"))

    ev_ts = np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ev_ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], n_ev)),
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), os.path.join(sf, "events.parquet"))

    lens = rng.integers(8, 90, n_doc)
    texts = [" ".join(rng.choice(_WORDS, m)) for m in lens]
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n_doc, p=[.6, .1, .1, .1, .1])),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(sf, "documents.parquet"))

    vec = rng.normal(0.0, 1.0, (n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }), os.path.join(sf, "embeddings.parquet"))


def generate(out: str, workload: str, seed: int) -> list[pd.DataFrame]:
    """Write the workload's inputs under `out`; returns the payload batches
    (empty for query_mix)."""
    os.makedirs(out, exist_ok=True)
    if workload == "query_mix":
        write_query_tables(out, seed)
        return []
    return write_pipeline(out, seed)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["lambda_wide", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.out, args.workload, args.seed)


if __name__ == "__main__":
    main()
