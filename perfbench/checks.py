"""Output checks. Each returns the number of failed operations it found.

The reference for the scorers is the package's own executable spec,
`streaming.stateful.fold_events`; the reference for the lookup build is a
pandas recomputation from the generated history; the reference for the
registry queries is their DuckDB oracle SQL, compared the way
tools/oracle_check.py compares.
"""

from __future__ import annotations

import itertools
from collections import Counter
from datetime import datetime

import numpy as np
import pandas as pd

from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.stateful import fold_events

_PY_FORMATS = ("%Y-%m-%d %H:%M:%S", "%d-%m-%Y %H:%M:%S")


def parse_ts(s: str) -> datetime:
    for fmt in _PY_FORMATS:
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(f"unparseable timestamp {s!r}")


def expected_lookup(history: pd.DataFrame, card_member: pd.DataFrame,
                    member_score: pd.DataFrame) -> pd.DataFrame:
    """build_lookup recomputed in pandas: last 10 GENUINE rows per card by
    (transaction_dt, pos_id, amount) descending; ucl = mean + 3 * pop std."""
    g = history[history["status"].str.upper() == "GENUINE"].copy()
    g["_ts"] = pd.to_datetime(g["transaction_dt"], format="%Y-%m-%d %H:%M:%S")
    g = g.sort_values(["card_id", "_ts", "pos_id", "amount"],
                      ascending=[True, False, False, False], kind="mergesort")
    top = g.groupby("card_id", sort=True).head(10)
    amount = top.groupby("card_id")["amount"]
    last = top.groupby("card_id").head(1).set_index("card_id")[["postcode", "transaction_dt"]]
    score = card_member.merge(member_score, on="member_id")[["card_id", "score"]].set_index("card_id")
    out = last.join(score, how="inner")
    out["ucl"] = amount.mean() + 3.0 * amount.std(ddof=0)
    return out.reset_index()[["card_id", "ucl", "postcode", "transaction_dt", "score"]]


def lookup_mismatches(actual: pd.DataFrame, expected: pd.DataFrame) -> int:
    """Cards whose built lookup row differs from the pandas recomputation."""
    m = expected.merge(actual, on="card_id", how="outer", suffixes=("_e", "_a"), indicator=True)
    bad = m["_merge"] != "both"
    both = m[~bad]
    ucl_bad = ~np.isclose(both.ucl_e, both.ucl_a, rtol=1e-9, atol=1e-9)
    other_bad = ((both.postcode_e != both.postcode_a)
                 | (both.transaction_dt_e != both.transaction_dt_a)
                 | (both.score_e != both.score_a))
    return int(bad.sum() + (ucl_bad | other_bad).sum())


def spec_statuses(batches: list[pd.DataFrame], lookup: pd.DataFrame, geo: dict):
    """Run fold_events over the batches in replay order, each card's state
    starting from its lookup row.

    Within a batch each card's events are sorted by (parsed time, pos_id),
    as the stateful scorer sorts them. Returns (status per event key,
    batch index per event key, final state per card, the per-card event
    lists as folded)."""
    ucl_score = {int(r.card_id): (r.ucl, r.score) for r in lookup.itertuples()}
    state = {int(r.card_id): (r.postcode, r.transaction_dt) for r in lookup.itertuples()}
    statuses: dict[tuple, str] = {}
    batch_of: dict[tuple, int] = {}
    groups: list[list[dict]] = []
    for b, batch in enumerate(batches):
        ev = batch.assign(_ts=batch["transaction_dt"].map(parse_ts))
        ev = ev.sort_values(["card_id", "_ts", "pos_id"], kind="mergesort").drop(columns="_ts")
        for card, grp in itertools.groupby(ev.to_dict("records"), key=lambda e: e["card_id"]):
            events = list(grp)
            out, state[card] = fold_events(events, state.get(card, (None, None)), ucl_score, geo)
            groups.append(events)
            for e, s in zip(events, out):
                k = (e["card_id"], e["transaction_dt"], e["pos_id"])
                statuses[k], batch_of[k] = s, b
    return statuses, batch_of, state, groups


def status_mismatches(actual: pd.DataFrame, expected: dict, batch_of: dict) -> tuple[int, int]:
    """(failed batches, wrong, missing or duplicated events). A batch fails
    if any of its events is missing from the output, scored unlike the spec
    or written more than once."""
    keys = list(zip(actual["card_id"], actual["transaction_dt"], actual["pos_id"]))
    got = dict(zip(keys, actual["status"]))
    dups = [k for k, n in Counter(keys).items() if n > 1]
    wrong = [k for k, s in expected.items() if got.get(k) != s]
    extra = len(got.keys() - expected.keys())  # events the spec never saw
    failed = {batch_of[k] for k in wrong} | {batch_of[k] for k in dups if k in batch_of}
    return len(failed) + (1 if extra else 0), len(wrong) + len(keys) - len(got) + extra


def final_state_mismatches(lookup_after: pd.DataFrame, state: dict) -> int:
    got = {int(r.card_id): (r.postcode, r.transaction_dt) for r in lookup_after.itertuples()}
    return sum(1 for card, st in state.items() if got.get(card) != st) + len(set(got) - set(state))


def oracle_mismatch(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, canon_rows) -> str | None:
    """tools/oracle_check.py's comparison; None when the outputs agree."""
    s_cols, s_rows = canon_rows(spark_pdf)
    d_cols, d_rows = canon_rows(duck_pdf)
    if s_cols != d_cols:
        return f"columns {s_cols} != {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"rowcount {len(s_rows)} != {len(d_rows)}"
    if s_rows != d_rows:
        n_bad = sum(1 for a, b in zip(s_rows, d_rows) if a != b)
        return f"{n_bad}/{len(s_rows)} rows differ"
    return None
