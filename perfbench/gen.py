"""Seeded input generators for the benchmark.

Two input sets, each a directory of parquet files that the engine reads
like any other scale-factor directory:

- ``tables``: the ten catalog tables (TPC-H-like star schema, ``events``,
  ``documents``, ``embeddings``) with the column names, types and value
  domains of the engine's test data. ``scale`` sets the relational row
  counts (1.0 means 6,000,000 lineitem rows); rows are written in a seeded
  order, and 10% of the documents are near-copies of others so the dedup
  operators have work.
- ``domain``: the four medallion domain tables (credit_history,
  demographic, financial, loan_terms) on the FIXTURES.md column spec,
  ``weeks`` Sunday-anchored weeks of ``rows_per_week`` rows each, with a
  member universe twice the row count; no member appears twice in a week,
  so (member_id, snapshot_date) is unique.

The same (kind, seed, parameters) always yields byte-identical files.
Results are cached under ``<cache>/<kind>-s<seed>-<fingerprint>``, where
the fingerprint hashes this file and the parameters, so an edited
generator never serves stale inputs.

Run as a script to generate one set and print its directory:
``python3 perfbench/gen.py tables --seed 7 --cache .perfbench/inputs --params '{"scale": 0.01}'``
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data spark table query row column filter join group sort scan merge "
    "hash key value window stream batch line order part customer small big "
    "fast slow vector agg"
).split()
ADJECTIVES = "blue cold small large red green bright dark".split()
NOUNS = "widget anvil gear bolt spring valve lever pump".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng: np.random.Generator, start: dt.date, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days + 1, n)).astype("datetime64[us]")


def gen_tables(out: str, seed: int, scale: float) -> None:
    """The ten catalog tables at ``scale`` (1.0 = 6 M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_events = max(1_000, int(1_000_000 * scale))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
           f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    def perm(n: int) -> np.ndarray:
        return rng.permutation(n)

    p = perm(n_cust)
    _write(pa.table({
        "c_custkey": pa.array(p, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in p],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")

    p = perm(n_supp)
    _write(pa.table({
        "s_suppkey": pa.array(p, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in p],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")

    p = perm(n_part)
    names = np.array([f"{a} {b}" for a in ADJECTIVES for b in NOUNS])
    retail = np.round(900.0 + (p % 1000) / 10.0, 1)
    _write(pa.table({
        "p_partkey": pa.array(p, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    }), f"{out}/part.parquet")

    odate = _days(rng, dt.date(1995, 1, 1), 2404, n_ord)
    lines = rng.integers(1, 8, n_ord)
    status = np.array(["F", "O", "P"])[rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])]
    p = perm(n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(p, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": status[p],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(odate[p], pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")

    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * (900.0 + (partkey % 1000) / 10.0) * rng.uniform(0.95, 1.05, n_li), 2)
    ship = odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    p = perm(n_li)
    _write(pa.table({
        "l_orderkey": pa.array(okey[p], pa.int64()),
        "l_partkey": pa.array(partkey[p], pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)[p], pa.int64()),
        "l_linenumber": pa.array(lnum[p], pa.int32()),
        "l_quantity": qty[p],
        "l_extendedprice": price[p],
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2)[p],
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2)[p],
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)][p],
        "l_linestatus": np.where(ship > np.datetime64("1998-06-01"), "O", "F")[p],
        "l_shipdate": pa.array(ship[p].astype("datetime64[us]"), pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        # TIMESTAMP(NANOS), as the engine's load_table expects of events.ts
        "ts": pa.array((start + offsets.astype("timedelta64[us]")).astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), f"{out}/events.parquet")

    gen_documents(out, rng)
    gen_embeddings(out, rng)


def gen_documents(out: str, rng: np.random.Generator, n: int = 500) -> None:
    """500 documents of 8–90 words; every tenth is a one-word edit of an
    earlier document, so near-duplicate detection finds real pairs."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i % 10 == 9:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 91)))])
        texts.append(" ".join(toks))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")


def gen_embeddings(out: str, rng: np.random.Generator, n: int = 500, dim: int = 64) -> None:
    """Unit vectors around ten labelled centres."""
    centres = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vec = centres[label] + rng.normal(0.0, 0.6, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), f"{out}/embeddings.parquet")


MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
FIRST_WEEK = dt.date(2024, 1, 7)


def week_starts(weeks: int) -> list[str]:
    return [str(FIRST_WEEK + dt.timedelta(weeks=i)) for i in range(weeks)]


def gen_domain(out: str, seed: int, weeks: int, rows_per_week: int) -> None:
    """The four medallion domain tables, FIXTURES.md column spec."""
    rng = np.random.default_rng(seed)
    n = weeks * rows_per_week

    def nullify(values, frac: float) -> pa.Array:
        arr = pa.array(values)
        return pa.array(values, mask=rng.random(n) < frac, type=arr.type)

    # members are drawn without replacement within a week, so
    # (member_id, snapshot_date) is unique and gold's dimension dedup has
    # no ties to break on batch-filled values
    member = np.array([f"M{i:06d}" for _ in range(weeks)
                       for i in rng.choice(2 * n, rows_per_week, replace=False)])
    week0 = np.repeat(np.arange(weeks) * 7, rows_per_week)
    snap = (np.datetime64(FIRST_WEEK, "D") + week0 + rng.integers(0, 7, n)).astype("datetime64[D]")
    snap_a = pa.array(snap, pa.date32())
    ints = lambda lo, hi: rng.integers(lo, hi, n)  # noqa: E731
    money = lambda lo, hi: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda choices, p=None: np.array(choices)[rng.choice(len(choices), n, p=p)]  # noqa: E731

    credit = {
        "member_id": member,
        "snapshot_date": snap_a,
        "earliest_cr_line": nullify([f"{MONTHS[m]}-{y}" for m, y in zip(ints(0, 12), ints(1990, 2020))], 0.1),
        "mort_acc": nullify(ints(0, 5), 0.15),
        "inq_last_6mths": nullify(ints(0, 3), 0.2),
        "pub_rec": nullify(ints(0, 2), 0.2),
        "delinq_2yrs": nullify(ints(0, 4), 0.1),
        "mths_since_last_delinq": nullify(ints(0, 80), 0.4),
        "inq_last_12m": nullify(ints(0, 10), 0.2),
        "num_tl_30dpd": nullify(ints(0, 3), 0.2),
        "last_credit_pull_d": [f"{MONTHS[m]}-2023" for m in ints(0, 12)],
        "mths_since_last_record": nullify(ints(0, 100), 0.5),
    }
    titles = ["engineer", "Teacher ", "nurse", "MANAGER", "driver", "chef", "clerk",
              "analyst", "artist", "farmer", "pilot", "judge", "vet", "coach", "actor"]
    title_p = np.array([20, 15, 12, 10, 8, 6, 5, 5, 4, 4, 3, 3, 2, 2, 1]) / 100
    emp_lengths = ["10+ years", "< 1 year"] + [f"{i} year{'s' if i > 1 else ''}" for i in range(1, 10)]
    states = ["CA", "NY", "TX", "FL", "WA", "IL", "MA", "GA", "OH", "PA"]
    demographic = {
        "member_id": member,
        "snapshot_date": snap_a,
        "emp_title": nullify(pick(titles, title_p), 0.1),
        "emp_length": nullify(pick(emp_lengths), 0.1),
        "home_ownership": nullify(pick(["RENT", "OWN", "MORTGAGE", " rent "]), 0.15),
        "annual_inc": nullify(money(2e4, 2e5), 0.1),
        "verification_status": pick(["Not Verified", "Source Verified", "Verified"]),
        "zip_code": [f"{z:05d}" for z in ints(10000, 99999)],
        "addr_state": pick(states),
        "application_type": pick(["Individual", "Joint App"], [0.9, 0.1]),
        "annual_inc_joint": nullify(money(4e4, 3e5), 0.8),
        "verification_status_joint": nullify(pick(["Not Verified", "Verified"]), 0.8),
    }
    financial = {
        "member_id": member,
        "snapshot_date": snap_a,
        "dti": nullify(money(0, 40), 0.15),
        "all_util": nullify(money(0, 100), 0.25),
        "il_util": nullify(money(0, 100), 0.25),
        "bc_util": nullify(money(0, 100), 0.25),
        "revol_bal": nullify(money(0, 5e4), 0.1),
        "open_acc": nullify(ints(0, 30), 0.1),
        "total_bal_il": nullify(money(0, 1e5), 0.3),
        "mo_sin_old_il_acct": nullify(ints(0, 200), 0.3),
        "dti_joint": nullify(money(0, 40), 0.8),
    }
    grades = list("ABCDEFG")
    loans = {
        "id": [f"L{i:07d}" for i in range(n)],
        "member_id": member,
        "snapshot_date": snap_a,
        "loan_amnt": money(1e3, 4e4),
        "int_rate": money(5, 30),
        "term": pick([" 36 months", " 60 months"]),
        "grade": nullify(pick(grades, [0.25, 0.25, 0.2, 0.12, 0.1, 0.05, 0.03]), 0.03),
        "sub_grade": [f"{g}{i}" for g, i in zip(pick(grades), ints(1, 6))],
        "issue_d": snap_a,
        "purpose": pick(["debt_consolidation", "credit_card", "home", "car", "medical",
                         "vacation", "moving", "other"]),
        "pymnt_plan": pick(["y", "n"], [0.05, 0.95]),
        "debt_settlement_flag": pick(["Y", "N"], [0.1, 0.9]),
        "initial_list_status": pick(["w", "f"]),
        "disbursement_method": pick(["Cash", "DirectPay"], [0.8, 0.2]),
        "url": [f"https://example.com/{i}" for i in range(n)],
        "out_prncp": money(0, 1e4),
    }
    for name, cols in (("credit_history", credit), ("demographic", demographic),
                       ("financial", financial), ("loan_terms", loans)):
        _write(pa.table(cols), f"{out}/{name}.parquet")


GENERATORS = {"tables": gen_tables, "domain": gen_domain}


def ensure(kind: str, seed: int, cache: str, **params) -> str:
    """Directory holding input set ``kind`` for ``seed``; generated on the
    first request, then served from the cache."""
    with open(os.path.abspath(__file__), "rb") as fh:
        src = fh.read()
    key = json.dumps({"kind": kind, "seed": seed, **params}, sort_keys=True).encode()
    fp = hashlib.sha256(src + key).hexdigest()[:12]
    out = os.path.join(cache, f"{kind}-s{seed}-{fp}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[kind](tmp, seed, **params)
    os.replace(tmp, out)
    return out


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("kind", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--params", default="{}", help="JSON keyword arguments of the generator")
    args = ap.parse_args(argv)
    print(ensure(args.kind, args.seed, args.cache, **json.loads(args.params)))


if __name__ == "__main__":
    main(sys.argv[1:])
