#!/usr/bin/env python3
"""Seed-varied fixture generator — anti-overfit insurance (round-11 verdict
item 3). All correctness evidence rides ONE deterministic fixture family;
this produces same-shape, same-scale variants whose concrete values the
queries were never tuned on:

  - KEY PERMUTATION, value-set-preserving: every key group (custkey across
    customer+orders, partkey/suppkey across part/supplier+lineitem,
    orderkey across orders+lineitem, doc_id, vec_id, event ids) is
    permuted WITHIN its own distinct-value set — value v with rank i maps
    to the value at rank (a*i + b) mod m, a seeded affine bijection on
    ranks. Join structure and per-key cardinalities are preserved
    (bijection), and id predicates (vec_id < k centroid picks, doc_id
    < 20 benchmarks, % k demos) keep their EXACT selectivity because the
    value set itself is unchanged — which rows carry the low ids redraws.
    On a dense domain this is identical to the old lo+(a*(k-lo)+b) mod n
    affine map; on the SPARSE scale-fixture domains (sf1 vec_id tops out
    at 9e7 over 20k rows) the old map emptied every low-id band — the
    round-13 seeded-sf1 sweep silently passed the whole knn family on
    0 == 0 rows (found round 14; this rewrite is the fix).
  - MEASURE JITTER: double measures scale by a per-(seed, column) factor
    in [0.90, 1.10]; integer p_size shifts by seed % 5. Sort orders,
    rounding boundaries and filter selectivities all move.
  - TIME SHIFT: all timestamps move by seed*3 days (+ seed hours) —
    window/session/as-of boundaries land elsewhere.
  - TEXT RE-DRAW: documents.text Caesar-shifts by 7*seed mod 26 (seeded,
    nonzero) — the whole token vocabulary, stopword hits, n-gram/BPE/
    unigram statistics redraw while planted duplicate and near-duplicate
    cluster STRUCTURE is preserved exactly (a bijective char map keeps
    string equality and shingle overlap).
  - EMBEDDING ROTATION: vectors rotate by seed positions (norm- and
    neighborhood-structure-preserving, concrete buckets move).

Every transform is a deterministic function of (seed, column), engine-
neutral (applied to the parquet once; Spark and DuckDB read the same
bytes). seed=0 is the identity fixture.

Usage: python3 tools/gen_seeded.py [src] [dst] [seed]
Defaults: /root/testdata/sf0.01 testdata/sf0.01_s1 1
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
DST = sys.argv[2] if len(sys.argv) > 2 else "testdata/sf0.01_s1"
SEED = int(sys.argv[3]) if len(sys.argv) > 3 else 1

ALPHA = "abcdefghijklmnopqrstuvwxyz"

# key groups: (table, column) lists sharing one id domain
KEY_GROUPS = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
    "user_id": [("events", "user_id")],
    "event_id": [("events", "event_id")],
}

# double measures to jitter: column -> quantization decimals. Jittered
# values are re-QUANTIZED to the fixture's domain invariant (integral
# quantities, exact-cent money, 2-dec rates): the oracle-pair determinism
# rules (round/cast agreement across engines) are predicated on these
# domains, so a fixture variant must move values WITHIN them — the first
# seeded sweep proved it by flipping CAST(double AS BIGINT) truncation
# (Spark) vs rounding (DuckDB) on fractional quantities and round(x, 2)
# at a double boundary Spark's decimal-string HALF_UP and DuckDB's
# x*100-then-nearbyint resolve differently.
JITTER_COLS = {
    "lineitem": {"l_quantity": 0, "l_extendedprice": 2, "l_discount": 2, "l_tax": 2},
    "orders": {"o_totalprice": 2},
    "customer": {"c_acctbal": 2},
    "part": {"p_retailprice": 2},
    "supplier": {"s_acctbal": 2},
    "events": {"value": 2},
}

TS_COLS = {
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
    "events": ["ts"],
}


def h(*xs):
    """Small deterministic hash for (seed, name) -> parameter draws."""
    v = 2166136261
    for x in xs:
        for ch in str(x):
            v = ((v ^ ord(ch)) * 16777619) & 0xFFFFFFFF
    return v


def affine_params(group, m):
    b = h(SEED, group, "b") % m
    a = (h(SEED, group, "a") % m) | 1  # odd
    while gcd(a, m) != 1:
        a += 2
        if a >= m:
            a = 1
    return a, b


def gcd(a, b):
    while b:
        a, b = b, a % b
    return a


# time shift per unit of seed: 3 days + 1 hour, in microseconds
SHIFT_US_PER_SEED = 3 * 86_400_000_000 + 3_600_000_000
UNIT_US = {"s": 1_000_000, "ms": 1_000, "us": 1}
# 0001-01-01T00:00:00 and 9999-12-31T23:59:59.999999 in epoch microseconds
YEAR_1_US = -62_135_596_800_000_000
YEAR_9999_END_US = 253_402_300_799_999_999
INT64_MIN, INT64_MAX = -(1 << 63), (1 << 63) - 1


def unit_delta(unit, shift_us):
    """A microsecond shift in a timestamp column's own unit."""
    return shift_us * 1000 if unit == "ns" else shift_us // UNIT_US[unit]


def seed_range(tables):
    """(lo, hi): the seeds whose time shift keeps every shifted timestamp in
    years 1-9999 and inside int64 in its column's unit."""
    lo, hi = None, None
    for t, cols in TS_COLS.items():
        for c in cols:
            tbl = tables[t]
            if c not in tbl.schema.names:
                continue
            typ = tbl.schema.field(c).type
            if not pa.types.is_timestamp(typ):
                continue
            raw = tbl.column(c).cast(pa.int64())
            mm = pc.min_max(raw).as_py()
            if mm["min"] is None:
                continue
            if typ.unit == "ns":
                # years 1 and 9999 lie outside int64 in nanoseconds: int64 binds
                floor, ceil = INT64_MIN, INT64_MAX
            else:
                floor, ceil = YEAR_1_US // UNIT_US[typ.unit], YEAR_9999_END_US // UNIT_US[typ.unit]
            step = unit_delta(typ.unit, SHIFT_US_PER_SEED)  # exact: the shift is whole seconds
            c_lo = -((mm["min"] - floor) // step)
            c_hi = (ceil - mm["max"]) // step
            lo = c_lo if lo is None else max(lo, c_lo)
            hi = c_hi if hi is None else min(hi, c_hi)
    return lo, hi


def main():
    tables = {}
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        tables[t] = pq.read_table(f"{SRC}/{t}.parquet")
    lo, hi = seed_range(tables)
    if lo is not None and not lo <= SEED <= hi:
        sys.exit(f"gen_seeded: seed {SEED} shifts timestamps out of years 1-9999; "
                 f"valid seeds for {SRC} are {lo}..{hi} (largest valid seed: {hi})")
    os.makedirs(DST, exist_ok=True)

    # key permutations WITHIN the group's distinct-value set: rank i's value
    # maps to rank (a*i + b) mod m's value — value set (and hence every
    # range predicate's selectivity) unchanged, assignment of ids to rows
    # fully redrawn. One map per group keeps join structure intact.
    import numpy as np
    for group, cols in KEY_GROUPS.items():
        vals = np.unique(np.concatenate([
            tables[t].column(c).cast(pa.int64()).to_numpy(zero_copy_only=False)
            for t, c in cols]))
        m = len(vals)
        a, b = affine_params(group, m)
        target = vals[(a * np.arange(m, dtype=np.int64) + b) % m]
        for t, c in cols:
            tbl = tables[t]
            i = tbl.schema.get_field_index(c)
            raw = tbl.column(c).cast(pa.int64()).to_numpy(zero_copy_only=False)
            mapped = target[np.searchsorted(vals, raw)]
            tables[t] = tbl.set_column(i, tbl.schema.field(i),
                                       pa.array(mapped, pa.int64()))

    # measure jitter (quantized back to the domain invariant)
    for t, cols in JITTER_COLS.items():
        for c, dec in cols.items():
            tbl = tables[t]
            if c not in tbl.schema.names:
                continue
            i = tbl.schema.get_field_index(c)
            m = 0.90 + (h(SEED, t, c) % 21) / 100.0  # [0.90, 1.10]
            jittered = pc.round(
                pc.multiply(tbl.column(c), pa.scalar(m, pa.float64())), ndigits=dec)
            tables[t] = tbl.set_column(
                i, tbl.schema.field(i), jittered.cast(tbl.schema.field(i).type))
    # integer size shift (stays >= 1)
    if "p_size" in tables["part"].schema.names:
        tbl = tables["part"]
        i = tbl.schema.get_field_index("p_size")
        tables["part"] = tbl.set_column(
            i, tbl.schema.field(i),
            pc.add_checked(tbl.column("p_size"), pa.scalar(SEED % 5, pa.int32()))
            .cast(tbl.schema.field(i).type))

    # time shift: seed*3 days + seed hours (seed_range bounds the result)
    shift_us = SEED * SHIFT_US_PER_SEED
    for t, cols in TS_COLS.items():
        for c in cols:
            tbl = tables[t]
            if c not in tbl.schema.names:
                continue
            i = tbl.schema.get_field_index(c)
            typ = tbl.schema.field(i).type
            if pa.types.is_timestamp(typ):
                raw = tbl.column(c).cast(pa.int64())
                delta = pa.scalar(unit_delta(typ.unit, shift_us), pa.int64())
                shifted = pc.add_checked(raw, delta).cast(typ)
                tables[t] = tbl.set_column(i, tbl.schema.field(i), shifted)

    # text re-draw: seeded Caesar (bijective -> cluster structure preserved)
    rot = (7 * SEED) % 26
    if rot:
        trans = str.maketrans(ALPHA, ALPHA[rot:] + ALPHA[:rot])
        tbl = tables["documents"]
        i = tbl.schema.get_field_index("text")
        shifted = pa.array(
            [x if x is None else x.translate(trans) for x in tbl.column("text").to_pylist()],
            pa.string())
        tables["documents"] = tbl.set_column(i, tbl.schema.field(i), shifted)

    # embedding rotation
    tbl = tables["embeddings"]
    i = tbl.schema.get_field_index("embedding")
    rotv = [v if v is None else v[SEED % len(v):] + v[:SEED % len(v)]
            for v in tbl.column("embedding").to_pylist()]
    tables["embeddings"] = tbl.set_column(
        i, tbl.schema.field(i), pa.array(rotv, tbl.schema.field(i).type))

    for t, tbl in tables.items():
        pq.write_table(tbl, f"{DST}/{t}.parquet", compression="snappy",
                       row_group_size=1 << 20)
        print(f"{t}: {tbl.num_rows} rows (seed {SEED})")


if __name__ == "__main__":
    main()
