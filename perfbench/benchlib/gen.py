"""Seeded input generators. The same seed gives byte-identical files.

* ``tables``: the star schema the registry queries read (TPC-H-shaped
  tables plus events, documents and embeddings), with the column types
  and value distributions of the repo's sf testdata (TESTDATA.md).
* ``etl_csv``: a CSV shaped like the reference's ``rent_contracts``
  export, with planted out-of-range rows.
* ``ais_hours``: one parquet file of vessel fixes per event hour, with
  vessels that go dark and reappear.
"""
import csv
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows SchemaOptimizer.optimize profiles (its sampleRows default). Planted
# rows sit well past it so the profile never sees them.
PROFILE_ROWS = 50_000
NULL_TOKENS = ["", "null", "NULL", "None"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def tables(out_dir, seed, sf):
    """Write the ten query tables at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), int(50_000 * sf)
    n_emb = int(20_000 * sf)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")

    adjs = np.array(["large", "hot", "blue", "old", "cold", "red", "small",
                     "green"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "widget", "rod",
                      "anvil", "nut"])
    types = np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD",
                      "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)],
                                          " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out_dir}/part.parquet")

    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")

    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)}),
        f"{out_dir}/lineitem.parquet")

    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(["view", "click", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")

    vocab = np.array(
        "spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row "
        "the agg key query a scan batch".split())
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    langs = np.array(["en", "en", "es", "zh", "de", "fr"])
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, 6, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")

    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out_dir}/embeddings.parquet")


# (column, low, high) of the integer columns SchemaOptimizer should
# downcast, one per rung of its ladder; a planted row puts one of them
# past the 32-bit range, which makes the CSV scan infer the column as
# 64-bit and the quarantine split catch the row.
INT_COLS = [("is_freehold", 0, 1), ("rooms", 0, 12),
            ("floor_area_sqm", 20, 60_000), ("rent_delta", -100, 100),
            ("service_charge", -20_000, 30_000)]
AREAS = ["Al Barsha", "Jumeirah", "Deira", "Marina", "Business Bay",
         "Al Quoz", "Karama", "Mirdif", "Al Nahda", "Silicon Oasis",
         "Downtown", "Palm", "JLT", "JVC", "Arjan", "Motor City"]
# low-cardinality string columns, each with its `_ar` duplicate
STRING_COLS = [
    ("contract_reg_type", [("New", "جديد"), ("Renew", "تجديد")]),
    ("area_name", [(a, f"منطقة {i}") for i, a in enumerate(AREAS)]),
    ("property_usage", [("Residential", "سكني"), ("Commercial", "تجاري"),
                        ("Industrial", "صناعي"), ("Hospitality", "ضيافة")]),
    ("tenant_type", [("Person", "شخص"), ("Authority", "جهة")])]
ID_BASE = 10_000_000_000


def etl_csv(out_dir, seed, n_rows, n_planted=12):
    """Write rent_contracts.csv with ``n_rows`` data rows, ``n_planted`` of
    them out of range past the profiled sample; return
    {"rent_contracts": {"rows": n_rows, "planted": [ids]}}."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    first = max(int(n_rows * 0.6), PROFILE_ROWS + 5_000)
    assert first + n_planted <= n_rows, "too few rows to plant past the profile"
    planted_rows = sorted(int(r) for r in rng.choice(
        np.arange(first, n_rows), n_planted, replace=False))
    planted = {r: int(rng.integers(0, len(INT_COLS))) for r in planted_rows}
    header = ["id"] + [c for c, _, _ in INT_COLS]
    for name, _ in STRING_COLS:
        header += [f"{name}_en", f"{name}_ar"]
    header += ["start_date", "amount"]
    ints = {c: rng.integers(lo, hi + 1, n_rows) for c, lo, hi in INT_COLS}
    null_int = rng.random((n_rows, len(INT_COLS))) < 0.01
    strs = [(rng.integers(0, len(vals), n_rows), rng.random(n_rows) < 0.04,
             rng.integers(0, len(NULL_TOKENS), n_rows))
            for _, vals in STRING_COLS]
    dates = _days(rng, n_rows, "2019-01-01", 1800).astype("datetime64[D]")
    amounts = np.round(rng.uniform(5_000, 3_000_000, n_rows), 2)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    for r in range(n_rows):
        row = [str(ID_BASE + r)]
        for j, (c, _, _) in enumerate(INT_COLS):
            if planted.get(r) == j:
                row.append(str(5_000_000_000 + r))
            elif null_int[r, j]:
                row.append("")
            else:
                row.append(str(ints[c][r]))
        for (_, vals), (pick, isnull, tok) in zip(STRING_COLS, strs):
            if isnull[r]:
                row += [NULL_TOKENS[tok[r]], NULL_TOKENS[tok[r]]]
            else:
                row += list(vals[pick[r]])
        row += [str(dates[r]), f"{amounts[r]:.2f}"]
        w.writerow(row)
    with open(f"{out_dir}/rent_contracts.csv", "wb") as f:
        f.write(buf.getvalue().encode("utf-8"))
    return {"rent_contracts": {"rows": n_rows,
                               "planted": [ID_BASE + r for r in planted_rows]}}


def ais_hours(out_dir, seed, hours, vessels, report_every, dark_share,
              min_dark_hours):
    """Write ``hours`` files hour-00000.parquet.. of (event_id, user_id, ts)
    fixes. A vessel reports once every ``report_every`` hours, at a phase of
    its own; a ``dark_share`` of vessels goes silent for at least
    ``min_dark_hours`` whole hours, once or twice. Returns {file name: rows}."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    phase = rng.integers(0, report_every, vessels)
    silent = (np.arange(hours)[None, :] - phase[:, None]) % report_every != 0
    for v in np.flatnonzero(rng.random(vessels) < dark_share):
        for _ in range(int(rng.integers(1, 3))):
            length = int(rng.integers(min_dark_hours, min_dark_hours + 4))
            start = int(rng.integers(1, max(2, hours - length)))
            silent[v, start:start + length] = True
    base = np.datetime64("2024-03-01T00:00:00", "us")
    next_id, rows = 0, {}
    for h in range(hours):
        users = np.flatnonzero(~silent[:, h])
        secs = rng.integers(0, 3600 * 10**6, len(users))
        order = np.lexsort((users, secs))
        users, secs = users[order], secs[order]
        n = len(users)
        ts = base + (np.int64(h) * 3600 * 10**6 + secs).astype(
            "timedelta64[us]")
        name = f"hour-{h:05d}.parquet"
        _write(pa.table({
            "event_id": np.arange(next_id, next_id + n, dtype=np.int64),
            "user_id": users.astype(np.int64),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
            f"{out_dir}/{name}")
        next_id += n
        rows[name] = n
    return rows
