"""Correctness gates, evaluated after the timed work. Each returns a list of
failures; an empty list means the run's outputs are correct."""
import glob
import importlib.util
import json
import os

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _check_oracle():
    """The repo's oracle compare (scripts/check_oracle.py)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _read(dump_dir):
    files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(p) for p in files])


def etl_gate(raw, expect):
    errors = []
    runs = raw["facts"]["runs"]
    # the first cycle carries the end-to-end metrics; a later (traced)
    # one that failed is counted in `failed`
    if not runs[0]["ok"]:
        errors.append("the first pipeline run failed")
    for i, run in enumerate(runs):
        if not run["ok"]:
            continue
        tables = {t["table"]: t for t in run["tables"]}
        if sorted(tables) != sorted(expect["csv"]):
            errors.append(f"run {i}: tables {sorted(tables)}")
            continue
        for name, want in expect["csv"].items():
            t = tables[name]
            if t["rows"] + t["quarantined"] != want["rows"]:
                errors.append(f"run {i} {name}: {t['rows']} kept + "
                              f"{t['quarantined']} quarantined != "
                              f"{want['rows']} CSV rows")
            if t["quarantined_ids"] != sorted(want["planted"]):
                errors.append(f"run {i} {name}: quarantined ids "
                              f"{t['quarantined_ids'][:10]} != planted "
                              f"{sorted(want['planted'])[:10]}")
            ar = [c for c in t["columns"] if c.endswith("_ar")]
            if ar:
                errors.append(f"run {i} {name}: _ar columns kept: {ar}")
    return errors


def query_gate(raw, work):
    co = _check_oracle()
    results = os.path.join(work, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{work}/data/{t}.parquet'")
    errors = []
    if not raw["facts"]["passes"][0]["ok"]:
        errors.append("the first query pass failed")
    for name in sorted(raw["facts"]["layers"]):
        eng = _read(os.path.join(results, "0", name))
        if eng is None:
            errors.append(f"{name}: no engine output")
            continue
        if name not in oracle_sql:
            again = _read(os.path.join(
                results, str(raw["facts"]["repeat_pass"]), name))
            if again is None or len(again) != len(eng) or \
                    co.canon(again) != co.canon(eng):
                errors.append(f"{name}: result differs between two runs")
            continue
        ora = con.execute(oracle_sql[name]).df()
        if len(eng) != len(ora):
            errors.append(f"{name}: rows {len(eng)} vs oracle {len(ora)}")
        elif sorted(eng.columns) != sorted(ora.columns):
            errors.append(f"{name}: columns {sorted(eng.columns)} vs "
                          f"{sorted(ora.columns)}")
        elif co.canon(eng) != co.canon(ora):
            errors.append(f"{name}: value hash differs from the oracle")
    return errors


def ais_gate(raw):
    errors = []
    for feed in raw["facts"]["feeds"]:
        g = feed["gate"]
        if not feed["ok"]:
            errors.append(f"{feed['tag']}: the stream failed")
            continue
        if g["expected"] == 0:
            errors.append(f"{feed['tag']}: no rendezvous in the input; "
                          "the gate would be vacuous")
        if g["missing"] or g["extra"] or g["alerts"] != g["expected"]:
            errors.append(f"{feed['tag']}: stream alerts {g['alerts']} "
                          f"(missing {g['missing']}, extra {g['extra']}) != "
                          f"batch darkRendezvous {g['expected']}")
    return errors


def gates(workload, raw, expect, work):
    if workload == "batch":
        return etl_gate(raw, expect) + query_gate(raw, work)
    return ais_gate(raw)
