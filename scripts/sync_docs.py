#!/usr/bin/env python3
"""Regenerate the drift-prone headline counts in README/COVERAGE/SURVEY
from the artifacts themselves (the r9-r11 pattern: hand-edited totals go
stale every round).

Sources of truth:
  - the newest CORRECTNESS_r*.json (the DRIVER's gate): the
    "hash-checked" claim cites its pass count and round — VERDICT r15
    #4/#5: the local mirror passed three queries the driver failed, so
    the docs overstated the verified surface; citing the driver
    artifact makes that disagreement structurally impossible
  - a graft.Verify dump dir (default /tmp/verify_out): registry size =
    query dirs, oracle coverage = oracle_sql.json entries, rows-only =
    diff (these are LOCAL facts: what exists, not what's verified)
  - target/suite-counts.json, written by DocsGuardSpec: the suites and
    tests on the test classpath (ScalaTest suites + ScalaCheck
    Properties), the counts that spec checks README against

Usage: python3 scripts/sync_docs.py [verifyDumpDir]
Run after `sbt test` (or `sbt "testOnly graft.DocsGuardSpec"`) +
`runMain graft.Verify ...`; rewrites the counts in place and prints what
changed.
"""
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def counts(dump_dir):
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        n_oracle = len(json.load(f))
    n_registry = len([d for d in os.listdir(dump_dir)
                      if os.path.isdir(os.path.join(dump_dir, d))])
    return n_registry, n_oracle


def driver_gate():
    """(round, hash-pass count) from the newest CORRECTNESS_r*.json."""
    arts = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    if not arts:
        return None
    def rnd(p):
        return int(re.search(r"_r(\d+)\.json$", p).group(1))
    newest = max(arts, key=rnd)
    with open(newest) as f:
        d = json.load(f)
    npass = sum(1 for v in d.values()
                if isinstance(v, dict) and v.get("hash_match") is True)
    return rnd(newest), npass, len(d)


def test_counts():
    """(suites, tests) DocsGuardSpec derived from the test classpath and
    wrote to target/suite-counts.json — the same counts it checks
    README against."""
    path = os.path.join(REPO, "target/suite-counts.json")
    if not os.path.exists(path):
        sys.exit("no target/suite-counts.json - run "
                 "`sbt \"testOnly graft.DocsGuardSpec\"` first")
    with open(path) as f:
        d = json.load(f)
    return d["suites"], d["tests"]


def patch(path, subs):
    full = os.path.join(REPO, path)
    with open(full) as f:
        text = f.read()
    changed = []
    for pat, repl in subs:
        new, n = re.subn(pat, repl, text)
        if n and new != text:
            changed.append(pat)
        text = new
    with open(full, "w") as f:
        f.write(text)
    return changed


def main():
    dump = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
    n_reg, n_orc = counts(dump)
    n_rows_only = n_reg - n_orc
    n_suites, n_tests = test_counts()
    gate = driver_gate()
    if gate is None:
        sys.exit("no CORRECTNESS_r*.json in the repo — the hash-checked "
                 "claim cites the driver's gate and cannot be synced")
    g_round, g_pass, g_total = gate
    print(f"registry={n_reg} oracles={n_orc} rows-only={n_rows_only} "
          f"driver-gate=r{g_round}:{g_pass}/{g_total} "
          f"suites={n_suites} tests={n_tests}")
    if g_pass != n_orc:
        print(f"NOTE: local oracle coverage ({n_orc}) != driver r{g_round} "
              f"pass count ({g_pass}) — docs cite the DRIVER; the gap is "
              f"either un-gated new queries or un-fixed red rows")

    for path, subs in {
        "README.md": [
            (r"sbt test   # \d+ suites, \d+ tests",
             f"sbt test   # {n_suites} suites, {n_tests} tests"),
            (r"`Registry` of \d+ named queries",
             f"`Registry` of {n_reg} named queries"),
            (r"\(\d+ hash-checked at the driver's r\d+ gate incl\.",
             f"({g_pass} hash-checked at the driver's r{g_round} gate incl."),
            (r"probe, \d+ rows-only by design",
             f"probe, {n_rows_only} rows-only by design"),
        ],
        "COVERAGE.md": [
            (r"\*\*\d+ of \d+ entries are DuckDB-hash-checked at the "
             r"driver's r\d+ gate\*\*",
             f"**{g_pass} of {n_reg} entries are DuckDB-hash-checked at "
             f"the driver's r{g_round} gate**"),
        ],
        "SURVEY.md": [
            (r"map \(\d+\noracle-hash-checked at the driver's r\d+ gate, "
             r"\d+ rows-only of \d+\nentries\)",
             f"map ({g_pass}\noracle-hash-checked at the driver's "
             f"r{g_round} gate, {n_rows_only} rows-only of {n_reg}\n"
             f"entries)"),
        ],
    }.items():
        changed = patch(path, subs)
        print(f"{path}: {len(changed)} pattern(s) updated")


if __name__ == "__main__":
    main()
