#!/usr/bin/env python3
"""Records the analytics_sf01 result hashes, checked against DuckDB.

    python3 perfbench/record_hashes.py

Generates the fixed analytics dataset, writes every query's Spark result
and oracle SQL, runs that SQL in DuckDB over the same generated tables,
and compares the two row by row (column-name order, exact equality,
NaN == NaN), as the engine's correctness gate does. Only when all
fifteen match are their hashes written to perfbench/analytics_hashes.json,
which every benchmark run checks its results against. Needs the duckdb Python package; the
benchmark itself does not.
"""
import json
import math
import os
import shutil
import sys

import run

TABLES = ["region", "nation", "customer", "orders", "lineitem", "events"]


def norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def compare(con, qdir, sql):
    got_rel = con.sql("SELECT * FROM '%s/*.parquet'" % qdir)
    got_cols = [d[0] for d in got_rel.description]
    got = got_rel.fetchall()
    exp_rel = con.sql(sql)
    exp_cols = [d[0] for d in exp_rel.description]
    exp = exp_rel.fetchall()
    if sorted(got_cols) != sorted(exp_cols):
        return "columns %s != %s" % (sorted(got_cols), sorted(exp_cols))
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    ei = [exp_cols.index(c) for c in sorted(exp_cols)]
    g = [tuple(norm(r[i]) for i in gi) for r in got]
    e = [tuple(norm(r[i]) for i in ei) for r in exp]
    if len(g) != len(e):
        return "rows %d != %d" % (len(g), len(e))
    bad = [i for i, (a, b) in enumerate(zip(g, e)) if a != b]
    if bad:
        return "%d/%d rows differ, first at %d: %s vs %s" % (
            len(bad), len(g), bad[0], g[bad[0]], e[bad[0]])
    if not g:
        return "empty result"
    return None


def main():
    import duckdb
    jars = run.spark_jars()
    classes = run.build(jars)
    data = run.analytics_data(classes, jars)
    state = run.fresh_state("record")
    out = os.path.join(state, "results")
    cmd = run.java_command(classes, jars, state, [
        "--workload", "analytics_sf01", "--seed", "0", "--seconds", "0",
        "--data", data, "--record", out])
    rc, log = run.run_logged(cmd, os.path.join(run.OUT_DIR, "record.log"),
                             state, run.RUN_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(log[-4000:])
        run.fail("record run exited with %d" % rc)
    rec = json.load(open(os.path.join(out, "record.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet/*.parquet'"
                    % (t, data, t))
    failed = 0
    for name in sorted(rec["oracle"]):
        err = compare(con, os.path.join(out, name), rec["oracle"][name])
        print("%s %s%s" % ("FAIL" if err else "PASS", name,
                           ": " + err if err else ""))
        failed += bool(err)
    if failed:
        run.fail("%d queries disagree with DuckDB; hashes not written"
                 % failed)
    with open(os.path.join(run.HERE, "analytics_hashes.json"), "w") as f:
        json.dump(rec["hashes"], f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(state, ignore_errors=True)
    print("wrote %d hashes" % len(rec["hashes"]))


if __name__ == "__main__":
    main()
