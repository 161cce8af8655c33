#!/usr/bin/env python3
"""Regenerate perfbench/reference.json: the checksums query_suite and
store_cycle results are checked against.

    python3 perfbench/make_reference.py [work dir]

Every step runs each time, in a fresh work dir under `.bench_runs/`
unless one is named.

On the fixed benchmark tables (run.TABLE_SEED) it:
  1. runs every registry query once and takes its result checksum
     (perfbench.QuerySuite with a zero window);
  2. writes every result to parquet with graft.Verify and cross-checks
     it against the query's DuckDB oracle (SparkEntry.oracleSql); a
     query whose oracle disagrees is listed under "oracle_disagrees"
     and never used as a reference;
  3. builds every store and probes it once (perfbench.StoreCycle with a
     zero window), and confirms each probe's checksum equals that of
     its gate query.
Queries that fail on the generated tables are listed under "failed";
queries whose oracle reads the in-repo fixtures (by an absolute path
that a checkout elsewhere does not have) under "reads_fixtures".
"""
import json
import os
import sys
import tempfile

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]
STEP_TIMEOUT_S = 1800
PROBE_GATE = {"posting": "q92_bm25_indexed", "posting_capped": "q137_bm25_capped",
              "tfidf": "q141_tfidf_indexed", "tfidf_capped": "q140_tfidf_capped",
              "lm": "q103_lm_store_score", "lm_oov": "q129_lm_oov_drift", "nb": "q110_nb_store_score",
              "tok": "q123_tok_store_drift", "langid": "q127_langid_store_mix", "psi": "q131_score_psi",
              "hll": "q133_vocab_growth", "cms": "q135_hitter_surge",
              "curation_lang": "q136_curation_store_lang", "slice_lang": "q139_slice_eval_store_lang",
              "cal_cuts": "q138_calibration_frozen"}


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, (str, bytes)) else v)
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True).astype(str)


def oracle_agrees(con, sql, spark_dir):
    a = pd.read_parquet(spark_dir)
    b = con.execute(sql).df()
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    return canon(a).equals(canon(b))


def main(work):
    os.makedirs(work, exist_ok=True)
    tables = os.path.join(work, "tables")
    gen.tables(tables, run.TABLE_SEED)
    jvm = run.Jvm(work, False, "reference")
    names = sorted(run_registry(jvm, work))
    suite = os.path.join(work, "suite.json")
    jvm.run("perfbench.QuerySuite", [tables, suite, "0", ",".join(names)], "reference-queries",
            timeout=STEP_TIMEOUT_S)
    with open(suite) as f:
        s = json.load(f)
    verify = os.path.join(work, "verify")
    jvm.run("graft.Verify", [tables, verify, ",".join(names)], "reference-verify", timeout=STEP_TIMEOUT_S)
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, tables, t))
    ref = {"table_seed": run.TABLE_SEED, "queries": {}, "oracle_disagrees": [], "no_oracle": [],
           "failed": sorted(n for n in names if s["checks"].get(n) is None), "probe_gate": PROBE_GATE,
           "reads_fixtures": sorted(n for n in names if "/fixtures/" in oracles.get(n, ""))}
    for n in names:
        got = s["checks"].get(n)
        if got is None or n in ref["reads_fixtures"]:
            continue
        if n not in oracles:
            ref["no_oracle"].append(n)
            continue
        try:
            ok = oracle_agrees(con, oracles[n], os.path.join(verify, n))
        except Exception as e:  # an oracle error is a disagreement
            print("%s: oracle error %s" % (n, e))
            ok = False
        if ok:
            ref["queries"][n] = got
        else:
            ref["oracle_disagrees"].append(n)
    landing = os.path.join(work, "landing")
    gen.landing(landing, 0)
    stores = os.path.join(work, "stores.json")
    jvm.run("perfbench.StoreCycle", [tables, landing, os.path.join(work, "cycle"), stores, "0",
                                     ",".join(run.PROBES)], "reference-stores", timeout=STEP_TIMEOUT_S)
    with open(stores) as f:
        c = json.load(f)
    ref["probe_mismatch"] = sorted(
        p for p in run.PROBES
        if [ref["queries"].get(PROBE_GATE[p])] != c["checks"].get(p, [None]))
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    print("%d queries with a reference; oracle disagrees: %s; failed: %s; probes off their gate: %s"
          % (len(ref["queries"]), ref["oracle_disagrees"], ref["failed"], ref["probe_mismatch"]))


def run_registry(jvm, work):
    """Every query name in SparkEntry.queries."""
    out = os.path.join(work, "names.txt")
    jvm.run("perfbench.ListQueries", [out], "list-queries")
    with open(out) as f:
        return [l.strip() for l in f if l.strip()]


if __name__ == "__main__":
    if len(sys.argv) > 1:
        main(sys.argv[1])
    else:
        os.makedirs(os.path.join(run.ROOT, ".bench_runs"), exist_ok=True)
        main(tempfile.mkdtemp(prefix="reference-", dir=os.path.join(run.ROOT, ".bench_runs")))
