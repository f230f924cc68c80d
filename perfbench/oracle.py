"""Expected and actual outputs, as comparable signatures.

Bank workloads:

The expected side replays the generated drops through the independent
DuckDB replica of the reference SQL (`tools/golden_reference.py`, imported
unchanged); the actual side reads the Spark warehouse's parquet files with
DuckDB. Both reduce each table to groups -- mart rows per day and event
type, fact rows per transaction day, blacklist rows per date, META rows
per day, the SCD2 dimension after each day -- each with its row count and
an order-independent hash over every column of every row.

Catalog mix: each query's result against its `oracleSql` in DuckDB, with
the frame canonicalisation and hashing of `tools/check_oracle.py`
(imported unchanged). The testdata is fixed, so the oracle side is
computed once per (tables, SQL, checker) and cached.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

RULE_META = [("blocked or expired passport", "REP_FRAUD_passport"),
             ("invalid contract", "REP_FRAUD_contract"),
             ("ops in diff cities less one hour", "REP_FRAUD_diff_cities"),
             ("amount guessing", "REP_FRAUD_attempt_amount")]
# rules 1/2 have no cross-day joins; the streaming twin runs them on the
# day's fact partition only (its documented incremental dial,
# Pipeline.ruleFacts), where the reference rescans the whole history
PER_ROW_RULES = ("blocked or expired passport", "invalid contract")


def _canon(*exprs):
    return ", ".join(f"coalesce(CAST({e} AS VARCHAR), '<null>')" for e in exprs)


def _sig(*exprs):
    return (f"count(*) AS n, CAST(sum(hash(concat_ws('|', {_canon(*exprs)})))"
            " AS VARCHAR) AS h")


MART = ("strftime(event_dt, '%Y-%m-%d %H:%M:%S')", "passport", "fio",
        "phone", "event_type", "CAST(report_dt AS DATE)")
FACTS = ("transaction_id", "strftime(transaction_date, '%Y-%m-%d %H:%M:%S')",
         "card_num", "oper_type", "amount", "oper_result", "terminal")
DIM = ("terminal_id", "terminal_type", "terminal_city", "terminal_address",
       "effective_from",
       # the reference's 'infinity' and Spark's 9999-12-31 open-end sentinel
       "CASE WHEN effective_to > DATE '9000-01-01' THEN DATE '9999-12-31' "
       "ELSE effective_to END", "deleted_flg")
META = ("table_name", "event_dt", "rows_processed", "status")


def _groups(con, mart, facts, blacklist, meta):
    out = {}
    queries = [
        f"SELECT 'mart|' || CAST(CAST(report_dt AS DATE) AS VARCHAR) || '|' "
        f"|| event_type, {_sig(*MART)} FROM {mart} GROUP BY ALL",
        f"SELECT 'facts|' || CAST(CAST(transaction_date AS DATE) AS VARCHAR),"
        f" {_sig(*FACTS)} FROM {facts} GROUP BY ALL",
        f"SELECT 'blacklist|' || CAST(date AS VARCHAR), "
        f"{_sig('date', 'passport')} FROM {blacklist} GROUP BY ALL",
        f"SELECT 'meta|' || CAST(event_dt AS VARCHAR), {_sig(*META)} "
        f"FROM {meta} GROUP BY ALL"]
    for q in queries:
        for k, n, h in con.execute(q).fetchall():
            out[k] = [n, h]
    return out


def _dim_sig(con, rel):
    n, h = con.execute(f"SELECT {_sig(*DIM)} FROM {rel}").fetchone()
    return [n, h]


def expected(tools_dir, data_dir, days):
    """Replay `days` (DDMMYYYY names) through the DuckDB replica and
    return the expected groups for the batch pipeline and for the
    streaming twin, plus per-day volumes."""
    sys.path.insert(0, tools_dir)
    from golden_reference import DDL, load_seeds, read_xlsx, run_day

    con = duckdb.connect()
    for stmt in DDL.strip().split(";"):
        if stmt.strip():
            con.execute(stmt)
    load_seeds(con, os.path.join(data_dir, "ddl_dml.sql"))
    drops = os.path.join(data_dir, "drops")
    con.execute("CREATE TABLE meta_batch (table_name VARCHAR, event_dt DATE,"
                " rows_processed INTEGER, status VARCHAR)")
    con.execute("CREATE TABLE meta_stream AS SELECT * FROM meta_batch")
    dims, txns = {}, []
    for d in days:
        day = run_day(con, drops, d)
        n_txn = con.execute("SELECT count(*) FROM stg_transactions").fetchone()[0]
        n_bl = len(read_xlsx(f"{drops}/passport_blacklist_{d}.xlsx"))
        n_term = len(read_xlsx(f"{drops}/terminals_{d}.xlsx"))
        txns.append(n_txn)
        dims[str(day)] = _dim_sig(con, "dwh_dim_terminals_hist")
        rule_n = {}
        for event, name in RULE_META:
            rule_n[name] = con.execute(
                "SELECT count(*), count(*) FILTER (WHERE "
                "CAST(event_dt AS DATE) = report_dt) FROM rep_fraud "
                "WHERE report_dt = ? AND event_type = ?", [day, event]).fetchone()
            if event not in PER_ROW_RULES:
                rule_n[name] = (rule_n[name][0], rule_n[name][0])
        batch = ([("stg_transactions", n_txn), ("stg_passport_blacklist", n_bl),
                  ("stg_terminals", n_term), ("CLEAR_stg_transactions", 0),
                  ("CLEAR_stg_terminals", 0),
                  ("CLEAR_stg_passport_blacklist", 0)]
                 + [(name, rule_n[name][0]) for _, name in RULE_META])
        stream = ([("stg_passport_blacklist", n_bl), ("stg_terminals", n_term),
                   ("stg_transactions", n_txn)]
                  + [(name, rule_n[name][1]) for _, name in RULE_META])
        for table, rows in (("meta_batch", batch), ("meta_stream", stream)):
            con.executemany(f"INSERT INTO {table} VALUES (?, ?, ?, 'SUCCESS')",
                            [(t, day, n) for t, n in rows])
    per_row = ", ".join(f"'{e}'" for e in PER_ROW_RULES)
    stream_mart = (f"(SELECT * FROM rep_fraud WHERE event_type NOT IN "
                   f"({per_row}) OR CAST(event_dt AS DATE) = report_dt)")
    out = {"txns": txns, "dims": dims,
           "batch": _groups(con, "rep_fraud", "dwh_fact_transactions",
                            "dwh_fact_passport_blacklist", "meta_batch"),
           "stream": _groups(con, stream_mart, "dwh_fact_transactions",
                             "dwh_fact_passport_blacklist", "meta_stream")}
    con.close()
    return out


def live_files(wh, table):
    """Live parquet files of a warehouse table: files under `_`- or
    `.`-prefixed names (in-flight `_tmppart_*` rewrites) are not part of
    it, as Spark's listing skips them too."""
    root = os.path.join(wh, table)
    return sorted(f for f in glob.glob(f"{root}/**/*.parquet", recursive=True)
                  if not any(p.startswith("_") or p.startswith(".")
                             for p in os.path.relpath(f, root).split(os.sep)))


def actual(wh):
    con = duckdb.connect()
    rels = {}
    for t in ("rep_fraud", "dwh_fact_transactions",
              "dwh_fact_passport_blacklist", "meta_loading",
              "dwh_dim_terminals_hist"):
        fs = live_files(wh, t)
        if not fs:
            raise RuntimeError(f"warehouse table {t} is missing")
        rels[t] = f"read_parquet({fs!r}, hive_partitioning = true)"
    out = _groups(con, rels["rep_fraud"], rels["dwh_fact_transactions"],
                  rels["dwh_fact_passport_blacklist"], rels["meta_loading"])
    dim = _dim_sig(con, rels["dwh_dim_terminals_hist"])
    con.close()
    return out, dim


def failed_days(exp, mode, wh, day_isos):
    """Days (ISO dates among `day_isos`, the days the run delivered) whose
    warehouse groups disagree with the replica. The dimension is compared
    as of the last delivered day."""
    want = {k: v for k, v in exp[mode].items()
            if k.split("|")[1] <= day_isos[-1]}
    try:
        got, dim = actual(wh)
    except Exception as e:  # a missing or unreadable table fails the run
        print(f"output check: {e}", file=sys.stderr)
        return set(day_isos)
    bad = set()
    for k in set(want) | set(got):
        if want.get(k) != got.get(k):
            day = k.split("|")[1]
            print(f"output check: {k} expected {want.get(k)} got {got.get(k)}",
                  file=sys.stderr)
            bad.add(day if day in day_isos else day_isos[-1])
    if dim != exp["dims"][day_isos[-1]]:
        print(f"output check: dimension expected {exp['dims'][day_isos[-1]]} "
              f"got {dim}", file=sys.stderr)
        bad.add(day_isos[-1])
    return bad


def catalog_failures(tools_dir, sf_dir, out_dir, cache_dir):
    """Names of the queries in `out_dir` (one parquet directory each, plus
    `oracle_sql.json`) whose result differs from their oracle."""
    sys.path.insert(0, tools_dir)
    import check_oracle
    import pandas as pd

    def digest(df):
        return {"columns": list(df.columns), "rows": len(df),
                "hash": {c: hashlib.sha256(v.encode()).hexdigest()
                         for c, v in check_oracle.frame_hash(df).items()}}

    with open(os.path.join(tools_dir, "check_oracle.py"), "rb") as f:
        checker = hashlib.sha256(f.read()).hexdigest()
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    bad = set()
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256(f"{checker}|{os.path.abspath(sf_dir)}|{sql}"
                             .encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{name}-{key}.json")
        try:
            if os.path.exists(cached):
                with open(cached) as f:
                    want = json.load(f)
            else:
                if con is None:
                    con = duckdb.connect()
                    for t in check_oracle.TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"'{sf_dir}/{t}.parquet'")
                want = digest(check_oracle.canon(con.sql(sql).df()))
                with open(cached + ".tmp", "w") as f:
                    json.dump(want, f)
                os.replace(cached + ".tmp", cached)
            got = digest(check_oracle.canon(
                pd.read_parquet(os.path.join(out_dir, name))))
        except Exception as e:  # an unreadable or unsortable frame fails
            print(f"oracle check: {name}: {type(e).__name__}: {e}",
                  file=sys.stderr)
            bad.add(name)
            continue
        if got != want:
            diff = [c for c in want["columns"]
                    if got["hash"].get(c) != want["hash"][c]]
            print(f"oracle check: {name}: columns {got['columns']} rows "
                  f"{got['rows']}, expected {want['columns']} rows "
                  f"{want['rows']}; differing columns {diff}", file=sys.stderr)
            bad.add(name)
    if con is not None:
        con.close()
    return bad
