#!/usr/bin/env python3
"""Independent golden replica of the reference pipeline in DuckDB.

Replays /root/reference/py_scripts/*.py SQL (near-verbatim; DuckDB speaks
the needed Postgres dialect: DISTINCT ON, 'infinity'::date, EXTRACT EPOCH,
interval arithmetic) over the 3-day fixture, then diffs the final tables
against the Spark pipeline's warehouse (Replay output).

Usage: tools/golden_reference.py <refDataDir> <sparkWhDir>
  e.g. on the committed fixture, after
  `sbt "runMain graft.bank.Replay src/test/resources/bank-fixture/data <work>"`:
  tools/golden_reference.py src/test/resources/bank-fixture/data <work>/wh
Dev-only tool (driver-side python stack).
"""
import re
import sys
import zipfile
from datetime import date, timedelta

import duckdb


def read_xlsx(path):
    """Minimal xlsx → list of row dicts (col letter -> string value).
    Independent of the Scala reader: regex over sheet XML."""
    import html
    z = zipfile.ZipFile(path)
    shared = [
        html.unescape("".join(re.findall(r"<t[^>]*>(.*?)</t>", si, re.S)))
        for si in re.findall(
            r"<si>(.*?)</si>",
            z.read("xl/sharedStrings.xml").decode("utf-8"), re.S)]
    sheet = z.read("xl/worksheets/sheet1.xml").decode("utf-8")
    rows = []
    for row_m in re.finditer(r"<row [^>]*>(.*?)</row>", sheet, re.S):
        cells = {}
        for c in re.finditer(r"<c ([^>]*?)(?:/>|>(.*?)</c>)", row_m.group(1), re.S):
            attrs, body = c.group(1), c.group(2)
            ref = re.search(r'r="([A-Z]+)\d+"', attrs)
            typ = re.search(r't="(\w+)"', attrs)
            if ref is None or body is None:
                continue
            vm = re.search(r"<v>(.*?)</v>", body, re.S)
            if vm is None:
                continue
            val = vm.group(1)
            cells[ref.group(1)] = (shared[int(val)]
                                   if typ and typ.group(1) == "s" else val)
        rows.append(cells)
    header = rows[0]
    out = []
    for r in rows[1:]:
        if not r:
            continue  # styled-but-empty row: pandas drops all-NaN rows
        out.append({header[k]: v for k, v in r.items() if k in header})
    return out


def excel_date(serial):
    return date(1899, 12, 30) + timedelta(days=int(float(serial)))


def load_seeds(con, ddl_path):
    sql = open(ddl_path, encoding="utf-8").read()
    con.execute("""CREATE TABLE cards(card_num VARCHAR, account VARCHAR,
        create_dt DATE, update_dt DATE)""")
    con.execute("""CREATE TABLE accounts(account VARCHAR, valid_to DATE,
        client VARCHAR, create_dt DATE, update_dt DATE)""")
    con.execute("""CREATE TABLE clients(client_id VARCHAR, last_name VARCHAR,
        first_name VARCHAR, patronymic VARCHAR, date_of_birth DATE,
        passport_num VARCHAR, passport_valid_to DATE, phone VARCHAR,
        create_dt DATE, update_dt DATE)""")
    for stmt in re.findall(r"(?is)insert\s+into\s+\w+\s*\([^)]*\)\s*values\s*\(.*?\);", sql):
        con.execute(stmt)


DDL = """
CREATE TABLE dwh_fact_transactions (transaction_id VARCHAR,
  transaction_date TIMESTAMP, card_num VARCHAR, oper_type VARCHAR,
  amount DECIMAL(10,2), oper_result VARCHAR, terminal VARCHAR);
CREATE TABLE dwh_fact_passport_blacklist (date DATE, passport VARCHAR);
CREATE TABLE dwh_dim_terminals_hist (terminal_id VARCHAR,
  terminal_type VARCHAR, terminal_city VARCHAR, terminal_address VARCHAR,
  effective_from DATE, effective_to DATE DEFAULT 'infinity'::date,
  deleted_flg BOOLEAN DEFAULT FALSE);
CREATE TABLE rep_fraud (event_dt TIMESTAMP, passport VARCHAR, fio VARCHAR,
  phone VARCHAR, event_type VARCHAR, report_dt DATE);
"""


def run_day(con, ref_data, d):
    # staging (main.py:43-82)
    con.execute("DROP TABLE IF EXISTS stg_transactions")
    con.execute(f"""CREATE TABLE stg_transactions AS
        SELECT transaction_id::VARCHAR AS transaction_id,
               transaction_date::TIMESTAMP AS transaction_date,
               replace(amount, ',', '.')::DECIMAL(10,2) AS amount,
               card_num, oper_type, oper_result, terminal
        FROM read_csv('{ref_data}/transactions_{d}.txt', sep=';', header=true,
                      all_varchar=true)""")
    date_global = con.execute(
        "SELECT min(transaction_date::DATE) FROM stg_transactions").fetchone()[0]

    con.execute("DROP TABLE IF EXISTS stg_passport_blacklist")
    con.execute("CREATE TABLE stg_passport_blacklist (date DATE, passport VARCHAR)")
    for r in read_xlsx(f"{ref_data}/passport_blacklist_{d}.xlsx"):
        con.execute("INSERT INTO stg_passport_blacklist VALUES (?, ?)",
                    [excel_date(r["date"]) if "date" in r else None,
                     r.get("passport")])

    con.execute("DROP TABLE IF EXISTS stg_terminals")
    con.execute("""CREATE TABLE stg_terminals (terminal_id VARCHAR,
        terminal_type VARCHAR, terminal_city VARCHAR, terminal_address VARCHAR)""")
    for r in read_xlsx(f"{ref_data}/terminals_{d}.xlsx"):
        con.execute("INSERT INTO stg_terminals VALUES (?, ?, ?, ?)",
                    [r.get("terminal_id"), r.get("terminal_type"),
                     r.get("terminal_city"), r.get("terminal_address")])

    # update_facts (comm_funcs.py:47-78)
    con.execute("""INSERT INTO dwh_fact_passport_blacklist (date, passport)
        SELECT date, passport FROM stg_passport_blacklist stg
        WHERE NOT EXISTS (SELECT 1 FROM dwh_fact_passport_blacklist dwh
                          WHERE stg.passport = dwh.passport)""")
    con.execute("""INSERT INTO dwh_fact_transactions
        SELECT transaction_id, transaction_date, card_num, oper_type, amount,
               oper_result, terminal FROM stg_transactions""")

    # CDC increments (incr_loading.py:13-58)
    con.execute("DROP TABLE IF EXISTS stg_new_terminals")
    con.execute("DROP TABLE IF EXISTS stg_deleted_terminals")
    con.execute("DROP TABLE IF EXISTS stg_updated_terminals")
    con.execute("""CREATE TABLE stg_new_terminals AS
        SELECT t1.* FROM stg_terminals t1
        LEFT JOIN dwh_dim_terminals_hist t2 ON t1.terminal_id = t2.terminal_id
        WHERE t2.terminal_id IS NULL""")
    con.execute("""CREATE TABLE stg_deleted_terminals AS
        SELECT t1.terminal_id, t1.terminal_type, t1.terminal_city,
               t1.terminal_address
        FROM dwh_dim_terminals_hist t1
        LEFT JOIN stg_terminals t2 ON t1.terminal_id = t2.terminal_id
        WHERE t2.terminal_id IS NULL""")
    con.execute("""CREATE TABLE stg_updated_terminals AS
        SELECT t1.* FROM stg_terminals t1
        JOIN dwh_dim_terminals_hist t2 ON t1.terminal_id = t2.terminal_id
        WHERE t1.terminal_type IS DISTINCT FROM t2.terminal_type
           OR t1.terminal_city IS DISTINCT FROM t2.terminal_city
           OR t1.terminal_address IS DISTINCT FROM t2.terminal_address""")

    # update_terminals_hist (incr_loading.py:60-129)
    con.execute("""INSERT INTO dwh_dim_terminals_hist (terminal_id,
        terminal_type, terminal_city, terminal_address, effective_from)
        SELECT terminal_id, terminal_type, terminal_city, terminal_address, ?
        FROM stg_new_terminals""", [date_global])
    con.execute("""UPDATE dwh_dim_terminals_hist
        SET effective_to = ? - INTERVAL '1 day'
        WHERE terminal_id IN (SELECT terminal_id FROM stg_updated_terminals)
        AND effective_to = 'infinity'::date""", [date_global])
    con.execute("""INSERT INTO dwh_dim_terminals_hist (terminal_id,
        terminal_type, terminal_city, terminal_address, effective_from)
        SELECT terminal_id, terminal_type, terminal_city, terminal_address, ?
        FROM stg_updated_terminals""", [date_global])
    con.execute("""UPDATE dwh_dim_terminals_hist
        SET effective_to = ? - INTERVAL '1 day'
        WHERE terminal_id IN (SELECT terminal_id FROM stg_deleted_terminals)
        AND effective_to = 'infinity'::date""", [date_global])
    con.execute("""INSERT INTO dwh_dim_terminals_hist (terminal_id,
        terminal_type, terminal_city, terminal_address, effective_from,
        deleted_flg)
        SELECT terminal_id, terminal_type, terminal_city, terminal_address,
               ?, TRUE FROM stg_deleted_terminals""", [date_global])

    # loading_rep_fraud (loading_rep_fraud.py:14-135), four inserts
    con.execute("""INSERT INTO rep_fraud
        SELECT t.transaction_date, cl.passport_num,
            CONCAT(cl.last_name, ' ', cl.first_name, ' ',
                   COALESCE(cl.patronymic, '')),
            cl.phone, 'blocked or expired passport', ?
        FROM dwh_fact_transactions t
        JOIN cards ca ON t.card_num = ca.card_num
        JOIN accounts ac ON ca.account = ac.account
        JOIN clients cl ON ac.client = cl.client_id
        LEFT JOIN dwh_fact_passport_blacklist b1 ON cl.passport_num = b1.passport
        WHERE ((cl.passport_valid_to < t.transaction_date::date)
           OR (b1.passport IS NOT NULL AND t.transaction_date::date > b1.date))
        AND t.oper_result = 'SUCCESS'""", [date_global])
    con.execute("""INSERT INTO rep_fraud
        SELECT t.transaction_date, cl.passport_num,
            CONCAT(cl.last_name, ' ', cl.first_name, ' ',
                   COALESCE(cl.patronymic, '')),
            cl.phone, 'invalid contract', ?
        FROM dwh_fact_transactions t
        JOIN cards ca ON t.card_num = ca.card_num
        JOIN accounts ac ON ca.account = ac.account
        JOIN clients cl ON ac.client = cl.client_id
        WHERE t.transaction_date::date > ac.valid_to
        AND t.oper_result = 'SUCCESS'""", [date_global])
    con.execute("""INSERT INTO rep_fraud
        SELECT DISTINCT ON (t2.transaction_date, cl.passport_num)
            t2.transaction_date, cl.passport_num,
            CONCAT(cl.last_name, ' ', cl.first_name, ' ',
                   COALESCE(cl.patronymic, '')),
            cl.phone, 'ops in diff cities less one hour', ?
        FROM dwh_fact_transactions t1
        JOIN dwh_fact_transactions t2 ON t1.card_num = t2.card_num
            AND t1.transaction_date < t2.transaction_date
            AND EXTRACT(EPOCH FROM (t2.transaction_date - t1.transaction_date)) < 3600
        JOIN cards ca ON t2.card_num = ca.card_num
        JOIN accounts ac ON ca.account = ac.account
        JOIN clients cl ON ac.client = cl.client_id
        JOIN dwh_dim_terminals_hist th1 ON t1.terminal = th1.terminal_id
            AND t1.transaction_date BETWEEN th1.effective_from AND th1.effective_to
        JOIN dwh_dim_terminals_hist th2 ON t2.terminal = th2.terminal_id
            AND t2.transaction_date BETWEEN th2.effective_from AND th2.effective_to
        WHERE th1.terminal_city <> th2.terminal_city
        AND t2.oper_result = 'SUCCESS'
        AND NOT EXISTS (SELECT 1 FROM rep_fraud rf
            WHERE rf.passport = cl.passport_num
            AND rf.event_dt = t2.transaction_date
            AND rf.event_type = 'ops in diff cities less one hour')""",
        [date_global])
    con.execute("""INSERT INTO rep_fraud
        SELECT DISTINCT ON (t3.transaction_date, cl.passport_num)
            t3.transaction_date, cl.passport_num,
            CONCAT(cl.last_name, ' ', cl.first_name, ' ',
                   COALESCE(cl.patronymic, '')),
            cl.phone, 'amount guessing', ?
        FROM dwh_fact_transactions t1
        JOIN dwh_fact_transactions t2 ON t1.card_num = t2.card_num
            AND t1.transaction_date < t2.transaction_date
            AND EXTRACT(EPOCH FROM (t2.transaction_date - t1.transaction_date)) < 1200
        JOIN dwh_fact_transactions t3 ON t2.card_num = t3.card_num
            AND t2.transaction_date < t3.transaction_date
            AND EXTRACT(EPOCH FROM (t3.transaction_date - t2.transaction_date)) < 1200
        JOIN cards ca ON t3.card_num = ca.card_num
        JOIN accounts ac ON ca.account = ac.account
        JOIN clients cl ON ac.client = cl.client_id
        WHERE t1.oper_result = 'REJECT' AND t2.oper_result = 'REJECT'
            AND t3.oper_result = 'SUCCESS'
            AND t1.amount > t2.amount AND t2.amount > t3.amount
            AND EXTRACT(EPOCH FROM (t3.transaction_date - t1.transaction_date)) < 1200
        AND NOT EXISTS (SELECT 1 FROM rep_fraud rf
            WHERE rf.passport = cl.passport_num
            AND rf.event_dt = t3.transaction_date
            AND rf.event_type = 'amount guessing')""", [date_global])
    return date_global


def diff(con, name, golden_sql, spark_sql):
    g = sorted(map(tuple, con.execute(golden_sql).fetchall()))
    s = sorted(map(tuple, con.execute(spark_sql).fetchall()))
    if g == s:
        print(f"[OK]  {name}: {len(g)} rows")
        return True
    print(f"[FAIL] {name}: golden={len(g)} spark={len(s)}")
    gs, ss = set(g), set(s)
    for r in list(gs - ss)[:4]:
        print(f"   golden-only: {r}")
    for r in list(ss - gs)[:4]:
        print(f"   spark-only:  {r}")
    return False


def main():
    ref_data, wh = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for stmt in DDL.strip().split(";"):
        if stmt.strip():
            con.execute(stmt)
    load_seeds(con, ref_data.rstrip("/").rsplit("/", 1)[0] + "/ddl_dml.sql")
    for d in ["01032021", "02032021", "03032021"]:
        print(f"golden day {d} -> {run_day(con, ref_data, d)}")

    ok = True
    ok &= diff(con, "dwh_fact_transactions",
        "SELECT * FROM dwh_fact_transactions",
        f"SELECT transaction_id, transaction_date, card_num, oper_type, amount, oper_result, terminal FROM '{wh}/dwh_fact_transactions/**/*.parquet'")
    ok &= diff(con, "dwh_fact_passport_blacklist",
        "SELECT * FROM dwh_fact_passport_blacklist",
        f"SELECT date, passport FROM '{wh}/dwh_fact_passport_blacklist/*.parquet'")
    ok &= diff(con, "dwh_dim_terminals_hist",
        """SELECT terminal_id, terminal_type, terminal_city, terminal_address,
           effective_from,
           CASE WHEN effective_to = 'infinity'::date THEN DATE '9999-12-31'
                ELSE effective_to END, deleted_flg
           FROM dwh_dim_terminals_hist""",
        f"SELECT * FROM '{wh}/dwh_dim_terminals_hist/*.parquet'")
    ok &= diff(con, "rep_fraud",
        "SELECT * FROM rep_fraud",
        "SELECT event_dt, passport, fio, phone, event_type, report_dt FROM "
        f"read_parquet('{wh}/rep_fraud/**/*.parquet', hive_partitioning = true)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
