"""Output checks of the graft benchmark, run after the timed region.

Each check is a dict {"name", "ok", "detail"}; a failed check counts as a
failed operation in the benchmark's result.

* Queries: every query of the workload is compared with its
  `SparkEntry.oracleSql` in DuckDB by the repository's own gate,
  tools/check.py (same normalization: columns sorted by name, rows
  sorted, exact cells); a query without an oracle must return rows.
* Incremental ETL, for every repetition: the consolidated snapshot equals
  a keep-newest computed here from the generated raw rows with the
  reference's ROW_NUMBER() OVER (PARTITION BY key ORDER BY ...) form; the
  KO rows per (field, rule) equal the generator's injected counts; the
  manifest watermark is the last batch.
"""
import glob
import json
import os
import re
import subprocess
import sys

import duckdb


CUSTOMER_COLUMNS = {
    "record_id": "BIGINT", "customer_id": "BIGINT", "name": "VARCHAR", "email": "VARCHAR",
    "age": "INTEGER", "country": "VARCHAR", "balance": "DOUBLE", "segment": "VARCHAR",
    "updated_at": "TIMESTAMP"}


def queries(run: str, data: str, doc: dict) -> list:
    out = os.path.join(run, "check")
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", "check.py"), os.path.join(data, "base"),
         out], capture_output=True, text=True)
    results = []
    for line in proc.stdout.splitlines():
        m = re.match(r"(OK|FAIL) +(\S+?):? (.*)", line)
        if m:
            results.append({"name": m.group(2), "ok": m.group(1) == "OK", "detail": m.group(3)})
    expected = set(doc["setup"]["order"])
    seen = {r["name"] for r in results}
    results += [{"name": q, "ok": False, "detail": "not checked"} for q in sorted(expected - seen)]
    if proc.returncode not in (0, 1) or not results:
        results.append({"name": "tools/check.py", "ok": False, "detail": proc.stderr[-500:]})
    return results


def etl(run: str, data: str, cfg: dict, doc: dict) -> list:
    with open(os.path.join(data, "truth.json")) as fh:
        truth = json.load(fh)
    dates = [b["date"] for b in truth["batches"]]
    run_ids = ["backfill"] * cfg["backfill"] + [f"trickle-{i}" for i in range(cfg["trickle"])]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET enable_progress_bar=false")
    landing = os.path.join(data, "landing")
    cols = ", ".join(f"'{k}': '{v}'" for k, v in CUSTOMER_COLUMNS.items())
    con.execute(
        f"CREATE TABLE raw AS SELECT *, regexp_extract(filename, 'batch-([0-9-]+)', 1) AS batch_id "
        f"FROM read_json('{landing}/batch-*/customers/*.json', format='newline_delimited', "
        f"columns={{{cols}}}, filename=true)")
    con.execute("CREATE TABLE ko_ids AS SELECT unnest(?::BIGINT[]) AS record_id",
                [truth["ko_record_ids"]])
    con.execute("CREATE TABLE runs (batch_id VARCHAR, run_id VARCHAR)")
    con.executemany("INSERT INTO runs VALUES (?, ?)", list(zip(dates, run_ids)))
    con.execute("""
        CREATE TABLE expected AS
        SELECT * EXCLUDE (rn) FROM (
          SELECT r.* EXCLUDE (filename), CAST(r.batch_id AS DATE) AS batch_date, u.run_id,
                 ROW_NUMBER() OVER (PARTITION BY r.customer_id
                                    ORDER BY r.updated_at DESC, r.record_id DESC) AS rn
          FROM raw r JOIN runs u USING (batch_id)
          WHERE r.record_id NOT IN (SELECT record_id FROM ko_ids))
        WHERE rn = 1""")
    order = ", ".join(list(CUSTOMER_COLUMNS) + ["batch_date", "batch_id", "run_id"])

    results = []
    for tag in [f"rep{r['index']}" for r in doc["reps"]]:
        out = os.path.join(run, "etl", tag)
        try:
            actual = f"read_parquet('{out}/out/customers_consolidated/*.parquet')"
            n_exp, n_act = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                            for t in ("expected", actual))
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {order} FROM expected EXCEPT ALL "
                f"SELECT {order} FROM {actual})) + (SELECT count(*) FROM (SELECT {order} FROM "
                f"{actual} EXCEPT ALL SELECT {order} FROM expected))").fetchone()[0]
            results.append({"name": f"{tag}/consolidated", "ok": diff == 0 and n_exp == n_act,
                            "detail": f"{n_act} rows, expected {n_exp}, {diff} differing"})
        except duckdb.Error as e:
            results.append({"name": f"{tag}/consolidated", "ok": False, "detail": str(e)[:300]})

        counts = {}
        for flow in ("customers", "contacts"):
            files = glob.glob(f"{out}/out/{flow}_ko/batch-*/*.parquet")
            if not files:
                continue
            rows = con.execute(
                "SELECT e.key, l, count(*) FROM (SELECT unnest(map_entries(validation_errors)) e "
                "FROM read_parquet(?)), unnest(e.value) t(l) GROUP BY ALL", [files]).fetchall()
            counts.update({f"{flow}|{f}|{label}": n for f, label, n in rows})
        want = {k: v for k, v in truth["ko_counts"].items() if v}
        results.append({"name": f"{tag}/ko_per_rule", "ok": counts == want,
                        "detail": json.dumps(counts if counts != want else {"rules": len(want)})})

        try:
            with open(os.path.join(out, "manifest.json")) as fh:
                mark = json.load(fh).get("last_processed_batch")
        except (OSError, ValueError) as e:
            mark = str(e)
        results.append({"name": f"{tag}/watermark", "ok": mark == dates[-1],
                        "detail": f"{mark}, expected {dates[-1]}"})
    return results
