"""Seeded input generators for the graft benchmark.

Everything here is a pure function of (seed, size): the same seed writes
byte-identical files, which `digest` proves. The program under test only
ever sees the files; the ground truth the output checks need (which rows
carry an injected rule failure) is written beside them, never inside the
directories the program reads.

Two kinds of input:

* `sf_tables` - the ten tables graft's queries read (`graft.Tables.names`),
  shaped like the repository's synthetic TPC-H-ish testdata (uniform keys,
  the same value domains, a 30-word document vocabulary with a few exact
  and near duplicates) at any scale factor. One parquet file per table.
* `etl_batches` - daily `batch-YYYY-MM-DD` JSON-lines inputs for the
  metadata-driven incremental pipeline: customer rows whose keys overlap
  across batches, with injected failures for every validation rule, plus
  a small contacts feed some of whose batches omit a declared field.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _uniform_ts(rng, n, start: dt.datetime, days: int, whole_days: bool):
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return base + off


def sf_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten tables at scale factor `sf`; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = int(15_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)}),
    }
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(800, 500_000, n_ord), f64),
        "o_orderdate": pa.array(_uniform_ts(rng, n_ord, dt.datetime(1995, 1, 1), 2404, True)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_uniform_ts(rng, n_li, dt.datetime(1995, 1, 2), 2498, True))})
    ev_ts = np.sort(_uniform_ts(rng, n_ev, dt.datetime(2024, 1, 1), 30, False))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, n_ev).clip(0, 560.21), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})

    # documents: random word sequences; ~5% near duplicates (an earlier
    # text plus a marker word) and ~0.2% exact duplicates, the two
    # shapes the dedup stages look for
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    kind = rng.random(n_docs)
    src = rng.integers(0, max(1, n_docs), n_docs)
    for i in range(1, n_docs):
        j = int(src[i] % i)
        if kind[i] < 0.002:
            texts[i] = texts[j]
        elif kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    # embeddings: unit vectors around ten label centres
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0, 1, (10, 64))
    vec = centres[labels] + rng.normal(0, 1.2, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})

    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# Validation rules of the committed metadata (perfbench/etl_metadata.json),
# as (field, error label). The generator injects failures for each and
# counts them; the KO sinks must report exactly these counts.
CUSTOMER_RULES = [("customer_id", "notNull"), ("name", "notEmpty"),
                  ("email", "regex: ^[a-z0-9._]+@[a-z0-9]+[.][a-z]{2,}$"),
                  ("age", "minValue: 18"), ("country", "notNull")]
CONTACT_RULES = [("phone", "notNull"), ("phone", "fieldMissing")]
FIRST_BATCH = dt.date(2024, 3, 1)


def batch_dates(n: int) -> list:
    return [(FIRST_BATCH + dt.timedelta(days=i)).isoformat() for i in range(n)]


def etl_batches(out_dir: str, seed: int, n_batches: int, rows: int,
                fail_rate: float = 0.03) -> dict:
    """Write `n_batches` daily batches of `rows` customer rows (and rows/8
    contact rows) under out_dir/landing; return the ground truth."""
    rng = np.random.default_rng(seed)
    landing = os.path.join(out_dir, "landing")
    truth = {"batches": [], "ko_record_ids": [], "ko_counts": {}}
    counts = {f"customers|{f}|{r}": 0 for f, r in CUSTOMER_RULES}
    counts.update({f"contacts|{f}|{r}": 0 for f, r in CONTACT_RULES})
    next_key, ko = 0, []
    # contacts omit the declared `phone` field in every third batch
    # (fieldMissing for every row of it); the offset moves with the seed
    omit_offset = int(rng.integers(0, 3))
    for b, date in enumerate(batch_dates(n_batches)):
        bdir = os.path.join(landing, f"batch-{date}")
        os.makedirs(os.path.join(bdir, "customers"), exist_ok=True)
        os.makedirs(os.path.join(bdir, "contacts"), exist_ok=True)
        # about a third of the rows update a key seen before
        update = rng.random(rows) < (1 / 3 if next_key else 0)
        keys = np.where(update, rng.integers(0, max(next_key, 1), rows), 0)
        fresh = np.flatnonzero(~update)
        keys[fresh] = next_key + np.arange(len(fresh))
        next_key += len(fresh)
        # a key repeated inside one batch shares its first row's timestamp
        # half the time: only the tie_breaker orders those rows
        secs = rng.integers(0, 86_400, rows)
        _, first, inverse = np.unique(keys, return_index=True, return_inverse=True)
        first = first[inverse]
        tie = (first != np.arange(rows)) & (rng.random(rows) < 0.5)
        secs = np.where(tie, secs[first], secs)
        fails = rng.random((rows, len(CUSTOMER_RULES))) < fail_rate
        # strings are built as pandas object Series: np.char is far slower
        key_s = pd.Series(keys).astype(str)
        record = b * rows + np.arange(rows)
        frame = pd.DataFrame({
            "record_id": record,
            "customer_id": pd.array(np.where(fails[:, 0], None, keys), dtype="Int64"),
            "name": np.where(fails[:, 1], np.where(np.arange(rows) % 2 == 1, "", "  "),
                             "Customer " + key_s),
            "email": np.where(fails[:, 2], "user" + key_s + ".example.com",
                              "user" + key_s + "@mail" + pd.Series(keys % 7).astype(str) + ".com"),
            "age": np.where(fails[:, 3], rng.integers(0, 18, rows), rng.integers(18, 90, rows)),
            "country": np.where(fails[:, 4], None,
                                "C" + pd.Series(rng.integers(0, 25, rows)).astype(str).str.zfill(2)),
            "balance": np.round(rng.uniform(-500, 20_000, rows), 2),
            "segment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), rows)],
            "updated_at": (np.datetime64(date, "s") + secs.astype("timedelta64[s]")).astype(str),
        })
        frame.to_json(os.path.join(bdir, "customers", "part-00000.json"), orient="records", lines=True)
        ko += record[fails.any(axis=1)].tolist()
        for (field, label), n in zip(CUSTOMER_RULES, fails.sum(axis=0)):
            counts[f"customers|{field}|{label}"] += int(n)

        n_contacts = max(1, rows // 8)
        cust = rng.integers(0, next_key, n_contacts)
        null_phone = rng.random(n_contacts) < fail_rate
        contacts = pd.DataFrame({
            "contact_id": b * n_contacts + np.arange(n_contacts),
            "customer_id": cust,
            "channel": np.array(["email", "phone", "sms"])[np.arange(n_contacts) % 3]})
        if b % 3 == omit_offset:
            counts["contacts|phone|fieldMissing"] += n_contacts
        else:
            contacts["phone"] = np.where(null_phone, None,
                                         "+34" + pd.Series(600000000 + cust % 99999999).astype(str))
            counts["contacts|phone|notNull"] += int(null_phone.sum())
        contacts.to_json(os.path.join(bdir, "contacts", "part-00000.json"), orient="records", lines=True)
        truth["batches"].append({"date": date, "rows": rows, "contacts": n_contacts})
    truth["ko_record_ids"] = ko
    truth["ko_counts"] = counts
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


def digest(path: str) -> str:
    """sha256 over every file under `path`: relative name, then bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
