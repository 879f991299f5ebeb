"""Seeded input generator for the four benchmark workloads.

Every table is a pure function of (seed, workload, size): the same seed
writes byte-identical files. Each generator returns a manifest of what it
wrote (row counts, bytes, duplicate shares) so every reported number
carries its input size.

Table shapes follow the engine's test tables (TPC-H-like `orders`,
`customer`, `lineitem`, plus `documents`, `embeddings`, `events`), so the
registry oracles in the engine run unchanged on them. The corpus is made
from the sf0.1 `documents` table itself (a copy lives in `data/`).
"""
import functools
import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# The six HRRP measures of the reference dataset; the ETL keeps the
# heart-failure one, so about one row in six survives its filter.
MEASURES = ["READM-30-AMI-HRRP", "READM-30-CABG-HRRP", "READM-30-COPD-HRRP",
            "READM-30-HF-HRRP", "READM-30-HIP-KNEE-HRRP", "READM-30-PN-HRRP"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# The corpus is built from a copy of the `documents` table of the
# engine's sf0.1 test data (TESTDATA.md): one `lang<TAB>text` line per
# doc_id, in doc_id order; that table's source column is src{doc_id % 20}.
SF01_DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "data", "sf0.1_documents.tsv.gz")

ETL_SIZES = {"orders": 1_000_000, "customers": 50_000}
DASH_SIZES = {"orders": 150_000, "customers": 15_000, "lineitem_orders": 150_000,
              "embeddings": 2_000, "dim": 64}
CORPUS_SIZES = {"base_docs": 2_000, "exact_share": 0.10, "near_share": 0.25}
STREAM_SIZES = {"events_per_file": 250, "dup_share": 0.10, "users": 2_000,
                "file_event_seconds": 1}


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write_parquet(table, path):
    # several row groups per file, so Spark scans a table with one task per core
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1024, -(-table.num_rows // 8)))
    return os.path.getsize(path)


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def orders_customer(seed, n_orders, n_customers):
    """TPC-H-shaped `orders` and `customer` tables; o_orderpriority holds
    an HRRP measure name and o_totalprice an excess-readmission ratio, the
    roles the engine's pipeline analog gives those columns."""
    r = _rng(seed, 1)
    custkey = np.arange(1, n_customers + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": pc.binary_join_element_wise(
            "Customer#", pc.utf8_lpad(pa.array(custkey).cast(pa.string()), 9, "0"), ""),
        "c_nationkey": pa.array(r.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_customers)]),
    })
    day0 = np.datetime64("2021-01-01", "us")
    days = r.integers(0, 4 * 365, n_orders).astype("timedelta64[D]").astype("timedelta64[us]")
    orders = pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": r.integers(1, n_customers + 1, n_orders, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(r.uniform(0.55, 1.65, n_orders), 4),
        "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(MEASURES)[r.integers(0, 6, n_orders)]),
    })
    return orders, customer


def hospital_csvs(orders, customer):
    """The raw readmissions / hospital_info CSV tables, built from orders
    and customer by the mapping of the engine's pipeline analog (Title
    Case headers, "N/A" and "Too Few to Report" injections, null states)."""
    okey = orders["o_orderkey"].to_numpy()
    ckey = customer["c_custkey"].to_numpy()
    nation = customer["c_nationkey"].to_numpy()

    def s(a):
        return pc.cast(a if isinstance(a, (pa.Array, pa.ChunkedArray)) else pa.array(a), pa.string())

    def pad6(a):
        return pc.utf8_lpad(s(a), 6, "0")

    readm = pa.table({
        "Facility ID": pad6(orders["o_custkey"]),
        "Facility Name": pc.binary_join_element_wise("ord_", s(okey), ""),
        "State": orders["o_orderstatus"],
        "Measure Name": orders["o_orderpriority"],
        "Number of Discharges": pc.if_else(pa.array(okey % 7 == 0), "N/A", s(okey % 50)),
        "Excess Readmission Ratio": pc.if_else(
            pa.array(okey % 11 == 0), "Too Few to Report", s(orders["o_totalprice"])),
        "Start Date": s(pc.cast(orders["o_orderdate"], pa.date32())),
    })
    hosp = pa.table({
        "Facility ID": pad6(ckey),
        "Facility Name": customer["c_name"],
        "City/Town": pc.binary_join_element_wise("city_", s(nation), ""),
        "State": pc.if_else(pa.array(ckey % 13 == 0), pa.scalar(None, pa.string()),
                            pc.binary_join_element_wise("S", s(nation % 10), "")),
        "Hospital Type": customer["c_mktsegment"],
        "Hospital Ownership": pc.binary_join_element_wise("own", s(ckey % 3), ""),
        "Phone Number": pa.array(["555-0100"] * customer.num_rows),
    })
    return readm, hosp


def _write_csv_parts(table, out_dir, parts):
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // parts)
    opts = pacsv.WriteOptions(include_header=True, quoting_style="needed")
    for i in range(parts):
        pacsv.write_csv(table.slice(i * step, step),
                        os.path.join(out_dir, f"part-{i:02d}.csv"), opts)
    return _dir_bytes(out_dir)


def _etl_inputs(seed, out, n_orders, n_customers, parts):
    orders, customer = orders_customer(seed, n_orders, n_customers)
    tables = os.path.join(out, "tables")
    os.makedirs(tables, exist_ok=True)
    _write_parquet(orders, os.path.join(tables, "orders.parquet"))
    _write_parquet(customer, os.path.join(tables, "customer.parquet"))
    readm, hosp = hospital_csvs(orders, customer)
    rb = _write_csv_parts(readm, os.path.join(out, "readmissions"), parts)
    hb = _write_csv_parts(hosp, os.path.join(out, "hospital_info"), 1)
    return {
        "readmissions_rows": readm.num_rows, "hospital_rows": hosp.num_rows,
        "csv_rows": readm.num_rows + hosp.num_rows, "csv_bytes": rb + hb,
        "hf_rows": int(pc.sum(pc.equal(readm["Measure Name"], "READM-30-HF-HRRP")).as_py()),
    }


def etl_batch(seed, out):
    return _etl_inputs(seed, out, ETL_SIZES["orders"], ETL_SIZES["customers"], 4)


def lineitem(seed, n_orders):
    r = _rng(seed, 2)
    per = r.integers(1, 8, n_orders)
    n = int(per.sum())
    okey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = r.integers(1, 51, n).astype(np.float64)
    day0 = np.datetime64("2021-01-01", "us")
    days = r.integers(0, 4 * 365, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(1, 20_001, n, dtype=np.int64),
        "l_suppkey": r.integers(1, 1_001, n, dtype=np.int64),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
    })


def embeddings(seed, n, dim):
    """Unit-scale float32 vectors around 16 cluster centres."""
    r = _rng(seed, 3)
    centres = r.normal(0.0, 1.0, (16, dim))
    label = r.integers(0, 16, n)
    vec = (centres[label] + r.normal(0.0, 0.6, (n, dim))).astype(np.float32) / np.sqrt(dim)
    flat = pa.array(vec.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def dashboard_mix(seed, out):
    sz = DASH_SIZES
    m = _etl_inputs(seed, out, sz["orders"], sz["customers"], 1)
    tables = os.path.join(out, "tables")
    li = lineitem(seed, sz["lineitem_orders"])
    emb = embeddings(seed, sz["embeddings"], sz["dim"])
    m["lineitem_rows"] = li.num_rows
    m["embeddings_rows"] = emb.num_rows
    m["table_bytes"] = (_write_parquet(li, os.path.join(tables, "lineitem.parquet"))
                        + _write_parquet(emb, os.path.join(tables, "embeddings.parquet")))
    return m


@functools.lru_cache(maxsize=1)
def sf01_documents():
    """(langs, token arrays, sources) of the sf0.1 documents, by doc_id."""
    with gzip.open(SF01_DOCUMENTS, "rt", encoding="utf-8") as f:
        rows = [line.rstrip("\n").split("\t", 1) for line in f]
    return ([lang for lang, _ in rows], [np.array(text.split()) for _, text in rows],
            [f"src{i % 20}" for i in range(len(rows))])


def documents(seed, base_docs, exact_share, near_share):
    """A seeded sample of the sf0.1 documents plus exact copies and
    near-duplicates of them.

    A near-duplicate replaces one token in every ~20 of its source with a
    word of the sf0.1 vocabulary, and a fifth of near-duplicates derive
    from earlier near-duplicates, so near-duplicate clusters include
    chains that take connected components more than one round. The
    shares are of the final corpus and count only the planted copies;
    the sf0.1 table's own near-duplicates (about one document in 20)
    come on top.
    """
    r = _rng(seed, 4)
    sf_langs, sf_words, sf_sources = sf01_documents()
    vocab = np.array(sorted({w for ws in sf_words for w in ws}))
    n_total = int(round(base_docs / (1.0 - exact_share - near_share)))
    n_exact = int(round(n_total * exact_share))
    n_near = n_total - base_docs - n_exact
    picked = r.choice(len(sf_words), base_docs, replace=False)
    texts = [sf_words[i] for i in picked]
    sources = [sf_sources[i] for i in picked]
    doc_lang = [sf_langs[i] for i in picked]
    for _ in range(n_near):
        pool = len(texts) if r.random() < 0.2 else base_docs
        src = int(r.integers(0, pool))
        words = texts[src].copy()
        edits = max(1, len(words) // 20)
        pos = r.integers(0, len(words), edits)
        words[pos] = vocab[r.integers(0, len(vocab), edits)]
        texts.append(words)
        sources.append(sources[src])
        doc_lang.append(doc_lang[src])
    for _ in range(n_exact):
        src = int(r.integers(0, len(texts)))
        texts.append(texts[src])
        sources.append(sources[src])
        doc_lang.append(doc_lang[src])
    text = [" ".join(w) for w in texts]
    perm = r.permutation(len(text))
    text = [text[i] for i in perm]
    table = pa.table({
        "doc_id": np.arange(len(text), dtype=np.int64),
        "text": pa.array(text),
        "lang": pa.array([doc_lang[i] for i in perm]),
        "source": pa.array([sources[i] for i in perm]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    return table, {"docs": len(text), "base_docs": base_docs, "sf01_docs": len(sf_words),
                   "exact_dup_docs": n_exact, "near_dup_docs": n_near,
                   "exact_share": n_exact / len(text), "near_share": n_near / len(text)}


def corpus_prep(seed, out):
    sz = CORPUS_SIZES
    table, m = documents(seed, sz["base_docs"], sz["exact_share"], sz["near_share"])
    d = os.path.join(out, "tables")
    os.makedirs(d, exist_ok=True)
    m["bytes"] = _write_parquet(table, os.path.join(d, "documents.parquet"))
    return m


EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()), ("value", pa.float64())])


def event_files(seed, n_files):
    """`n_files` event batches plus one watermark sentinel. File i holds
    events from second i of event time; a share of rows are full-row
    copies of events from the same or the two previous files."""
    sz = STREAM_SIZES
    r = _rng(seed, 5)
    per, users, span = sz["events_per_file"], sz["users"], sz["file_event_seconds"]
    n_dup = int(round(per * sz["dup_share"]))
    n_new = per - n_dup
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    files, history, next_id = [], [], 0
    for i in range(n_files):
        ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        offs = np.sort(r.integers(0, span * 1_000_000, n_new)).astype("timedelta64[us]")
        fresh = {
            "event_id": ids,
            "ts": t0 + np.timedelta64(i * span, "s") + offs,
            "user_id": r.integers(1, users + 1, n_new, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_new)],
            "value": np.round(r.uniform(0.0, 200.0, n_new), 2),
        }
        history = (history + [fresh])[-3:]
        pool = {k: np.concatenate([h[k] for h in history]) for k in fresh}
        pick = r.integers(0, len(pool["event_id"]), n_dup)
        cols = {k: np.concatenate([fresh[k], pool[k][pick]]) for k in fresh}
        files.append(pa.table({
            "event_id": cols["event_id"],
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": cols["user_id"], "event_type": pa.array(cols["event_type"]),
            "value": cols["value"]}, schema=EVENT_SCHEMA))
    sentinel = pa.table({
        "event_id": [next_id], "ts": pa.array(np.array([t0 + np.timedelta64(1, "D")]), pa.timestamp("us", tz="UTC")),
        "user_id": [1], "event_type": ["view"], "value": [0.0]}, schema=EVENT_SCHEMA)
    return files, sentinel


def event_stream(seed, out, n_files):
    files, sentinel = event_files(seed, n_files)
    staged = os.path.join(out, "staged")
    os.makedirs(staged, exist_ok=True)
    total = 0
    for i, t in enumerate(files):
        total += _write_parquet(t, os.path.join(staged, f"ev-{i:05d}.parquet"))
    _write_parquet(sentinel, os.path.join(out, "sentinel.parquet"))
    users = np.arange(1, STREAM_SIZES["users"] + 1, dtype=np.int64)
    keep = users[users % 10 != 0]
    d = os.path.join(out, "tables")
    os.makedirs(d, exist_ok=True)
    _write_parquet(pa.table({
        "user_id": keep,
        "segment": pa.array([f"seg{u % 7}" for u in keep])}), os.path.join(d, "users.parquet"))
    per = STREAM_SIZES["events_per_file"]
    return {"files": n_files, "events_per_file": per, "events": per * n_files,
            "dup_share": STREAM_SIZES["dup_share"], "dim_users": int(keep.size), "bytes": total}


def generate(workload, seed, out, n_files=0):
    os.makedirs(out, exist_ok=True)
    if workload == "etl_batch":
        return etl_batch(seed, out)
    if workload == "dashboard_mix":
        return dashboard_mix(seed, out)
    if workload == "corpus_prep":
        return corpus_prep(seed, out)
    if workload == "event_stream":
        return event_stream(seed, out, n_files)
    raise ValueError(f"unknown workload {workload}")
