"""Seeded input generator for the benchmark workloads.

Every table is a pure function of the seed: the same seed gives
byte-identical inputs. Shapes follow the repository's testdata (TESTDATA.md:
a TPC-H-ish star schema, an `events` stream and a `documents` corpus), so
every query the workloads run has the columns, types and value ranges it
expects. Parquet files are single-file, single-row-group,
like the testdata. Nothing here reads outside the output directory.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes come from the repository's testdata (TESTDATA.md, row counts of the
# seed-42 tables) and from the reference (BASELINE.md); DESIGN.md says which
# workload departs from the bench scale (sf0.1) and the measured reason.

# query_warm: the sf0.001 tables, the repository's smoke-test scale
CUSTOMERS = 150
ORDERS = 1500  # 1-7 lines each: ~6,000 lineitem rows, as at sf0.001
EVENTS = 1000
EVENT_USERS = 15
EMBEDDINGS = 500
EMBED_DIM = 64

# monthly report: one export row per sf0.01 `events` row (10,000), spread
# over the reference's default 6-month window (BASELINE.md), 49 lenders
# (the reference's fan-out), 400 scenarios (EtlQueries.synthView's
# event_id % 400) and a seeded ~0.5 % of malformed `results` rows
LENDERS = 49
EXPORT_ROWS = 10_000
EXPORT_SCENARIOS = 400
POISON_FRAC = 0.005
REPORT_START, REPORT_END = "2024-01-01", "2024-07-01"

# maintained index: the repository's ingest-window convention at sf0.01
# (TrainQueries.PackSnapshotId/PackBatchEnd): a corpus of doc_id < 400,
# then held-out batches of 100 documents, appended one per cycle
INDEX_CORPUS = 400
INDEX_BATCH = 100
INDEX_BATCHES = 40

# lineage: the sf0.01 `documents` corpus (500) and its doc_id < 460 slice,
# the repository's own lineage fixture (TrainQueries.PipeAsofSliceEnd)
LINEAGE_DOCS = 500
LINEAGE_SLICE = 460

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=len(table) + 1,
                   compression="snappy")


def _epoch_us(iso):
    d = dt.datetime.fromisoformat(iso).replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000


def nation():
    keys = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": keys,
                     "n_name": [f"NATION_{k}" for k in keys],
                     "n_regionkey": (keys % 5).astype(np.int32)})


def customer(rng):
    keys = np.arange(CUSTOMERS, dtype=np.int64)
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": segs[rng.integers(0, 5, CUSTOMERS)]})


def orders_lineitem(rng):
    day_us = 86_400_000_000
    d0 = _epoch_us("1995-01-01")
    days = rng.integers(0, 2404, ORDERS)  # through 2001-08-01
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    orders = pa.table({
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, ORDERS), 2),
        "o_orderdate": _ts(d0 + days * day_us),
        "o_orderpriority": prios[rng.integers(0, 5, ORDERS)]})
    # 1..7 lines per order, line numbers unique within an order
    n_lines = rng.integers(1, 8, ORDERS)
    okey = np.repeat(np.arange(ORDERS, dtype=np.int64), n_lines)
    n = len(okey)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    ship = d0 + (np.repeat(days, n_lines) + rng.integers(1, 122, n)) * day_us
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(ship)})
    return orders, lineitem


def events(rng):
    # strictly increasing, unique microsecond timestamps over January 2024
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // EVENTS, EVENTS)
    ts = _epoch_us("2024-01-01") + np.cumsum(gaps)
    return pa.table({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, EVENT_USERS, EVENTS).astype(np.int64),
        "event_type": np.array(["signup", "click", "error", "view",
                                "purchase"])[rng.integers(0, 5, EVENTS)],
        "value": np.round(rng.uniform(0, 560, EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]})


def embeddings(rng):
    centroids = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, EMBEDDINGS)
    v = centroids[label] + rng.normal(scale=1.5, size=(EMBEDDINGS, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def documents(rng, n):
    """Random-word documents over a 30-word vocabulary; 5% are exact
    copies of another document with a trailing ` dup` (the testdata's
    near-duplicate shape)."""
    ids = np.arange(n, dtype=np.int64)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _results(rng, lenders, n):
    """n JSON `results` arrays of 2-5 elements each, one element per
    lender, in the shape ExportsEtl.ResultsType parses."""
    flags = ("lenderPassedServicing", "lenderExportWinner",
             "lenderFailedServicing", "lenderFailedInScope",
             "lenderFailedOutOfScope")
    tf = np.array(["false", "true"])
    sizes = rng.integers(2, 6, n)
    m = int(sizes.sum())
    service = tf[rng.integers(0, 2, m)]
    cap = np.where(rng.random(m) < 0.2, "null",
                   rng.integers(100, 9900, m).astype(str))
    perf = tf[rng.integers(0, 2, (m, len(flags)))]
    has_perf = rng.random(m) < 0.85
    elems = [
        f'{{"lenderName": "{{}}", "doesService": "{service[i]}", '
        f'"maxBorrowingCapacity": "{cap[i]}"' +
        (', "performance": {' + ", ".join(
            f'"{k}": "{v}"' for k, v in zip(flags, perf[i])) + "}"
         if has_perf[i] else "") + "}"
        for i in range(m)]
    out, names, j = [], [], 0
    for k in sizes:
        picks = [lenders[p] for p in rng.choice(len(lenders), k, replace=False)]
        out.append("[" + ", ".join(elems[j + t].replace("{}", picks[t], 1)
                                   for t in range(k)) + "]")
        names.append(picks)
        j += k
    return out, names


def exports(rng):
    """The exports-deals view ReportJob consumes: one row per export
    event, ~49 lenders, a JSON `results` array per row, and a seeded
    ~0.5% of rows whose `results` is malformed JSON (the quarantine
    path). Times are unique, so the per-scenario latest record is
    deterministic."""
    n = EXPORT_ROWS
    lenders = [f"Lender{i:02d}" for i in range(1, LENDERS + 1)]
    start = _epoch_us(REPORT_START) - 5 * 86_400_000_000
    # five days past both window ends, so the window filter drops rows
    span = (_epoch_us(REPORT_END) - _epoch_us(REPORT_START)
            + 10 * 86_400_000_000)
    ts = start + np.sort(rng.choice(span, n, replace=False))
    k = rng.integers(0, 1000, n)
    results, names = _results(rng, lenders, n)
    r = rng.random(n)
    other = rng.integers(0, LENDERS, n)
    exported = [None if r[i] < 0.08 else
                names[i][0] if r[i] < 0.8 else lenders[other[i]]
                for i in range(n)]
    poison = np.flatnonzero(rng.random(n) < POISON_FRAC)
    for i in poison:
        results[i] = results[i][: len(results[i]) // 2]
    table = pa.table({
        "time": _ts(ts),
        "scenarioId": [f"S{s}" for s in rng.integers(0, EXPORT_SCENARIOS, n)],
        "results": results,
        "exportedLender": exported,
        "primaryIncome": np.array(["PAYG", "SelfEmployed"])[k % 2],
        "rateType": np.where(k % 2 == 0, "Fixed", "Variable"),
        "loanPurpose": np.array(["Purchase", "Refinance", "Investment"])[k % 3],
        "totalProposedLoanAmount": np.round(rng.uniform(1e5, 2e6, n)),
        "applicantCount": (k % 5 + 1).astype(np.int64),
        "householdCount": (k % 3 + 1).astype(np.int64),
        "transactionType": np.where(k % 2 == 0, "Purchase", "Refinance"),
        "dependantsCount": (k % 4).astype(np.int64),
        "lvr": (k % 9) / 10.0,
        "lvrBucket": [f"{(x % 9) * 10}-{(x % 9) * 10 + 10}" for x in k],
        "applicantsWithHecs": (k % 2).astype(np.int64),
        "paygIncome": (k * 7 % 1000).astype(np.float64),
        "weeklyRentalIncome": (k * 3 % 500).astype(np.float64),
        "selfEmployedIncome": (k * 11 % 2000).astype(np.float64),
        "isValidExport": rng.random(n) >= 0.09,
        "_tie": np.arange(n, dtype=np.int64)})
    return table, [int(i) for i in poison]


def generate(workload, seed, out):
    """Write the inputs of `workload` under `out`; returns the metadata
    the JVM side and the output checks need."""
    rng = np.random.default_rng(seed)
    meta = {"seed": seed, "workload": workload}
    if workload == "monthly_report":
        table, poison = exports(rng)
        _write(table, f"{out}/exports.parquet")
        meta.update(sf="0.01", rows=len(table), lenders=LENDERS,
                    poison_ids=poison, start=REPORT_START, end=REPORT_END)
    elif workload == "query_warm":
        sf = f"{out}/sf"
        orders, lineitem = orders_lineitem(rng)
        for name, t in [("nation", nation()),
                        ("customer", customer(rng)), ("orders", orders),
                        ("lineitem", lineitem), ("events", events(rng)),
                        ("embeddings", embeddings(rng))]:
            _write(t, f"{sf}/{name}.parquet")
        meta.update(sf="0.001", sf_dir=sf, customers=CUSTOMERS, orders=ORDERS,
                    lineitems=len(lineitem), events=EVENTS,
                    embeddings=EMBEDDINGS)
    elif workload == "index_maintain":
        n = INDEX_CORPUS + INDEX_BATCH * INDEX_BATCHES
        _write(documents(rng, n), f"{out}/docs.parquet")
        meta.update(sf="0.01", corpus=INDEX_CORPUS, batch=INDEX_BATCH,
                    batches=INDEX_BATCHES)
    elif workload == "lineage_build":
        # slice A as its own table dir, so every corpus-global fate signal
        # computes over exactly that slice; the full dir is the frozen
        # vocabulary of both runs
        docs = documents(rng, LINEAGE_DOCS)
        _write(docs, f"{out}/full/documents.parquet")
        _write(docs.slice(0, LINEAGE_SLICE), f"{out}/sliceA/documents.parquet")
        meta.update(sf="0.01", full_dir=f"{out}/full", slice_dir=f"{out}/sliceA",
                    docs=LINEAGE_DOCS, slice=LINEAGE_SLICE)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(meta, f)
    return meta
