"""Seeded input generator for the benchmark.

Every input the engine sees comes from here: TPC-H-shaped `lineitem`
tables (the table `graft.etl.TaxiGen` derives taxi trips from), the
`documents` and `embeddings` tables the training-data lanes read, and
for `taxi_ingest_dml` the month-drop and merge-insert slices plus the
seeded operation schedule. The same seed gives byte-identical files; a
different seed gives different files. `record()` states rows, bytes,
files and a content hash for every input, and is printed with every
result.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# taxi_ingest_dml: the reference queries run on a MergeTree-analogue
# trips table built from OLAP_ROWS lineitem rows over seven years; the
# write path runs on a snapshot table that starts from 12 months of
# trips. Each month drop is one new month after them, loaded through the
# CSV path; each MERGE inserts a slice into one existing month. Every
# slice has its own order-key range, so trip ids stay unique.
OLAP_ROWS = 150_000
DML_BASE_ROWS = 120_000
DML_BASE_MONTHS = 12
DROPS = 24  # schedule rounds; a run uses one or two
DROP_ROWS = 4_000
MERGE_INSERT_ROWS = 400
# pipeline_iter: the lane tables at sf0.1 shape.
LANE_LINEITEM_ROWS = 600_000
DOCUMENTS = 5_000
EMBEDDINGS = 2_000

SHIP_START = datetime.date(1995, 1, 1)
SHIP_DAYS = 7 * 365  # 1995-01 .. 2001-12
DML_START = datetime.date(1999, 1, 1)
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _lineitem(rng, n, order_base, day_lo=0, day_span=SHIP_DAYS):
    """TPC-H-shaped lineitem rows in random row order: 1-7 lines per
    order, so the taxi trip id `l_orderkey * 10 + l_linenumber` is
    unique. Order keys run from `order_base`; returns the table and the
    next unused order key."""
    lines = rng.integers(1, 8, n // 4 + 8)
    while lines.sum() < n:
        lines = np.r_[lines, rng.integers(1, 8, n // 4 + 8)]
    n_orders = int(np.searchsorted(np.cumsum(lines), n)) + 1
    lines = lines[:n_orders]
    orderkey = order_base + np.repeat(np.arange(n_orders, dtype=np.int64),
                                      lines)[:n]
    starts = np.repeat(np.cumsum(lines) - lines, lines)[:n]
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    perm = rng.permutation(n)
    orderkey, linenumber = orderkey[perm], linenumber[perm]
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = np.round(rng.uniform(900.0, 2100.0, n), 2)
    price = np.round(qty * unit, 2)
    days = day_lo + rng.integers(0, day_span, n)
    epoch = np.datetime64(SHIP_START.isoformat(), "us")
    ship = epoch + (days.astype(np.int64) * 86_400_000_000).astype(
        "timedelta64[us]")
    flags = np.array(["A", "N", "R"])
    status = np.array(["F", "O"])
    table = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array(status[rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    return table, order_base + n_orders


def _documents(rng, n):
    lens = rng.integers(8, 90, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)],
                         pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, clusters=10):
    centers = rng.normal(0.0, 0.12, (clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = (centers[label] + rng.normal(0.0, 0.03, (n, dim))).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _write_sharded(table, path, shards=8):
    """A table as a directory of `shards` files, the way the reference's
    export splits its dump, so the engine's scan runs in parallel."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // shards)
    for i in range(shards):
        _write(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet")


def _month(start, i):
    y, m = divmod(start.year * 12 + start.month - 1 + i, 12)
    return datetime.date(y, m + 1, 1)


def _days(d):
    return (d - SHIP_START).days


def _dml_schedule(rng):
    """The taxi_ingest_dml operation sequence, consumed in order. Every
    parameter is drawn here, so the engine and the DuckDB replay run
    exactly the same statements."""
    months = [_month(DML_START, i).strftime("%Y-%m")
              for i in range(DML_BASE_MONTHS)]
    span = _days(_month(DML_START, DML_BASE_MONTHS)) - _days(DML_START)
    steps = []
    for k in range(DROPS):
        updated, merged, *compacted = (
            months[i] for i in rng.permutation(len(months))[:4])
        steps.append({"op": "append", "drop": k})
        steps.append({"op": "update", "month": updated})
        steps.append({"op": "delete", "modulus": 997,
                      "residue": int(rng.integers(997))})
        steps.append({"op": "merge", "slice": k, "month": merged,
                      "modulus": 7, "residue": int(rng.integers(7))})
        steps.append({"op": "snapshot_q1"})
        steps.append({"op": "range_probe",
                      "day": _days(DML_START) + int(rng.integers(span - 7))})
        # rolling compaction of two months the round's scattered DELETE
        # left deletion vectors in (months the UPDATE and MERGE restate
        # are clean again, so a rewrite of them would be a no-op)
        steps.append({"op": "rewrite", "months": sorted(compacted)})
    return steps


def generate(workload, seed, out_dir):
    """Write every input of `workload` for `seed` under `out_dir`;
    returns the input record."""
    workloads = ("pipeline_iter", "taxi_ingest_dml")
    if workload not in workloads:
        raise SystemExit(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, workloads.index(workload)])
    if workload == "pipeline_iter":
        t, _ = _lineitem(rng, LANE_LINEITEM_ROWS, 0)
        _write_sharded(t, f"{out_dir}/lineitem.parquet")
        _write(_documents(rng, DOCUMENTS), f"{out_dir}/documents.parquet")
        _write(_embeddings(rng, EMBEDDINGS), f"{out_dir}/embeddings.parquet")
    else:
        t, _ = _lineitem(rng, OLAP_ROWS, 0)
        _write_sharded(t, f"{out_dir}/lineitem.parquet")
        d0 = _days(DML_START)
        span = _days(_month(DML_START, DML_BASE_MONTHS)) - d0
        t, base = _lineitem(rng, DML_BASE_ROWS, 0, d0, span)
        _write_sharded(t, f"{out_dir}/snapshot_lineitem.parquet")
        for k in range(DROPS):
            month = _month(DML_START, DML_BASE_MONTHS + k)
            t, base = _lineitem(rng, DROP_ROWS, base, _days(month), 28)
            _write(t, f"{out_dir}/drops/drop_{k:03d}.parquet")
        schedule = _dml_schedule(rng)
        for step in schedule:
            if step["op"] == "merge":
                # the inserted rows land in the month the MERGE restates
                day0 = _days(datetime.date.fromisoformat(step["month"] + "-01"))
                t, base = _lineitem(rng, MERGE_INSERT_ROWS, base, day0, 28)
                _write(t, f"{out_dir}/merge_inserts/"
                          f"slice_{step['slice']:03d}.parquet")
        with open(f"{out_dir}/schedule.json", "w") as f:
            json.dump(schedule, f, sort_keys=True)
    return record(out_dir)


def record(out_dir):
    """Rows, bytes and sha256 per input file, by relative path."""
    files = {}
    for root, _, names in os.walk(out_dir):
        for name in sorted(names):
            path = os.path.join(root, name)
            rel = os.path.relpath(path, out_dir)
            with open(path, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            rows = (pq.ParquetFile(path).metadata.num_rows
                    if name.endswith(".parquet") else None)
            files[rel] = {"rows": rows, "bytes": os.path.getsize(path),
                          "sha256": digest}
    return dict(sorted(files.items()))


def summary(rec):
    """Per top-level input group: files, rows and bytes."""
    out = {}
    for rel, info in rec.items():
        group = rel.split(os.sep)[0].split(".")[0]
        g = out.setdefault(group, {"files": 0, "rows": 0, "bytes": 0})
        g["files"] += 1
        g["rows"] += info["rows"] or 0
        g["bytes"] += info["bytes"]
    return out


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    rec = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps(summary(rec), sort_keys=True))
