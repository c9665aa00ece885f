"""Untimed correctness checks of one benchmark run, against DuckDB.

- taxi_ingest_dml: Q1-Q4 against the engine's own oracle SQL
  (`SparkEntry.oracleSql` keys taxi_e2e_q1..q4) over the generated
  lineitem, every MergeTree probe against the same derivation; and an
  independent replay of the executed schedule steps on a narrow DuckDB
  table: every read after a commit, and the final table state, must
  match it.
- pipeline_iter: kmeans_train, lr_train and triangle_count against their
  oracle SQL over the generated lane tables.

`check(workload, inputs, out)` returns (failed operations, extra
operations attempted, messages).
"""
import json
import math

import duckdb

# TaxiGen + TripsTransform, replayed for the columns the checks read.
TRIPS = """
SELECT l_orderkey * 10 + l_linenumber AS trip_id,
  CASE CAST(l_orderkey % 3 AS INT) WHEN 0 THEN 'yellow'
       WHEN 1 THEN 'green' ELSE 'uber' END AS cab_type,
  CAST(CASE WHEN l_partkey % 7 = 0 THEN 0 ELSE l_partkey % 6 + 1 END
       AS BIGINT) AS passenger_count,
  CAST(round(l_extendedprice) AS BIGINT) AS total_amount,
  CAST(l_shipdate + to_seconds(CAST(l_partkey % 86400 AS BIGINT)) AS DATE)
    AS pickup_date
FROM read_parquet('{path}')
"""

WEEK = """
SELECT count(*) AS n, CAST(sum(total_amount) AS BIGINT) AS amt FROM {table}
WHERE pickup_date BETWEEN DATE '1995-01-01' + INTERVAL ({day}) DAY
  AND DATE '1995-01-01' + INTERVAL ({day} + 6) DAY
"""


def canon(rows):
    """Rows as sorted tuples of (column, value), floats rounded."""
    out = []
    for r in rows:
        items = []
        for k in sorted(r):
            v = r[k]
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 6)
            items.append((k, v))
        out.append(tuple(items))
    return sorted(out, key=repr)


def query(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


def _count(out, kind):
    return sum(1 for o in out["ops"] if o["kind"] == kind)


def check(workload, inputs, out):
    con = duckdb.connect()
    if workload == "pipeline_iter":
        return _lanes(con, inputs, out)
    q_failed, q_msgs = _queries(con, inputs, out)
    d_failed, d_extra, d_msgs = _dml(con, inputs, out)
    return q_failed + d_failed, d_extra, q_msgs + d_msgs


def _queries(con, inputs, out):
    con.execute(f"CREATE VIEW lineitem AS "
                f"SELECT * FROM read_parquet('{inputs}/lineitem.parquet/*.parquet')")
    con.execute("CREATE TABLE trips AS " +
                TRIPS.format(path=f"{inputs}/lineitem.parquet/*.parquet"))
    failed, msgs = 0, []
    for q in ("q1", "q2", "q3", "q4"):
        want = canon(query(con, out["oracle"][f"taxi_e2e_{q}"]))
        if canon(out["results"].get(q, [])) != want:
            failed += _count(out, q)
            msgs.append(f"{q}: result differs from the oracle")
    for key, rows in out["results"].items():
        if key.startswith("mergetree_probe/"):
            day = int(key.split("/")[1])
            want = canon(query(con, WEEK.format(table="trips", day=day)))
            if canon(rows) != want:
                failed += sum(1 for o in out["ops"]
                              if o["kind"] == "mergetree_probe"
                              and o["day"] == day)
                msgs.append(f"{key}: result differs from the oracle")
    return failed, msgs


def _lanes(con, inputs, out):
    for t in ("lineitem", "documents", "embeddings"):
        glob = "/*.parquet" if t == "lineitem" else ""
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{inputs}/{t}.parquet{glob}')")
    failed, msgs = 0, []
    for lane in ("kmeans_train", "lr_train", "triangle_count"):
        want = canon(query(con, out["oracle"][lane]))
        if canon(out["results"].get(lane, [])) != want:
            failed += _count(out, lane)
            msgs.append(f"{lane}: result differs from the oracle")
    return failed, 0, msgs


def _dml(con, inputs, out):
    with open(f"{inputs}/schedule.json") as f:
        schedule = json.load(f)
    con.execute("CREATE TABLE t AS " + TRIPS.format(
        path=f"{inputs}/snapshot_lineitem.parquet/*.parquet"))
    month = "strftime(pickup_date, '%Y-%m')"
    failed, msgs = 0, []
    for i, step in enumerate(schedule[:out["steps_run"]]):
        op = step["op"]
        if op == "append":
            path = f"{inputs}/drops/drop_{step['drop']:03d}.parquet"
            con.execute("INSERT INTO t " + TRIPS.format(path=path))
        elif op == "update":
            con.execute(f"UPDATE t SET total_amount = total_amount + 1 "
                        f"WHERE {month} = ?", [step["month"]])
        elif op == "delete":
            con.execute("DELETE FROM t WHERE trip_id % ? = ?",
                        [step["modulus"], step["residue"]])
        elif op == "merge":
            hit = (f"{month} = ? AND trip_id % {step['modulus']} = "
                   f"{step['residue']}")
            con.execute(f"DELETE FROM t WHERE {hit} AND trip_id % 2 = 0",
                        [step["month"]])
            con.execute(f"UPDATE t SET passenger_count = passenger_count + 1 "
                        f"WHERE {hit}", [step["month"]])
            path = f"{inputs}/merge_inserts/slice_{step['slice']:03d}.parquet"
            con.execute("INSERT INTO t " + TRIPS.format(path=path))
        elif op in ("snapshot_q1", "range_probe"):
            got = out["results"].get(f"dml/{i}")
            if got is None:
                continue  # the operation failed and is counted already
            sql = ("SELECT cab_type, count(*) AS cnt FROM t GROUP BY 1"
                   if op == "snapshot_q1"
                   else WEEK.format(table="t", day=step["day"]))
            if canon(got) != canon(query(con, sql)):
                failed += 1
                msgs.append(f"step {i} ({op}): differs from the replay")
    want = query(con, f"""
        SELECT {month} AS pickup_month, count(*) AS n,
          CAST(sum(trip_id) AS BIGINT) AS ids,
          CAST(sum(total_amount) AS BIGINT) AS amt,
          CAST(sum(passenger_count) AS BIGINT) AS pax
        FROM t GROUP BY 1""")
    if canon(out["final_state"]) != canon(want):
        failed += 1
        msgs.append("final table state differs from the replay")
    # the final-state read is one more operation
    return failed, 1, msgs
