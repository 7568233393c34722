"""Output checks the launcher runs after the JVM exits.

medallion: every timed pass's bronze, quarantine and silver row counts and its
three gold tables are recomputed with DuckDB SQL straight from the generated
monthly input files, month by month as the bronze contract states it: rows
strictly newer than the watermark (2024-01-01 before the first month, then
the newest loaded pickup) that fall in the batch's calendar month are loaded,
newer rows outside it are quarantined once per 7-column key. Each generated
month's rows lie in that month except its stale rows (a day or more before
it) and its straggler pairs (in the following month). Counts must match
exactly; rounded averages and sums within 0.011.
"""
import duckdb

VENDORS = {1: "Creative Mobile Technologies, LLC", 2: "Curb Mobility, LLC",
           6: "Myle Technologies Inc", 7: "Helix"}
PAYMENTS = {0: "Flex Fare trip", 1: "Credit card", 2: "Cash", 3: "No charge",
            4: "Dispute", 5: "Unknown", 6: "Voided trip"}


def _case(col, mapping):
    arms = " ".join(f"WHEN {k} THEN '{v}'" for k, v in mapping.items())
    return f"CASE {col} {arms} END"


def _month_bounds(path):
    ym = path.rsplit("yellow_tripdata_", 1)[1][:7]
    y, m = int(ym[:4]), int(ym[5:7])
    ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
    return f"{y:04d}-{m:02d}-01", f"{ny:04d}-{nm:02d}-01"


KEY = ("vendorid, tpep_pickup_datetime, tpep_dropoff_datetime, trip_distance, "
       "pulocationid, dolocationid, total_amount")


def _expected(con, inputs):
    loaded, stragglers = [], []
    wm = "2024-01-01 00:00:00"
    for p in inputs:
        lo, hi = _month_bounds(p)
        newer = (f"SELECT * FROM read_parquet('{p}/*.parquet') "
                 f"WHERE tpep_pickup_datetime > TIMESTAMP '{wm}'")
        in_month = (f"tpep_pickup_datetime >= TIMESTAMP '{lo}' AND "
                    f"tpep_pickup_datetime < TIMESTAMP '{hi}'")
        loaded.append(f"{newer} AND {in_month}")
        stragglers.append(f"{newer} AND NOT ({in_month})")
        top = con.execute(f"SELECT max(tpep_pickup_datetime) FROM ({loaded[-1]})").fetchone()[0]
        wm = str(top) if top is not None else wm
    con.execute("CREATE OR REPLACE TEMP TABLE bronze_exp AS " + " UNION ALL ".join(loaded))
    con.execute("CREATE OR REPLACE TEMP TABLE silver_exp AS SELECT DISTINCT * FROM bronze_exp")
    n_bronze = con.execute("SELECT count(*) FROM bronze_exp").fetchone()[0]
    n_quarantine = con.execute(f"SELECT count(DISTINCT ({KEY})) FROM ("
                               + " UNION ALL ".join(stragglers) + ")").fetchone()[0]
    con.execute("CREATE OR REPLACE TEMP VIEW f AS SELECT *, "
                "CAST(floor((epoch(tpep_dropoff_datetime) - epoch(tpep_pickup_datetime)) "
                "/ 60.0) AS INTEGER) AS dur FROM silver_exp")
    vendor = con.execute(
        f"SELECT {_case('vendorid', VENDORS)} AS k, count(*), round(sum(total_amount), 2), "
        "round(avg(dur), 2) FROM f GROUP BY 1").fetchall()
    monthly = con.execute(
        "SELECT monthname(tpep_pickup_datetime) AS k, count(*), round(avg(dur), 2), "
        "round(avg(trip_distance), 2) FROM f GROUP BY 1").fetchall()
    payment = con.execute(
        f"SELECT {_case('payment_type', PAYMENTS)} AS k, count(*), "
        "round(avg(trip_distance), 2), round(avg(dur), 2) FROM f GROUP BY 1").fetchall()
    counts = {"bronze/yellow_taxi_raw": n_bronze, "meta/invalid_records": n_quarantine,
              "silver/yellow_taxi": con.execute("SELECT count(*) FROM silver_exp").fetchone()[0]}
    return counts, {"vendor_metrics": vendor, "monthly_metrics": monthly,
                    "payment_metrics": payment}


def _same(got, want):
    if got is None or want is None:
        return got is None and want is None
    return abs(float(got) - float(want)) <= 0.011


def _compare(name, got_rows, want_rows):
    got = {r[0]: r[1:] for r in got_rows}
    want = {r[0]: r[1:] for r in want_rows}
    if len(got) != len(got_rows) or set(got) != set(want):
        return f"{name}: keys {sorted(map(str, got))} != {sorted(map(str, want))}"
    for k, w in want.items():
        g = got[k]
        if g[0] != w[0] or not all(_same(a, b) for a, b in zip(g[1:], w[1:])):
            return f"{name}[{k}]: {g} != {w}"
    return None


def medallion(extra):
    """Returns (attempted, failed, notes) over every timed pass."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    counts, gold_exp = _expected(con, extra["inputs"])
    attempted = failed = 0
    notes = []
    cols = {"vendor_metrics": "vendor, total_trips, total_revenue, avg_trip_duration",
            "monthly_metrics": "month, total_rides, avg_duration, avg_distance",
            "payment_metrics": "payment_type, total_trip_by_payment, avg_trip_distance, "
                               "avg_trip_duration"}
    for wh in extra["warehouses"]:
        for table, want in counts.items():
            attempted += 1
            n = con.execute(f"SELECT count(*) FROM read_parquet('{wh}/{table}/*/*.parquet')"
                            ).fetchone()[0]
            if n != want:
                failed += 1
                notes.append(f"{wh}: {table} rows {n} != {want}")
        for g, c in cols.items():
            attempted += 1
            rows = con.execute(f"SELECT {c} FROM read_parquet('{wh}/gold/{g}/*.parquet')"
                               ).fetchall()
            bad = _compare(g, rows, gold_exp[g])
            if bad:
                failed += 1
                notes.append(f"{wh}: {bad}")
    return attempted, failed, notes
