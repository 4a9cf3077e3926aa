"""The ``datamart_daily`` workload: the user's ``dbt build`` loop.

A seeded generator writes a member and claim-line feed as parquet files:
day 0 is the initial load; day 1 adds members and claim lines, redelivers
some day-0 lines byte for byte and corrects a few members' birth dates
(the member file is a full snapshot per day). The timed pass runs
``build_datamart(...).run(full_refresh=True)`` and ``run_tests()`` on
day 0, then ``run()`` and ``run_tests()`` on day 1, over the grown
sources. That writes table CTAS marts, appends to the
incremental ``fct_gap_exceptions`` and checks the SCD2 ``snap_dim_member``.

The final state is checked against a DuckDB recompute over the generated
files, outside the timed pass.
"""

from __future__ import annotations

import datetime
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


MEMBERS = 10_000
HEADERS = 20_000  # claim headers on day 0; 1 to 3 lines each
# day 1, the one incremental day
NEW_MEMBERS = 50
NEW_HEADERS = 1_500
REDELIVERED = 200
CORRECTIONS = 20

PERIOD_START, PERIOD_END = "2024-01-01", "2024-12-31"
MIN_AGE, MAX_AGE = 45, 75
SCREENING = [
    ("82274", "FIT_FOBT"), ("G0328", "FIT_FOBT"), ("45378", "COLONOSCOPY"),
    ("G0121", "COLONOSCOPY"), ("45330", "SIGMOIDOSCOPY"),
    ("74263", "CT_COLONOGRAPHY"), ("81528", "STOOL_DNA_FIT"),
]
ROUTINE = ["99213", "99214", "80053", "85025", "36415", "93000", "71046", "G0439"]
# lower-case spellings reach the feed too; staging upper-cases them
PROC_CODES = ROUTINE + [c for c, _ in SCREENING] + ["g0121", "g0328"]
EPOCH = datetime.date(1970, 1, 1)


def _days(d: str) -> int:
    return (datetime.date.fromisoformat(d) - EPOCH).days


def _birth_dates(rng, n: int) -> np.ndarray:
    d = rng.integers(_days("1935-01-01"), _days("2004-12-31"), n)
    return _no_leap_day(d)


def _no_leap_day(d: np.ndarray) -> np.ndarray:
    # Feb 29 birthdays would test the leap-day rule of the age formula,
    # which the DuckDB recompute does not reproduce
    dates = d.astype("datetime64[D]")
    leap = (dates.astype("datetime64[M]") - dates.astype("datetime64[Y]")).astype(
        int
    ) == 1
    leap &= (dates - dates.astype("datetime64[M]")).astype(int) == 28
    return np.where(leap, d + 1, d)


def _claims(rng, first_header: int, n_headers: int, member_ids: np.ndarray) -> dict:
    lines = rng.integers(1, 4, n_headers)
    header = np.repeat(np.arange(first_header, first_header + n_headers), lines)
    line_no = np.concatenate([np.arange(1, k + 1) for k in lines])
    member = np.repeat(rng.choice(member_ids, n_headers), lines)
    svc = np.repeat(
        rng.integers(_days("2014-01-01"), _days("2024-12-31"), n_headers), lines
    )
    proc = rng.choice(np.array(PROC_CODES), len(header))
    return {
        "claim_id": header * 10 + line_no,
        "member_id": member,
        "service_date": svc,
        "proc_code": proc,
    }


def _write(path: str, cols: dict, schema: pa.Schema) -> None:
    arrays = [
        pa.array(cols[f.name]).cast(f.type) if f.type != pa.date32()
        else pa.array(np.asarray(cols[f.name], dtype="int32")).cast(pa.date32())
        for f in schema
    ]
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)


MEMBER_SCHEMA = pa.schema([("member_id", pa.int64()), ("birth_date", pa.date32())])
CLAIM_SCHEMA = pa.schema([
    ("claim_id", pa.int64()), ("member_id", pa.int64()),
    ("service_date", pa.date32()), ("proc_code", pa.string()),
])
CODE_SCHEMA = pa.schema([("code", pa.string()), ("evidence_type", pa.string())])


def generate(seed: int, out_dir: str) -> dict:
    """Write the feed for ``seed`` into ``out_dir``: ``codes.parquet`` and,
    per day d, ``members_<d>.parquet`` and ``claims_<d>.parquet``. The same
    seed writes byte-identical files. Returns the file lists and the rows
    each day delivers."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    codes = os.path.join(out_dir, "codes.parquet")
    _write(codes, {
        "code": [c for c, _ in SCREENING],
        "evidence_type": [e for _, e in SCREENING],
    }, CODE_SCHEMA)
    out = {"codes": codes, "members": [], "claims": [], "new_rows": []}

    def deliver(day: int, member_ids, births, claims) -> None:
        m_path = os.path.join(out_dir, f"members_{day:02d}.parquet")
        c_path = os.path.join(out_dir, f"claims_{day:02d}.parquet")
        _write(m_path, {"member_id": member_ids, "birth_date": births}, MEMBER_SCHEMA)
        _write(c_path, claims, CLAIM_SCHEMA)
        out["members"].append(m_path)
        out["claims"].append(c_path)
        out["new_rows"].append(len(member_ids) + len(claims["claim_id"]))

    member_ids = np.arange(1, MEMBERS + 1)
    births = _birth_dates(rng, MEMBERS)
    day0 = _claims(rng, 1, HEADERS, member_ids)
    deliver(0, member_ids, births, day0)

    member_ids = np.arange(1, MEMBERS + NEW_MEMBERS + 1)
    births = np.concatenate([births, _birth_dates(rng, NEW_MEMBERS)])
    fix = rng.choice(len(member_ids), CORRECTIONS, replace=False)
    births[fix] = _no_leap_day(births[fix] + rng.integers(1, 400, CORRECTIONS))
    day1 = _claims(rng, HEADERS + 1, NEW_HEADERS, member_ids)
    again = rng.choice(len(day0["claim_id"]), REDELIVERED)
    day1 = {k: np.concatenate([day1[k], day0[k][again]]) for k in day1}
    deliver(1, member_ids, births, day1)
    return out


def run_ts(day: int) -> str:
    """The run timestamp of ``day``'s build."""
    return f"2025-01-{day + 1:02d} 00:00:00"


def gap_params():
    from healthcare_dbt_datamart_spark.models.gap_pipeline import GapParams

    return GapParams(
        period_start=PERIOD_START, period_end=PERIOD_END,
        min_age=MIN_AGE, max_age=MAX_AGE,
    )


def _layer(model: str) -> str:
    for prefix, layer in (("stg_", "stg"), ("int_", "int"), ("snap_", "snapshot")):
        if model.startswith(prefix):
            return layer
    return "marts"


class Warehouse:
    """Tracks the files under the warehouse directory; every file not seen
    at the previous scan counts as written."""

    def __init__(self, root: str):
        self.root = root
        self.seen: set[tuple] = set()
        self.bytes_written = 0
        self.files_written = 0

    def scan(self) -> None:
        now = set()
        for dirpath, _, files in os.walk(self.root):
            for name in files:
                st = os.stat(os.path.join(dirpath, name))
                now.add((dirpath, name, st.st_size, st.st_mtime_ns))
        for entry in now - self.seen:
            self.bytes_written += entry[2]
            self.files_written += 1
        self.seen = now

    def size_bytes(self) -> int:
        return sum(e[2] for e in self.seen)


def timed_pass(
    spark, spans, feed: dict, warehouse: Warehouse, deadline: float
) -> list[dict]:
    """Day 0 full build, then one incremental day per later feed file. One
    record per day; a day that raises or whose schema tests fail is
    recorded with its error and the pass goes on. Days not started by
    ``deadline`` (a ``perf_counter`` time) are recorded as failed."""
    from healthcare_dbt_datamart_spark.models.datamart import build_datamart
    from healthcare_dbt_datamart_spark.session import job_group

    params = gap_params()
    records = []
    for day in range(len(feed["claims"])):
        rec = {"name": f"day{day:02d}", "error": None, "layers": {}}
        if time.perf_counter() > deadline:
            rec["error"] = "not started: the pass ran past its time budget"
            records.append(rec)
            continue
        with spans.span("op", op=rec["name"]):
            try:
                with job_group(spark, f"bench:{rec['name']}"):
                    reg = build_datamart(
                        spark,
                        spark.read.parquet(feed["members"][day]),
                        spark.read.parquet(*feed["claims"][: day + 1]),
                        spark.read.parquet(feed["codes"]),
                        params,
                        run_ts=run_ts(day),
                    )
                    with spans.span("registry.run"):
                        reg.run(full_refresh=day == 0)
                    with spans.span("testing.run_tests"):
                        results = reg.run_tests()
                for r in reg.run_results:
                    layer = _layer(r["model"])
                    rec["layers"][layer] = (
                        rec["layers"].get(layer, 0.0) + r["execute_seconds"]
                    )
                failing = [
                    t.name for ts in results.values() for t in ts
                    if t.status != "pass"
                ]
                if failing:
                    rec["error"] = f"schema tests failed: {failing}"
            except Exception as exc:  # one failed day must not end the run
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        warehouse.scan()
        records.append(rec)
    return records


def _age_sql(birth: str) -> str:
    """DuckDB: age in whole years at the period end of the date ``birth``."""
    p_end = f"DATE '{PERIOD_END}'"
    years = f"date_diff('year', {birth}, {p_end})"
    return (
        f"({years} - CASE WHEN {birth} + to_years(CAST({years} AS INTEGER))"
        f" > {p_end} THEN 1 ELSE 0 END)"
    )


def check(spark, feed: dict) -> list[str]:
    """Compare the final datamart with a DuckDB recompute over the feed
    files. Returns one message per mismatch."""
    import duckdb

    from queries import fingerprint

    def files(paths):
        return "[" + ", ".join(f"'{p}'" for p in paths) + "]"

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW claims AS SELECT * FROM read_parquet("
            f"{files(feed['claims'])})"
        )
        con.execute(
            f"CREATE VIEW members AS SELECT * FROM read_parquet('{feed['members'][-1]}')"
        )
        con.execute(
            "CREATE VIEW member_versions AS SELECT * FROM read_parquet("
            f"{files(feed['members'])})"
        )
        con.execute(
            f"CREATE VIEW codes AS SELECT * FROM read_parquet('{feed['codes']}')"
        )
        con.execute("""
            CREATE VIEW fct AS
            SELECT DISTINCT c.claim_id, c.member_id, c.service_date,
                   upper(c.proc_code) AS proc_code,
                   CASE WHEN s.code IS NULL THEN 0 ELSE 1 END AS is_screening
            FROM claims c
            LEFT JOIN (SELECT DISTINCT upper(code) AS code FROM codes) s
              ON upper(c.proc_code) = s.code""")
        expected = {
            "fct_claims": (
                "claim_id, member_id, service_date, proc_code, is_screening",
                "SELECT * FROM fct",
            ),
            "member_cost_summary": (
                "member_id, is_age_eligible, n_claim_lines, n_screening_lines,"
                " first_service_date, last_service_date",
                f"""
                WITH a AS (
                  SELECT member_id, {_age_sql("birth_date")} AS age
                  FROM members),
                f AS (
                  SELECT member_id, count(*) AS n, sum(is_screening) AS s,
                         min(service_date) AS lo, max(service_date) AS hi
                  FROM fct GROUP BY member_id)
                SELECT a.member_id,
                       coalesce(a.age BETWEEN {MIN_AGE} AND {MAX_AGE}, false)
                         AS is_age_eligible,
                       coalesce(f.n, 0) AS n_claim_lines,
                       coalesce(f.s, 0) AS n_screening_lines,
                       f.lo AS first_service_date, f.hi AS last_service_date
                FROM a LEFT JOIN f USING (member_id)""",
            ),
        }
        bad = []
        for table, (cols, sql) in expected.items():
            got_df = spark.table(table).selectExpr(*cols.split(","))
            got = fingerprint(got_df.columns, [tuple(r) for r in got_df.collect()])
            d = con.execute(sql)
            want = fingerprint([c[0] for c in d.description], d.fetchall())
            if got != want:
                bad.append(f"{table}: spark {got} != duckdb {want}")

        # exactly one open snapshot row per member, carrying its current
        # birth date, and one row per member version ever delivered
        snap = spark.table("snap_dim_member")
        open_rows = snap.filter("dbt_valid_to IS NULL").select("member_id", "birth_date")
        got = fingerprint(open_rows.columns, [tuple(r) for r in open_rows.collect()])
        d = con.execute("SELECT member_id, birth_date FROM members")
        want = fingerprint([c[0] for c in d.description], d.fetchall())
        if got != want:
            bad.append(f"snap_dim_member open rows: spark {got} != duckdb {want}")
        versions = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT member_id, birth_date"
            " FROM member_versions)"
        ).fetchone()[0]
        if snap.count() != versions:
            bad.append(f"snap_dim_member: {snap.count()} rows, {versions} versions")

        # fct_gap_exceptions holds every day's tri-state violations, each
        # stamped with the run of the day it first appeared. The one rule
        # the feed breaks is NOT_QUALIFIED_HAS_VALUE: a member outside the
        # age band has a NULL gap_flag but keeps the evidence columns of a
        # qualifying screening line.
        params = gap_params()
        window_start = " ".join(
            f"WHEN '{ev}' THEN DATE '{PERIOD_END}' - INTERVAL {years} YEAR"
            for ev, years in params.lookback_years.items()
        )
        first_day: dict[int, int] = {}
        for day in range(len(feed["claims"])):
            violators = con.execute(f"""
                SELECT DISTINCT m.member_id
                FROM read_parquet('{feed["members"][day]}') m
                JOIN read_parquet({files(feed["claims"][: day + 1])}) c
                  USING (member_id)
                JOIN codes k ON upper(c.proc_code) = upper(k.code)
                WHERE NOT coalesce({_age_sql("m.birth_date")}
                                   BETWEEN {MIN_AGE} AND {MAX_AGE}, false)
                  AND c.service_date BETWEEN CASE k.evidence_type
                        WHEN 'FIT_FOBT' THEN DATE '{PERIOD_START}' {window_start}
                      END AND DATE '{PERIOD_END}'""").fetchall()
            for (member_id,) in violators:
                first_day.setdefault(member_id, day)
        exc = spark.table("fct_gap_exceptions").selectExpr(
            "violation_rule", "member_id", "measure_id", "flag_value",
            "CAST(exception_ts AS STRING) AS exception_ts",
        )
        got = fingerprint(exc.columns, [tuple(r) for r in exc.collect()])
        want = fingerprint(exc.columns, [
            ("NOT_QUALIFIED_HAS_VALUE", str(m), params.measure_id, None, run_ts(day))
            for m, day in first_day.items()
        ])
        if got != want:
            bad.append(f"fct_gap_exceptions: spark {got} != duckdb {want}")
        # the incremental append never re-inserts a key it already holds
        n, n_keys = spark.table("fct_gap_exceptions").selectExpr(
            "count(*)", "count(DISTINCT exception_key)"
        ).first()
        if n != n_keys:
            bad.append(f"fct_gap_exceptions: {n} rows, {n_keys} distinct keys")
        return bad
    finally:
        con.close()
