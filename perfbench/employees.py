"""Seeded employee-roster drops and their DuckDB oracles.

The generator writes one ``YYYY-MM-DD.csv`` per snapshot day in the
reference's CSV conventions (header row, ``NULL`` sentinel,
``yyyy-MM-dd`` dates) and reproduces, at scale, every change pattern
of the unit-test fixture (``tests/emp_fixture.py``, FIXTURES.md §A):

- steady state: most employees never change;
- persistent change: one attribute changes once and sticks;
- change then revert, twice: a salary episode and a later last-name
  episode, each reverted the next day;
- delete: absent from one day onward;
- delete then reappear: absent on exactly one day, then back unchanged;
- duplicate re-drop: the first day's file dropped again, verbatim, with
  the middle day.

Pattern counts are fixed shares of the roster, so every seed gives the
same amount of work; the seed picks who, which day and which values.

Two oracles are computed in DuckDB straight from the CSV files, never
from the program's output:

- ``rebuild``: the full-history recompute that ``employee_dim.run``
  performs (dedup, hash, four-way status, corrected islands date) and
  the current view stamped to the global max date;
- ``merge``: the closed form of folding ``scd_merge`` day by day, as the
  ``scd_merge_incremental`` registry oracle writes it. It encodes the
  documented divergence: a key that reappears after a gap with its
  pre-gap fingerprint is ``No Change`` dated at its last pre-gap day.
"""

from __future__ import annotations

import datetime as dt
import os
import random

COLUMNS = [
    "snapshot_date",
    "employee_number",
    "status",
    "first_name",
    "last_name",
    "gender",
    "email",
    "phone_number",
    "salary",
    "termination_date",
]
HASH_COLUMNS = COLUMNS[1:]
FIRST_DAY = dt.date(2020, 1, 1)

# Share of the roster per pattern; the rest stays steady.
PATTERN_SHARES = {
    "persistent": 0.04,
    "revert": 0.02,
    "delete": 0.02,
    "reappear": 0.02,
}

_SYLLABLES = ["an", "bel", "cor", "dan", "el", "fi", "gar", "hol", "is",
              "jo", "kel", "lu", "mar", "nor", "ol", "pen", "ri", "sa",
              "tor", "ul", "vin", "wes", "ya", "zo"]


class Drops:
    """One seeded set of daily drop files under ``drop_dir``."""

    def __init__(self, drop_dir: str, days: list[str], redrop: tuple[int, str]):
        self.drop_dir = drop_dir
        self.days = days            # day file names, in date order
        self.redrop = redrop        # (day index it arrives with, file name)
        self.csv_bytes = sum(
            os.path.getsize(self.path(d)) for d in days
        ) + os.path.getsize(self.path(redrop[1]))

    def path(self, name: str) -> str:
        return os.path.join(self.drop_dir, name)

    def arrivals(self, day: int) -> list[str]:
        """File names that land in the input directory on ``day``."""
        names = [self.days[day]]
        if self.redrop[0] == day:
            names.append(self.redrop[1])
        return names


def _name(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))).title()


def generate(drop_dir: str, n_employees: int, n_days: int, seed: int) -> Drops:
    """Write ``n_days`` daily snapshot files for a seeded roster."""
    if n_days < 5:
        raise ValueError("the revert-twice pattern needs at least 5 days")
    rng = random.Random(seed)
    os.makedirs(drop_dir, exist_ok=True)

    ids = rng.sample(range(10_000, 10_000 + 20 * n_employees), n_employees)
    base = {}
    for emp in ids:
        first, last = _name(rng), _name(rng)
        base[emp] = {
            "status": "Active",
            "first_name": first,
            "last_name": last,
            "gender": rng.choice("FM"),
            "email": f"{first.lower()}.{last.lower()}{emp}@example.com",
            "phone_number": f"{rng.randint(0, 999):03d}-{rng.randint(0, 9999):04d}-"
            f"{rng.randint(0, 99):02d}",
            "salary": rng.randrange(30_000, 150_000, 7),
            "termination_date": None,
        }

    # day -> {emp: overrides}; absent[emp] = set of days it is missing
    edits: dict[int, dict[int, dict]] = {d: {} for d in range(n_days)}
    absent: dict[int, set[int]] = {}
    order = list(ids)
    rng.shuffle(order)
    pos = 0
    for pattern, share in PATTERN_SHARES.items():
        count = max(1, round(share * n_employees))
        for emp in order[pos:pos + count]:
            if pattern == "persistent":
                day = rng.randint(1, n_days - 1)
                field = rng.choice(["salary", "phone_number"])
                value = (
                    base[emp]["salary"] + rng.randrange(1_000, 9_000, 7)
                    if field == "salary"
                    else f"{rng.randint(0, 999):03d}-0000-00"
                )
                for d in range(day, n_days):
                    edits[d].setdefault(emp, {})[field] = value
            elif pattern == "revert":
                a = rng.randint(1, n_days - 4)
                b = rng.randint(a + 2, n_days - 2)
                edits[a].setdefault(emp, {})["salary"] = base[emp]["salary"] + 9_999
                edits[b].setdefault(emp, {})["last_name"] = _name(rng)
            elif pattern == "delete":
                absent[emp] = set(range(rng.randint(1, n_days - 1), n_days))
            else:  # reappear
                absent[emp] = {rng.randint(1, n_days - 2)}
        pos += count

    def row(emp: int, over: dict) -> str:
        r = dict(base[emp], **over)
        return ",".join(
            [str(emp)] + ["NULL" if r[c] is None else str(r[c]) for c in COLUMNS[2:]]
        )

    plain = {emp: row(emp, {}) for emp in ids}
    days = []
    for d in range(n_days):
        date = (FIRST_DAY + dt.timedelta(days=d)).isoformat()
        day_ids = [e for e in ids if d not in absent.get(e, ())]
        rng.shuffle(day_ids)  # row order within a drop is seeded too
        lines = [",".join(COLUMNS)] + [
            f"{date},{row(e, edits[d][e]) if e in edits[d] else plain[e]}"
            for e in day_ids
        ]
        name = f"{date}.csv"
        with open(os.path.join(drop_dir, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        days.append(name)

    # The first day's file arrives again, byte-identical, with the middle
    # day (a fixed day, so every seed ingests the same number of files).
    return Drops(drop_dir, days, (n_days // 2, days[0]))


# --- DuckDB oracles -----------------------------------------------------

_CSV_COLUMNS = (
    "{'snapshot_date': 'DATE', 'employee_number': 'INTEGER', "
    "'status': 'VARCHAR', 'first_name': 'VARCHAR', 'last_name': 'VARCHAR', "
    "'gender': 'VARCHAR', 'email': 'VARCHAR', 'phone_number': 'VARCHAR', "
    "'salary': 'INTEGER', 'termination_date': 'DATE'}"
)
_HASH = "sha256(concat_ws('||', " + ", ".join(HASH_COLUMNS) + "))"
_ATTRS = ", ".join(COLUMNS[2:])
OUT_COLUMNS = COLUMNS + ["change_status", "changed_status_date"]


def _read_csv(paths: list[str]) -> str:
    files = "[" + ", ".join(f"'{p}'" for p in paths) + "]"
    return (
        f"read_csv({files}, header=true, nullstr='NULL', "
        f"dateformat='%Y-%m-%d', columns={_CSV_COLUMNS})"
    )


def rebuild_oracle(con, drops: Drops) -> None:
    """Create ``exp_all`` and ``exp_current``: what ``employee_dim.run``
    must have committed after ingesting every drop, the re-drop too."""
    paths = [drops.path(d) for d in drops.days] + [drops.path(drops.redrop[1])]
    con.execute(f"""
    CREATE OR REPLACE TABLE exp_all AS
    WITH snaps AS (SELECT DISTINCT * FROM {_read_csv(paths)}),
    h AS (SELECT *, {_HASH} AS row_hash FROM snaps),
    s AS (
      SELECT *,
        MIN(snapshot_date) OVER (PARTITION BY employee_number) AS min_t,
        MAX(snapshot_date) OVER (PARTITION BY employee_number) AS max_t,
        LAG(row_hash) OVER (PARTITION BY employee_number
                            ORDER BY snapshot_date) AS prev_hash,
        LEAD(row_hash) OVER (PARTITION BY employee_number
                             ORDER BY snapshot_date) AS next_hash,
        MAX(snapshot_date) OVER () AS global_max_t
      FROM h),
    st AS (
      SELECT *,
        CASE WHEN snapshot_date = min_t THEN 'New'
             WHEN next_hash IS NULL AND max_t <> global_max_t THEN 'Deleted'
             WHEN prev_hash <> row_hash THEN 'Changed'
             ELSE 'No Change' END AS change_status
      FROM s),
    g AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY employee_number
                           ORDER BY snapshot_date DESC)
        - ROW_NUMBER() OVER (PARTITION BY employee_number, row_hash
                             ORDER BY snapshot_date DESC) AS gap_grp
      FROM st)
    SELECT snapshot_date, employee_number, {_ATTRS}, change_status,
           CASE WHEN change_status = 'Deleted' THEN snapshot_date
                ELSE MIN(snapshot_date) OVER (
                  PARTITION BY employee_number, row_hash, gap_grp)
           END AS changed_status_date
    FROM g
    """)
    con.execute("""
    CREATE OR REPLACE TABLE exp_current AS
    SELECT (SELECT MAX(snapshot_date) FROM exp_all) AS snapshot_date,
           * EXCLUDE (snapshot_date, rn)
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY employee_number
                                       ORDER BY snapshot_date DESC) AS rn
          FROM exp_all)
    WHERE rn = 1
    """)


def merge_oracle(con, drops: Drops) -> None:
    """Create ``exp_merged``: the current view after folding
    ``scd_merge`` over the daily drops in date order (closed form)."""
    paths = [drops.path(d) for d in drops.days]
    con.execute(f"""
    CREATE OR REPLACE TABLE exp_merged AS
    WITH h AS (SELECT *, {_HASH} AS row_hash FROM {_read_csv(paths)}),
    g AS (SELECT MAX(snapshot_date) AS tmax FROM h),
    seq AS (
      SELECT *, LAG(snapshot_date) OVER w AS pt, LAG(row_hash) OVER w AS ph
      FROM h WINDOW w AS (PARTITION BY employee_number ORDER BY snapshot_date)),
    resets AS (
      SELECT *, CASE
          WHEN pt IS NULL THEN snapshot_date
          WHEN row_hash <> ph THEN snapshot_date
          WHEN snapshot_date > pt + 1 THEN pt
          ELSE NULL END AS reset_v
      FROM seq),
    ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY employee_number
                           ORDER BY snapshot_date DESC) AS rk,
        LAST_VALUE(reset_v IGNORE NULLS) OVER (
          PARTITION BY employee_number ORDER BY snapshot_date
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dtv
      FROM resets)
    SELECT snapshot_date, employee_number, {_ATTRS},
           CASE WHEN snapshot_date = tmax THEN
                  CASE WHEN pt IS NULL THEN 'New'
                       WHEN row_hash <> ph THEN 'Changed'
                       ELSE 'No Change' END
                ELSE 'Deleted' END AS change_status,
           CASE WHEN snapshot_date = tmax THEN dtv
                ELSE snapshot_date END AS changed_status_date
    FROM ranked CROSS JOIN g
    WHERE rk = 1
    """)


def mismatches(con, expected: str, parquet_dir: str) -> int:
    """Rows in the symmetric difference between an oracle table and a
    committed parquet output (hive-partitioned or flat)."""
    cols = ", ".join(OUT_COLUMNS)
    hive = any(d.startswith("snapshot_date=") for d in os.listdir(parquet_dir))
    opts = (
        "hive_partitioning=true, hive_types={'snapshot_date': DATE}"
        if hive
        else "hive_partitioning=false"
    )
    actual = (
        f"(SELECT {cols} FROM read_parquet('{parquet_dir}/**/*.parquet', {opts}))"
    )
    return con.execute(f"""
    SELECT count(*) FROM (
      (SELECT {cols} FROM {expected} EXCEPT ALL SELECT * FROM {actual})
      UNION ALL
      (SELECT * FROM {actual} EXCEPT ALL SELECT {cols} FROM {expected}))
    """).fetchone()[0]
