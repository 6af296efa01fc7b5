"""Seeded feed generator.

Replicates the reference's feed days (src/test/resources/fixtures
day1-day4) k times. Replica 0 keeps the reference ids; replica r > 0
suffixes every entity id (trans_id, card_num, account, client, terminal)
with `~r`, so replicas share no entity and every fraud the reference
feed holds recurs once per replica. Attributes (names, passport, phone,
city, amounts, times) are copied unchanged. The seed permutes the row
order and moves the cut points that split each day into PARTS parquet
files (each cut within a quarter of a part's size of an even split, so
the seed changes which rows share a file, not how much work a file is).

Writes, under `out`:
  feeds/day<d>/part-<i>.parquet   the feed the program ingests
  port/day<d>.parquet             the same rows as one file, for the
                                  DuckDB port (tools/replay_duckdb.py)
"""
import random
from pathlib import Path

import duckdb

DAYS = 4
PARTS = 3
IDS = ("trans_id", "card_num", "account", "client", "terminal")
COLUMNS = ("trans_id", "trans_date", "card_num", "account", "account_valid_to",
           "client", "last_name", "first_name", "patrinymic", "date_of_birth",
           "passport", "passport_valid_to", "phone", "oper_type", "amount",
           "oper_result", "terminal", "terminal_type", "city", "address")


def generate(fixtures, out, k, seed):
    """Returns per-day stats: rows in the feed, rows of its last day (the
    rows the loader lands) and bytes on disk of the program's feed."""
    out = Path(out)
    rng = random.Random(seed)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{out / 'duck.tmp'}'")
    cols = ", ".join(
        f"CASE WHEN r = 0 THEN {c} ELSE {c} || '~' || r END AS {c}"
        if c in IDS else c for c in COLUMNS)
    stats = []
    for day in range(1, DAYS + 1):
        src = Path(fixtures) / f"day{day}.parquet"
        con.execute(f"""CREATE OR REPLACE TABLE feed AS
            SELECT {cols}, row_number() OVER (
                ORDER BY md5(file_row_number || ':' || r || ':' || {seed:d})) AS pos
            FROM read_parquet('{src}', file_row_number = true), range({k:d}) t(r)""")
        n = con.execute("SELECT count(*) FROM feed").fetchone()[0]
        step = n / PARTS
        cuts = [round(i * step + rng.uniform(-step, step) / 4) for i in range(1, PARTS)]
        bounds = list(zip([0] + cuts, cuts + [n]))
        feed_dir = out / "feeds" / f"day{day}"
        feed_dir.mkdir(parents=True)
        select = ", ".join(COLUMNS)
        for i, (lo, hi) in enumerate(bounds):
            con.execute(f"""COPY (SELECT {select} FROM feed
                WHERE pos > {lo} AND pos <= {hi} ORDER BY pos)
                TO '{feed_dir / f"part-{i:05d}.parquet"}' (FORMAT PARQUET)""")
        (out / "port").mkdir(exist_ok=True)
        con.execute(f"""COPY (SELECT {select} FROM feed ORDER BY pos)
            TO '{out / "port" / f"day{day}.parquet"}' (FORMAT PARQUET)""")
        last = con.execute("""SELECT count(*) FROM feed WHERE CAST(trans_date AS DATE)
            = (SELECT max(CAST(trans_date AS DATE)) FROM feed)""").fetchone()[0]
        stats.append({"day": day, "rows": n, "landed_rows": last, "files": len(bounds),
                      "bytes": sum(f.stat().st_size for f in feed_dir.iterdir())})
    con.close()
    return stats
