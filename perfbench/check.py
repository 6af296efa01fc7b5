"""Correctness checks made apart from the program, with DuckDB.

The expected tables come from the repository's independent DuckDB port
of the reference SQL (tools/replay_duckdb.py), loaded unedited and
replayed day by day on the same generated rows the program ingested.
Nothing expected is stored; every run recomputes it.
"""
import contextlib
import importlib.util
import sys
from collections import Counter
from pathlib import Path

import duckdb

DAYS = 4
SCD2_DIMS = ("dim_terminals_hist", "dim_cards_hist", "dim_accounts_hist",
             "dim_clients_hist")
SCD1_DIMS = ("dim_terminals", "dim_cards", "dim_accounts", "dim_clients")
KEYS = {"dim_terminals_hist": "terminal_id", "dim_cards_hist": "card_num",
        "dim_accounts_hist": "account_num", "dim_clients_hist": "client_id"}


def connect(tmp):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def rows(con, sql, params=None):
    return Counter(con.execute(sql, params or []).fetchall())


def parquet_rows(con, path):
    path = Path(path)
    if not any(path.glob("*.parquet")):
        return Counter()
    return rows(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


def pivot_counts(pivot):
    """The program's Summary.fraudsByDay rows as {(date, fraud_type): n}."""
    return {(r["date"], t): n for r in pivot for t, n in r["counts"].items()}


class PortReplay:
    """tools/replay_duckdb.py replayed on `feed_dir`/day<d>.parquet with
    the SCD2 mart (its normalize keeps both SCD families). Keeps
    the plot_report pivot after every day and, for each table in `snap`,
    its rows after every day."""

    def __init__(self, root, feed_dir, tmp, snap=()):
        spec = importlib.util.spec_from_file_location(
            "replay_duckdb", Path(root) / "tools" / "replay_duckdb.py")
        self.port = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.port)
        self.port.FIX = str(feed_dir)
        self.con = connect(tmp)
        self.pivots, self.snaps = [], {t: [] for t in snap}
        with contextlib.redirect_stdout(sys.stderr):
            self.port.ddl(self.con)
            for day in range(1, DAYS + 1):
                self.port.load_day(self.con, day)
                self.port.normalize(self.con)
                self.port.add_report_data(self.con, "scd2")
                self.pivots.append({
                    (d, t): n for d, t, n in self.con.execute(
                        """SELECT CAST(CAST(fraud_dt AS DATE) AS VARCHAR),
                           fraud_type, count(*) FROM report GROUP BY ALL""").fetchall()})
                for t in snap:
                    self.snaps[t].append(rows(self.con, f"SELECT * FROM {t}"))

    def tables_match(self, dump_dir):
        """Every output table of the program (dumped under `dump_dir`):
        report, fact and both SCD families' dimensions, equals the
        port's, as multisets of rows (the port's own compare)."""
        with contextlib.redirect_stdout(sys.stderr):
            return all([self.port.compare(self.con, t, str(dump_dir))
                        for t in ("report", "fact_transactions") + SCD2_DIMS + SCD1_DIMS])


def k_fold(base, report_dir, k):
    """Replicas under disjoint ids must yield k copies of every report row
    of the unreplicated feed (`base`: a PortReplay of the reference feed)."""
    want = Counter({r: n * k for r, n in rows(base.con, "SELECT * FROM report").items()})
    return parquet_rows(base.con, report_dir) == want


def expected_read(port, q):
    """DuckDB's answer to one query of the read mix (see Reads.scala),
    over the port's tables and per-day snapshots."""
    kind, args = q[0], q[1:]
    if kind == "point":
        dim, key, v = args
        return rows(port.con, f"SELECT * FROM {dim} WHERE {key} = ? AND end_dt IS NULL", [v])
    if kind == "asof":
        dim, key, v, ts = args
        return rows(port.con, f"""SELECT * FROM {dim} WHERE {key} = ?
            AND start_dt <= CAST(? AS TIMESTAMP)
            AND (end_dt IS NULL OR end_dt > CAST(? AS TIMESTAMP))""", [v, ts, ts])
    if kind == "range":
        return rows(port.con, """SELECT * FROM fact_transactions
            WHERE trans_date >= CAST(? AS TIMESTAMP) AND trans_date < CAST(? AS TIMESTAMP)""",
                    list(args))
    if kind in ("readat", "readasof"):
        dim, day = args
        return port.snaps[dim][int(day) - 1]
    if kind == "changes":
        dim, lo, hi = args
        return port.snaps[dim][int(hi) - 1] - port.snaps[dim][int(lo) - 1]
    raise ValueError(f"unknown query {q}")


def reads_failures(port, queries, answers, rec, day_versions):
    """Checks one read run's first-round answers (written under
    `answers`) against DuckDB. Returns the failures of the pass and the
    indexes of the change feeds that failed."""
    passes = [q for q in queries if q[0] != "changes"]
    feeds = [q for q in queries if q[0] == "changes"]
    bad = []
    versions = iter(rec["versions"] or [])
    for i, q in enumerate(passes):
        if q[0] == "versions":
            got = [v for v, _ in next(versions, [])]
            want = sorted({dv[q[1]] for dv in day_versions})
            if got != sorted(got) or not set(want) <= set(got) or got[-1] != want[-1]:
                bad.append(f"{q}: versions {got}, versions after each day {want}")
            continue
        got, want = parquet_rows(port.con, Path(answers) / f"q{i}"), expected_read(port, q)
        if got != want:
            bad.append(f"{q}: {sum(got.values())} rows, expected {sum(want.values())}")
    if pivot_counts(rec["pivot"] or []) != port.pivots[-1]:
        bad.append("report pivot differs")
    bad_feeds = {i for i, q in enumerate(feeds)
                 if (Path(answers) / f"feed{i}").is_dir() and
                 parquet_rows(port.con, Path(answers) / f"feed{i}") != expected_read(port, q)}
    return bad, bad_feeds


def replay_failed(rec, port, dump):
    """Failed ops of one replay record: an op fails if it raised, if its
    report pivot differs from the port's after that day, or if the
    tables its round left (dumped under `dump`/r<round>) differ from the
    port's."""
    tables_ok = {r: port.tables_match(Path(dump) / f"r{r}")
                 for r in {op["round"] for op in rec["ops"]}}
    failed = 0
    for op in rec["ops"]:
        ok = (op["ok"] and tables_ok[op["round"]] and
              pivot_counts(op["pivot"]) == port.pivots[op["day"] - 1])
        if not ok:
            sys.stderr.write(f"op failed: round {op['round']} day {op['day']} "
                             f"{op['error'] or ''}\n")
        failed += not ok
    return failed
