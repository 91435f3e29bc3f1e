"""The benchmark's workloads: what one pass calls, and how results are checked.

Every workload is a closed loop with one client: an operation starts when
the previous one has returned.  A round calls each operation once; the
untimed warm-up is one round (two for the near-dup operators), and a timed
pass is ``rounds`` rounds.

- ``tpch_mix``: TPC-H shapes, each collected to pandas, then
  ``cache.release_persisted()``; pass order drawn from the seed.
- ``neardup_corpus``: the near-dup operators on the seeded corpus, same
  calling convention.
- ``etl_roundtrip``: the reference API ``compat.MSSQL(connection_type=
  "spark")`` reading and writing one seeded warehouse; the order of a pass
  is fixed (writes depend on each other), its parameters come from the seed.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd

# A fixed subset of the 22 registered TPC-H shapes: a cold pass plus two warm
# passes of all 22 does not fit the run budget.  Every plan class is kept.
#
# A benchmark run must not fail, so the subset leaves out the shapes whose
# results disagree with their ORACLE on some seeds.  They round a DOUBLE that
# holds an exact decimal sum, and when that sum sits on a rounding tie Spark
# rounds it half-up and DuckDB rounds the binary double down.  Running the
# ORACLEs with both roundings found v150 (Q9) on 8% and v151 (Q10) on 1.5% of
# 420 seeds, v148 (Q5) and v05 (Q3) on 2 and 1 of 1,420, and v03 (Q1) on 2 of
# 5,420.  Of the shapes below, v149, v110 and v142 round such sums too and
# tied on none of 5,420 seeds; the rest round nothing that can end on a tie
# (counts, sums of two-decimal values, such a sum over 7), see
# test_tpch_subset_oracles_do_not_sit_on_a_rounding_tie.
TPCH_SUBSET = (
    "v149_q6_forecast_revenue",   # scan-aggregate (Q6)
    "v138_q2_min_cost_supplier",  # broadcast join chain + per-part MIN window (Q2)
    "v143_q16_supplier_count",    # broadcast anti join + COUNT(DISTINCT) (Q16)
    "v110_q8_market_share",       # join tree + conditional aggregate (Q8)
    "v152_q12_ship_priority",     # shuffled join + conditional counts (Q12)
    "v139_q13_order_distribution",  # outer join + aggregate of an aggregate (Q13)
    "v77_q18_large_orders",       # shuffled aggregate join, HAVING semi join, top-k (Q18)
    "v147_q4_priority_check",     # EXISTS semi join (Q4)
    "v90_q21_waiting_suppliers",  # EXISTS + NOT EXISTS semi/anti joins (Q21)
    "v116_q22_idle_customers",    # anti join + scalar subquery (Q22)
    "v128_q17_small_quantity",    # correlated scalar subquery (Q17)
    "v142_q15_top_supplier",      # window top-1 over aggregate (Q15)
    "v140_q20_excess_shippers",   # semi join over a grouped aggregate (Q20)
)
# v23_jaccard_pairs is left out: a timed pass of two rounds of all four did
# not fit the run budget, and one round of four was not steady.
NEARDUP_OPS = (
    "v22_minhash_lsh",
    "v24_simhash",
    "v64_neardup_clusters",
)


@dataclass
class Op:
    """One call into the program.  Query ops split into ``build`` (construct
    the DataFrame) and ``run`` (the action); compat ops are one call."""

    name: str
    layer: str  # "queries" or "compat"
    kind: str  # "query", "read" or "write"
    build: Callable[[], Any] | None = None
    run: Callable[[Any], Any] | None = None
    call: Callable[[], Any] | None = None
    args: dict = field(default_factory=dict)


class QueryWorkload:
    """Registered queries, each checked against its DuckDB ``ORACLE``."""

    def __init__(self, queries: tuple[str, ...], sf_dir: str, seed: int,
                 warmup_rounds: int, rounds: int):
        self.queries = queries
        self.sf_dir = sf_dir
        self.warmup_rounds = warmup_rounds
        self.rounds = rounds
        self.rng = np.random.Generator(np.random.PCG64([seed, 100]))

    def setup(self, spark) -> None:
        self.spark = spark

    def _op(self, qname: str) -> Op:
        from flowbyte_spark.queries import QUERIES

        fn = QUERIES[qname]
        return Op(
            qname, "queries", "query",
            build=lambda: fn(self.spark, self.sf_dir),
            run=lambda df: df.toPandas(),
        )

    def _rounds(self, n: int) -> list[Op]:
        return [self._op(q) for _ in range(n) for q in self.rng.permutation(self.queries)]

    def warmup_ops(self) -> list[Op]:
        return self._rounds(self.warmup_rounds)

    def pass_ops(self) -> list[Op]:
        return self._rounds(self.rounds)

    def check(self, records: list[dict]) -> list[str]:
        """Compare every timed result with the oracle in the canonical form
        of ``tests/oracle_util``; returns one message per mismatch."""
        import duckdb

        oracle_util = _oracle_util()
        from flowbyte_spark.queries import ORACLE

        con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, f)}')"
                )
        expected: dict[str, tuple] = {}
        problems = []
        for r in records:
            name, pdf = r["op"], r["result"]
            if name not in expected:
                o = con.execute(ORACLE[name]).fetchdf()
                expected[name] = (
                    sorted(o.columns),
                    {c: str(o[c].dtype) for c in o.columns},
                    oracle_util.canon(o),
                )
            cols, dtypes, rows = expected[name]
            if pdf is None:
                r["ok"] = False
                continue
            got_dtypes = {c: str(pdf[c].dtype) for c in pdf.columns}
            r["ok"] = sorted(pdf.columns) == cols and got_dtypes == dtypes and (
                oracle_util.canon(pdf) == rows
            )
            if not r["ok"]:
                got = oracle_util.canon(pdf) if sorted(pdf.columns) == cols else []
                problems.append(
                    f"{name} pass {r['pass']}: result differs from ORACLE "
                    f"({len(got)} vs {len(rows)} rows; spark-only "
                    f"{[x for x in got if x not in rows][:2]}, oracle-only "
                    f"{[x for x in rows if x not in got][:2]})"
                )
        con.close()
        return problems


def _oracle_util():
    tests_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    import oracle_util

    return oracle_util


# ---------------------------------------------------------------------------
# etl_roundtrip
# ---------------------------------------------------------------------------

DB = "etl"
INSERT_ROWS = 500
UPDATE_ROWS = 50
NEW_KEY_BASE = 1_000_000


class EtlWorkload:
    """Reads and writes through ``compat.MSSQL``; checked against a pandas
    replay of the write log."""

    def __init__(self, warehouse_src: str, work: str, seed: int, rounds: int):
        self.rounds = rounds
        self._round = 0
        self.host = os.path.join(work, "warehouse")
        shutil.rmtree(self.host, ignore_errors=True)
        shutil.copytree(warehouse_src, self.host)
        self.rng = np.random.Generator(np.random.PCG64([seed, 200]))
        self.initial = {
            t: pd.read_parquet(os.path.join(self.host, DB, f"dbo.{t}"))
            for t in ("customer", "orders", "customer_stage", "lineitem_load")
        }
        self.errors = 0

    def table_dir(self, table: str) -> str:
        return os.path.join(self.host, DB, f"dbo.{table}")

    def setup(self, spark) -> None:
        from flowbyte_spark import log
        from flowbyte_spark.compat import MSSQL

        # compat swallows some failures and only logs them: count every
        # error line so those operations are reported as failed.
        original = log.error

        def counting_error(message: str) -> None:
            self.errors += 1
            original(message)

        log.error = counting_error
        self.conn = MSSQL(
            connection_type="spark", host=self.host, database=DB,
            username="", password="", driver="",
        )
        self.conn.connect()

    def warmup_ops(self) -> list[Op]:
        return self._round_ops()

    def pass_ops(self) -> list[Op]:
        return [op for _ in range(self.rounds) for op in self._round_ops()]

    def _round_ops(self) -> list[Op]:
        r = self.rng
        c = self.conn
        k0 = NEW_KEY_BASE + self._round * INSERT_ROWS
        self._round += 1
        new_orders = pd.DataFrame({
            "o_orderkey": np.arange(k0, k0 + INSERT_ROWS, dtype="int64"),
            "o_custkey": r.integers(0, 1500, INSERT_ROWS).astype("int64"),
            "o_orderstatus": r.choice(["F", "O", "P"], INSERT_ROWS),
            "o_totalprice": np.round(r.integers(100_000, 50_000_000, INSERT_ROWS) / 100.0, 2),
            "o_orderdate": pd.to_datetime(
                r.integers(9131, 11535, INSERT_ROWS), unit="D"
            ).date,
            "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"], INSERT_ROWS),
        })
        upd_keys = r.choice(1500, UPDATE_ROWS, replace=False)
        updates = [
            {"c_custkey": int(k), "c_acctbal": float(v)}
            for k, v in zip(upd_keys, np.round(r.integers(-99_999, 999_999, UPDATE_ROWS) / 100.0, 2))
        ]
        since = f"{int(r.integers(1995, 2001))}-{int(r.integers(1, 13)):02d}-01"
        nation = int(r.integers(0, 25))
        stage_cols = pd.DataFrame(columns=["c_custkey", "c_acctbal", "c_mktsegment"])
        load = self.initial["lineitem_load"]
        q_orders = (
            "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total "
            f"FROM orders WHERE o_orderdate >= DATE'{since}' GROUP BY o_orderpriority"
        )
        q_join = (
            "SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS total "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_orderkey >= {NEW_KEY_BASE} GROUP BY c.c_mktsegment"
        )
        q_cust = (
            "SELECT c_custkey, c_acctbal, c_mktsegment, c_acctbal > 0 AS positive "
            f"FROM customer WHERE c_nationkey = {nation}"
        )
        q_load = (
            "SELECT l_returnflag, count(*) AS n, "
            "sum(l_extendedprice * (1 - l_discount)) AS revenue "
            "FROM lineitem_load GROUP BY l_returnflag"
        )

        def read(name, sql, **casts):
            return Op(name, "compat", "read", call=lambda: c.get_data(sql, **casts),
                      args={"sql": sql, **casts})

        def write(name, fn, **args):
            return Op(name, "compat", "write", call=fn, args=args)

        return [
            read("get_orders_by_priority", q_orders,
                 category_columns=["o_orderpriority"], float_columns=["n"]),
            write("insert_orders", lambda: c.insert_data("dbo", "orders", new_orders),
                  table="orders", rows=new_orders),
            read("get_new_orders_by_segment", q_join, category_columns=["c_mktsegment"]),
            write("update_customers",
                  lambda: c.update_data("dbo", "customer", updates, ["c_custkey"]),
                  table="customer", records=updates),
            write("update_from_stage",
                  lambda: c.update_from_table(stage_cols, "dbo.customer",
                                              "dbo.customer_stage", ["c_custkey"]),
                  table="customer"),
            write("delete_new_orders",
                  lambda: c.delete_data_with_conditions(
                      "dbo", "orders", f"o_orderkey >= {NEW_KEY_BASE}"),
                  table="orders", min_key=NEW_KEY_BASE),
            read("get_customers_of_nation", q_cust,
                 bool_columns=["positive"], float_columns=["c_acctbal"]),
            write("truncate_load", lambda: c.truncate_table("dbo", "lineitem_load"),
                  table="lineitem_load"),
            write("reload_load", lambda: c.insert_data("dbo", "lineitem_load", load),
                  table="lineitem_load", rows=load),
            read("get_load_revenue", q_load, category_columns=["l_returnflag"]),
        ]

    # -- correctness ------------------------------------------------------

    def replay(self, records: list[dict]) -> list[str]:
        """Apply the write log to pandas copies of the tables, and compare
        every read against DuckDB over the replayed state.  Sets
        ``rows_changed`` on write records and ``ok`` on every record."""
        import duckdb

        state = {k: v.copy() for k, v in self.initial.items()}
        problems = []
        for r in records:
            a = r["args"]
            if r["kind"] == "write":
                t = a["table"]
                before = state[t]
                r["rows_before"] = len(before)
                if r["op"] in ("insert_orders", "reload_load"):
                    rows = a["rows"][list(before.columns)]
                    state[t] = pd.concat([before, rows], ignore_index=True)
                    r["rows_changed"] = len(rows)
                elif r["op"] == "update_customers":
                    upd = pd.DataFrame(a["records"]).set_index("c_custkey")["c_acctbal"]
                    hit = before["c_custkey"].isin(upd.index)
                    after = before.copy()
                    after.loc[hit, "c_acctbal"] = after.loc[hit, "c_custkey"].map(upd)
                    state[t] = after
                    r["rows_changed"] = int(hit.sum())
                elif r["op"] == "update_from_stage":
                    stage = state["customer_stage"].set_index("c_custkey")
                    hit = before["c_custkey"].isin(stage.index)
                    after = before.copy()
                    for col in ("c_acctbal", "c_mktsegment"):
                        after.loc[hit, col] = after.loc[hit, "c_custkey"].map(stage[col])
                    state[t] = after
                    r["rows_changed"] = int(hit.sum())
                elif r["op"] == "delete_new_orders":
                    gone = before["o_orderkey"] >= a["min_key"]
                    state[t] = before[~gone].reset_index(drop=True)
                    r["rows_changed"] = int(gone.sum())
                elif r["op"] == "truncate_load":
                    state[t] = before.iloc[0:0]
                    r["rows_changed"] = len(before)
                r["rows_after"] = len(state[t])
                r["ok"] = r["error"] is None
                continue
            con = duckdb.connect()
            for name, frame in state.items():
                con.register(name, frame)
            want = con.execute(a["sql"]).fetchdf()
            con.close()
            r["ok"] = r["error"] is None and _frames_match(r["result"], want, a)
            if not r["ok"]:
                problems.append(f"{r['op']} pass {r['pass']}: read differs from the replay")
        self.final = state
        return problems

    def final_state_problems(self) -> list[str]:
        """Tables on disk after the last pass, against the replayed state."""
        problems = []
        for t, want in self.final.items():
            got = pd.read_parquet(self.table_dir(t))
            if not _frames_match(got, want, {}):
                problems.append(f"table {t}: contents on disk differ from the replay")
        return problems


def _frames_match(got, want: pd.DataFrame, casts: dict) -> bool:
    """Row multisets equal, floats to 1e-9 relative; cast directives honoured."""
    if got is None or sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    for c in casts.get("category_columns") or []:
        if str(got[c].dtype) != "category":
            return False
    for c in casts.get("float_columns") or []:
        if str(got[c].dtype) != "float64":
            return False
    for c in casts.get("bool_columns") or []:
        if str(got[c].dtype) != "bool":
            return False
    cols = sorted(want.columns)

    def rows(df):
        return sorted(
            tuple(_norm(v) for v in row)
            for row in df[cols].astype(object).itertuples(index=False)
        )

    for a, b in zip(rows(got), rows(want)):
        for (tx, x), (ty, y) in zip(a, b):
            if tx != ty:
                return False
            if tx == 1 and not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
            if tx != 1 and x != y:
                return False
    return True


def _norm(v) -> tuple[int, Any]:
    """Sortable (kind, value): NULL, number, or text."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return (0, 0)
    if isinstance(v, (bool, np.bool_)):
        return (2, str(bool(v)))
    if isinstance(v, (int, float, np.integer, np.floating)):
        return (1, float(v))
    return (2, str(v))
