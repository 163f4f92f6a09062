"""Seeded inputs for the two workloads.

Everything the engine sees is made here from the workload seed: the
parquet tables, the generated Easy-SQL file and the table op log. The
same seed gives byte-identical files. Each generator also returns what
the checker needs to compute the expected outputs independently.
"""

import json
import os
import random

import duckdb
import numpy as np
import pandas as pd

# TPC-H row counts per unit of scale factor
ROWS = {"customer": 150_000, "orders": 1_500_000}
SF = {"etl_many_steps": 0.01, "table_mixed": 0.1}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
# table_mixed: ops before measuring, and ops per round; one round is one
# measured op
WARMUP, ROUND = 10, 20

ORDER_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
              "o_orderpriority, pt_year")


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(df, path):
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.register("df", df)
    con.execute(f"COPY (SELECT * FROM df) TO '{path}' (FORMAT PARQUET)")
    con.close()


def customer(seed, sf):
    n = int(ROWS["customer"] * sf)
    r = _rng(seed, 1)
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pd.DataFrame({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": r.integers(-99_999, 999_999, n) / 100.0,
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)],
    })


def orders(seed, sf):
    n = int(ROWS["orders"] * sf)
    n_cust = int(ROWS["customer"] * sf)
    r = _rng(seed, 2)
    return pd.DataFrame({
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
        "o_custkey": r.integers(1, n_cust + 1, n).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[r.integers(0, 3, n)],
        "o_totalprice": r.integers(90_000, 50_000_000, n) / 100.0,
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)],
        "pt_year": r.integers(1992, 1999, n).astype(np.int32),
    })


def nation():
    return pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": NATIONS,
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })


# --- etl_many_steps: a generated Easy-SQL file -------------------------------

def many_steps_etl(seed, blocks=48):
    """About two hundred small steps over the sf0.01 tables: mostly view
    definitions over one cached join, with a check, log or output every
    few blocks. Returns the ETL text and, per output table, the DuckDB
    query that must reproduce it."""
    r = random.Random(seed * 104729 + 11)
    lines = ["-- backend: spark", "",
             "-- target=variables",
             "select true as __create_output_table__, 25 as max_nations", "",
             "-- target=template.cust_orders",
             "select * from orders_c where o_orderkey % #{m} = #{r}", "",
             "-- target=template.seg_filter",
             "c_mktsegment = '#{seg}' and o_orderstatus <> '#{st}'", "",
             "-- target=cache.orders_c",
             "select o.o_orderkey, o.o_custkey, o.o_orderstatus, "
             "o.o_totalprice, c.c_nationkey, c.c_mktsegment",
             "from bench_in.orders o join bench_in.customer c "
             "on o.o_custkey = c.c_custkey", ""]
    expected = {}
    params = {}
    for b in range(blocks):
        if b % 4 == 0:
            cols = []
            for v in range(b, b + 4):
                # the modulus sets how many rows a block reads: fixed by
                # position, so every seed's file costs about the same
                m = 2 + v % 8
                params[v] = (m, r.randrange(m), r.choice(SEGMENTS),
                             r.choice(STATUSES), r.randint(1, 4))
                m, rem, seg, _, min_n = params[v]
                cols.append(f"{m} as m_{v}, {rem} as r_{v}, '{seg}' as seg_{v}, "
                            f"{min_n} as min_{v}")
            lines += ["-- target=variables", "select " + ",\n  ".join(cols), ""]
        m, rem, seg, st, min_n = params[b]
        cached = b % 8 == 0
        lines += [
            f"-- target=temp.base_{b}",
            f"select * from (@{{cust_orders(m=${{m_{b}}}, r=${{r_{b}}})}}) t",
            f"where @{{seg_filter(seg=${{seg_{b}}}, st={st})}}", "",
            f"-- target=temp.agg_{b}",
            "select c_nationkey, count(*) as n_orders, "
            "sum(cast(o_totalprice as decimal(18,2))) as amount",
            f"from base_{b} group by c_nationkey", "",
            f"-- target={'cache' if cached else 'temp'}.top_{b}",
            "select a.c_nationkey, n.n_name, a.n_orders, a.amount",
            f"from agg_{b} a join bench_in.nation n "
            "on a.c_nationkey = n.n_nationkey",
            f"where a.n_orders >= ${{min_{b}}}", ""]
        if b % 6 == 0:
            lines += [f"-- target=check.nations_{b}",
                      f"select (select count(*) from top_{b}) <= "
                      "${max_nations} as actual, true as expected", ""]
        if b % 12 == 3:
            lines += [f"-- target=log.size_{b}",
                      f"select count(*) as n, sum(n_orders) as orders "
                      f"from top_{b}", ""]
        if b % 16 == 15:
            lines += [f"-- target=output.bench_out.out_{b}",
                      f"select c_nationkey, n_name, n_orders, amount "
                      f"from top_{b}", ""]
            expected[f"out_{b}"] = (
                f"WITH base AS (SELECT o.o_orderkey, o.o_custkey, "
                f"o.o_orderstatus, o.o_totalprice, c.c_nationkey, "
                f"c.c_mktsegment FROM orders o JOIN customer c "
                f"ON o.o_custkey = c.c_custkey WHERE o.o_orderkey % {m} = "
                f"{rem} AND c_mktsegment = '{seg}' AND o_orderstatus <> "
                f"'{st}'), agg AS (SELECT c_nationkey, count(*) AS n_orders, "
                f"sum(CAST(o_totalprice AS DECIMAL(18,2))) AS amount "
                f"FROM base GROUP BY c_nationkey) "
                f"SELECT a.c_nationkey, n.n_name, a.n_orders, a.amount "
                f"FROM agg a JOIN nation n ON a.c_nationkey = n.n_nationkey "
                f"WHERE a.n_orders >= {min_n}")
        if cached:
            lines += [f"-- target=func.unpersist(top_{b})", ""]
    lines += ["-- target=func.unpersist(orders_c)", ""]
    return "\n".join(lines), expected


# --- table_mixed: the op log ---------------------------------------------------

class _TableModel:
    """Which keys each table holds, so generated ops hit real rows."""

    def __init__(self, df):
        self.year = dict(zip(df["o_orderkey"].tolist(), df["pt_year"].tolist()))
        self.by_year = {}
        for k, y in self.year.items():
            self.by_year.setdefault(y, set()).add(k)
        self.next_key = max(self.year) + 1

    def live_key(self, r):
        while True:
            k = r.randrange(1, self.next_key)
            if k in self.year:
                return k

    def add(self, k, y):
        self.year[k] = y
        self.by_year.setdefault(y, set()).add(k)

    def drop(self, k):
        y = self.year.pop(k, None)
        if y is not None:
            self.by_year[y].discard(k)


def _row(r, k, y):
    price = r.randrange(90_000, 50_000_000) / 100.0
    return (f"({k}, {r.randrange(1, 15_001)}, '{r.choice(STATUSES)}', "
            f"{price:.2f}, '{r.choice(PRIORITIES)}', {y})")


COMMITS = ["insert", "merge", "update", "delete", "overwrite"]
READS = ["point", "partition", "full"]
SIDE_READS = ["asof", "history", "asof", "partitions", "asof", "files"]
TABLES = ["cow", "mor"]


def table_ops(seed, ords, rounds=60):
    """A warmup of WARMUP ops, then rounds of ROUND ops that all have the
    same mix, so every round costs about the same: each commit kind and
    each read kind on each table, then an optimize of one table and a
    vacuum of the other. Returns the op log (what the engine runs), the set-up SQL
    and, per op, the DuckDB statements of the model."""
    r = random.Random(seed * 15485863 + 5)
    model = {t: _TableModel(ords) for t in TABLES}
    last_commits = {t: [] for t in TABLES}
    ops, duck = [], []

    def add(kind, t):
        i = len(ops)
        if kind in COMMITS:
            sql, stmts = _commit(r, kind, t, model[t])
            last_commits[t] = (last_commits[t] + [i])[-3:]
            ops.append({"kind": "commit", "table": t, "sql": sql})
        elif kind in ("optimize", "vacuum"):
            sql, stmts = f"CALL {{cat}}.system.{kind}(table => '{t}'" + (
                ", retain => 12)" if kind == "vacuum" else ")"), []
            last_commits[t] = (last_commits[t] + [i])[-3:]
            ops.append({"kind": "maint", "table": t, "sql": sql})
        else:
            sql, stmts = _read(r, kind, t, model[t], last_commits[t])
            ops.append({"kind": "read", "table": t, "sql": sql})
        duck.append(stmts)

    # the warmup: one commit of each kind and four reads, alternating tables
    warm = list(zip(COMMITS + READS + ["history"], TABLES * 5))
    random.Random(-1).shuffle(warm)
    for kind, t in warm + [("optimize", "cow")]:
        add(kind, t)
    for n in range(rounds):
        mix = [(k, t) for k in COMMITS + READS for t in TABLES] + [
            (SIDE_READS[(2 * n + j) % len(SIDE_READS)], t)
            for j, t in enumerate(TABLES)]
        # the order within a round does not depend on the seed: every
        # seed's run then has the same cost structure, and the seed picks
        # keys, values and partitions
        random.Random(n).shuffle(mix)
        for kind, t in mix + [("optimize", TABLES[n % 2]),
                              ("vacuum", TABLES[1 - n % 2])]:
            add(kind, t)
    cols = ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
            "o_totalprice DOUBLE, o_orderpriority STRING, pt_year INT")
    setup = ";\n".join([
        f"CREATE TABLE {{cat}}.cow ({cols})",
        f"CREATE TABLE {{cat}}.mor ({cols}) TBLPROPERTIES "
        "('rowKey' = 'o_orderkey', 'bloomFilterColumns' = 'o_orderkey')",
        f"INSERT INTO {{cat}}.cow SELECT {ORDER_COLS} FROM orders_src",
        f"INSERT INTO {{cat}}.mor SELECT {ORDER_COLS} FROM orders_src",
    ]) + ";\n"
    return ops, setup, duck


def _merge_sql(t, src_rows, matched):
    return (f"MERGE INTO {{cat}}.{t} t USING (SELECT * FROM VALUES "
            + ", ".join(src_rows) +
            f" AS s({ORDER_COLS}, op)) s ON t.o_orderkey = s.o_orderkey "
            + matched +
            f"WHEN NOT MATCHED AND s.op = 'I' THEN INSERT ({ORDER_COLS}) "
            "VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, "
            "s.o_totalprice, s.o_orderpriority, s.pt_year)")


def _commit(r, kind, t, m):
    if kind == "insert":
        rows = []
        for _ in range(20):
            k, y = m.next_key, r.randrange(1992, 1999)
            m.next_key += 1
            m.add(k, y)
            rows.append(_row(r, k, y))
        model = [f"INSERT INTO {t} VALUES " + ", ".join(rows)]
        if t == "mor":
            # a merge-on-read table refuses plain appends into partitions
            # with pending tombstones, and an insert-only MERGE fails to
            # plan there; new rows arrive as an upsert MERGE instead
            return _merge_sql(t, [row[:-1] + ", 'I')" for row in rows],
                              "WHEN MATCHED THEN UPDATE SET "
                              "o_totalprice = s.o_totalprice "), model
        return f"INSERT INTO {{cat}}.{t} VALUES " + ", ".join(rows), model
    if kind == "merge":
        upd = {m.live_key(r) for _ in range(8)}
        dele = {m.live_key(r) for _ in range(4)} - upd
        src, vals = [], []
        for k in sorted(upd):
            price = r.randrange(90_000, 50_000_000) / 100.0
            st = r.choice(STATUSES)
            src.append(f"({k}, 0, '{st}', {price:.2f}, '', {m.year[k]}, 'U')")
            vals.append(f"({k}, '{st}', {price:.2f})")
        for k in sorted(dele):
            src.append(f"({k}, 0, '', 0.00, '', {m.year[k]}, 'D')")
        ins = []
        for _ in range(4):
            k, y = m.next_key, r.randrange(1992, 1999)
            m.next_key += 1
            row = _row(r, k, y)
            ins.append(row)
            src.append(row[:-1] + ", 'I')")
            m.add(k, y)
        for k in dele:
            m.drop(k)
        sql = _merge_sql(t, src,
                         "WHEN MATCHED AND s.op = 'D' THEN DELETE "
                         "WHEN MATCHED THEN UPDATE SET "
                         "o_orderstatus = s.o_orderstatus, "
                         "o_totalprice = s.o_totalprice ")
        stmts = []
        if dele:
            stmts.append(f"DELETE FROM {t} WHERE o_orderkey IN ("
                         + ", ".join(map(str, sorted(dele))) + ")")
        stmts.append(f"UPDATE {t} SET o_orderstatus = v.s, o_totalprice = v.p "
                     "FROM (VALUES " + ", ".join(vals) + ") v(k, s, p) "
                     f"WHERE {t}.o_orderkey = v.k")
        stmts.append(f"INSERT INTO {t} VALUES " + ", ".join(ins))
        return sql, stmts
    if kind == "update":
        a = m.live_key(r)
        where = f"o_orderkey BETWEEN {a} AND {a + 39}"
        return (f"UPDATE {{cat}}.{t} SET o_totalprice = o_totalprice + 7, "
                f"o_orderstatus = 'U' WHERE {where}",
                [f"UPDATE {t} SET o_totalprice = o_totalprice + 7, "
                 f"o_orderstatus = 'U' WHERE {where}"])
    if kind == "delete":
        a = m.live_key(r)
        for k in range(a, a + 30):
            m.drop(k)
        where = f"o_orderkey BETWEEN {a} AND {a + 29}"
        return (f"DELETE FROM {{cat}}.{t} WHERE {where}",
                [f"DELETE FROM {t} WHERE {where}"])
    y = r.randrange(1992, 1999)
    rem = r.randrange(50)
    for k in [k for k in m.by_year.get(y, ()) if k % 50 == rem]:
        m.drop(k)
    keep = f"pt_year = {y} AND o_orderkey % 50 <> {rem}"
    return (f"INSERT OVERWRITE {{cat}}.{t} PARTITION (pt_year = {y}) "
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1, "
            f"o_orderpriority FROM {{cat}}.{t} WHERE {keep}",
            [f"CREATE TEMP TABLE ow AS SELECT o_orderkey, o_custkey, "
             "o_orderstatus, o_totalprice + 1 AS o_totalprice, "
             f"o_orderpriority, pt_year FROM {t} WHERE {keep}",
             f"DELETE FROM {t} WHERE pt_year = {y}",
             f"INSERT INTO {t} SELECT * FROM ow", "DROP TABLE ow"])


def _read(r, kind, t, m, recent):
    """A read's engine SQL and its model check: a model query, or a shape
    check for the metadata tables, whose contents the model does not
    track."""
    if kind == "asof" and not recent:
        kind = "history"
    if kind == "asof":
        j = r.choice(recent)
        q = ("SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))) "
             "FROM {src}")
        return (q.format(src=f"{{cat}}.{t} VERSION AS OF {{ver:{j}}}"),
                [("asof", j, q.format(src=f"snap_{j}_{t}"))])
    if kind == "point":
        k = m.live_key(r) if r.random() < 0.9 else r.randrange(1, m.next_key)
        q = f"SELECT {ORDER_COLS} FROM {{src}} WHERE o_orderkey = {k}"
    elif kind == "partition":
        y = r.randrange(1992, 1999)
        q = ("SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))), "
             f"max(o_orderkey) FROM {{src}} WHERE pt_year = {y}")
    elif kind == "full":
        q = ("SELECT pt_year, count(*), "
             "sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM {src} "
             "GROUP BY pt_year")
    elif kind == "partitions":
        return (f"SELECT pt_year FROM {{cat}}.{t}.partitions",
                [("query", f"SELECT DISTINCT pt_year FROM {t}")])
    elif kind == "files":
        return (f"SELECT count(*), sum(bytes) FROM {{cat}}.{t}.files",
                [("files", None)])
    else:
        return (f"SELECT count(*), max(version) FROM {{cat}}.{t}.history",
                [("history", None)])
    return q.format(src=f"{{cat}}.{t}"), [("query", q.format(src=t))]


# --- writing a workload's inputs -----------------------------------------------

def generate(workload, seed, out_dir):
    """Writes the workload's inputs under `out_dir`; returns the checker's
    side of the inputs."""
    os.makedirs(out_dir, exist_ok=True)
    sf = SF[workload]
    if workload == "etl_many_steps":
        _write(customer(seed, sf), f"{out_dir}/customer.parquet")
        _write(orders(seed, sf), f"{out_dir}/orders.parquet")
        _write(nation(), f"{out_dir}/nation.parquet")
        etl, expected = many_steps_etl(seed)
        with open(f"{out_dir}/many_steps.sql", "w") as f:
            f.write(etl)
        return {"expected": expected}
    ords = orders(seed, sf)
    _write(ords, f"{out_dir}/orders.parquet")
    ops, setup, duck = table_ops(seed, ords)
    with open(f"{out_dir}/ops.jsonl", "w") as f:
        for op in ops:
            f.write(json.dumps(op, sort_keys=True) + "\n")
    with open(f"{out_dir}/setup.sql", "w") as f:
        f.write(setup)
    with open(f"{out_dir}/rounds.txt", "w") as f:
        f.write(f"{WARMUP} {ROUND}\n")
    return {"ops": ops, "duck": duck}
