"""Output checks: every workload's results against DuckDB.

Each check returns the indices of the measured ops whose output was
wrong, plus a list of human-readable problems. Cells are compared after
one normalisation on both sides: numbers as floats, text as text.
"""

import duckdb

import gen


def _cell(v):
    if v is None:
        return None
    s = v if isinstance(v, str) else repr(v) if isinstance(v, float) else str(v)
    try:
        return float(s)
    except ValueError:
        return s


def _key(row):
    return tuple((0, 0.0, "") if c is None else
                 (1, c, "") if isinstance(c, float) else (2, 0.0, c)
                 for c in row)


def same_rows(a, b):
    na = sorted((tuple(_cell(c) for c in r) for r in a), key=_key)
    nb = sorted((tuple(_cell(c) for c in r) for r in b), key=_key)
    return na == nb


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def _same_table(con, got, want, cols):
    """Multiset equality of two relations, computed inside DuckDB."""
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL "
        f"SELECT {cols} FROM {want})) + (SELECT count(*) FROM (SELECT {cols} "
        f"FROM {want} EXCEPT ALL SELECT {cols} FROM {got}))").fetchone()[0]
    return diff == 0


def many_steps(in_dir, out_dir, side, result, measured):
    con = _con()
    for t in ("customer", "orders", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    problems = []
    written = set(result["finish"].get("outputs", []))
    for name, query in sorted(side["expected"].items()):
        if name not in written:
            problems.append(f"output {name} was not written")
            continue
        got = con.execute(f"SELECT * FROM {_parquet(f'{out_dir}/check/{name}')}"
                          ).fetchall()
        if not same_rows(got, con.execute(query).fetchall()):
            problems.append(f"output {name} differs from DuckDB")
    # every op rewrites the same outputs, so a wrong one fails them all
    return (set(measured) if problems else set()), problems


def table_mixed(in_dir, out_dir, side, result, measured):
    """Replays the op log on a DuckDB model of both tables: every read is
    compared when it ran, each head and one time-travel version at the
    end."""
    ops, duck = side["ops"], side["duck"]
    recs = {r["i"]: r for r in result["ops"]}
    last = max(recs) if recs else -1
    asof_op = result["finish"].get("asof_op", -1)
    snaps = set()
    for i in range(last + 1):
        for s in duck[i]:
            if isinstance(s, tuple) and s[0] == "asof":
                snaps.add((s[1], ops[s[1]]["table"]))
    if asof_op >= 0:
        snaps.add((asof_op, "mor"))
    con = _con()
    for t in ("cow", "mor"):
        con.execute(f"CREATE TABLE {t} AS SELECT {gen.ORDER_COLS} "
                    f"FROM '{in_dir}/orders.parquet'")
    failed, problems = set(), []
    heads = {}

    def bad(i, why):
        failed.add(i)
        if len(problems) < 10:
            problems.append(f"op {i}: {why}")

    for i in range(last + 1):
        op, rec = ops[i], recs.get(i)
        t = op["table"]
        if rec is not None and not rec["ok"]:
            bad(i, rec["err"])
            continue
        if op["kind"] == "commit":
            for s in duck[i]:
                con.execute(s)
        elif op["kind"] == "read" and rec is not None:
            (check,) = duck[i]
            rows = rec["rows"]
            if check[0] in ("query", "asof"):
                want = con.execute(check[-1]).fetchall()
                if not same_rows(rows, want):
                    bad(i, f"read differs from the model: {op['sql'][:80]}")
            elif check[0] == "files":
                n_years = con.execute(
                    f"SELECT count(DISTINCT pt_year) FROM {t}").fetchone()[0]
                if not (rows and int(rows[0][0]) >= n_years
                        and int(rows[0][1]) > 0):
                    bad(i, f"{t}.files lists {rows}")
            elif check[0] == "history":
                if not (rows and int(rows[0][0]) >= 1 and
                        (t not in heads or int(rows[0][1]) == heads[t])):
                    bad(i, f"{t}.history {rows} does not end at {heads.get(t)}")
        if rec is not None and rec["head"] >= 0:
            heads[t] = rec["head"]
        if (i, t) in snaps:
            con.execute(f"CREATE TABLE snap_{i}_{t} AS SELECT * FROM {t}")

    commits = {t: {i for i in measured if ops[i]["kind"] != "read"
                   and ops[i]["table"] == t} for t in ("cow", "mor")}
    for t in ("cow", "mor"):
        if not _same_table(con, _parquet(f"{out_dir}/check/head_{t}"), t,
                           gen.ORDER_COLS):
            problems.append(f"head of {t} differs from the model")
            failed |= commits[t]
    if asof_op >= 0:
        if not _same_table(con, _parquet(f"{out_dir}/check/asof_mor"),
                           f"snap_{asof_op}_mor", gen.ORDER_COLS):
            problems.append(f"mor VERSION AS OF op {asof_op} differs")
            failed.add(asof_op)
    else:
        problems.append("no retained version to time-travel to")
    return failed & set(measured), problems


CHECKS = {"etl_many_steps": many_steps, "table_mixed": table_mixed}
