"""Correctness checks: every op result and final table state of a run
against the generator's own bookkeeping (or, for corpus_curate, the
operators' DuckDB oracle SQL over the same parquet)."""
import datetime as dt
import math
import os

import gen


def _read_parquet_rows(path):
    import duckdb
    con = duckdb.connect()
    return con.sql(f"SELECT * FROM '{path}/*.parquet'").fetchall()


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def _canon_rows(rows):
    out = [tuple(_norm(v) for v in r) for r in rows]
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return out


def _canon_named(cols, rows):
    """Column-name-sorted, row-sorted form (the repo's oracle gate rule)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in idx],
            _canon_rows([[r[i] for i in idx] for r in rows]))


def _diff(what, got, want, errors):
    if got != want:
        g, w = set(map(str, got)), set(map(str, want))
        errors.append(f"{what}: got {len(got)} rows, want {len(want)}; "
                      f"only-got {sorted(g - w)[:3]} only-want "
                      f"{sorted(w - g)[:3]}")


# ---------------------------------------------------------------------------

def check_etl(record, file_ops, out_dir, errors):
    for op in record["ops"]:
        if not op["ok"]:
            continue
        r = op["result"]
        d, ds, name, reland = file_ops[r["file"]]
        _, counts = gen.etl_replay(file_ops[:r["file"] + 1])
        if r["skipped"] != (1 if reland else 0):
            errors.append(f"op {op['idx']} {name}: skipped {r['skipped']} "
                          f"stages, want {1 if reland else 0}")
        want = None if reland else list(d.counts[ds])
        if r.get("job") != want:
            errors.append(f"op {op['idx']} {name}: [valid, rejected] = "
                          f"{r.get('job')}, want {want}")
        if r["count"] != counts[-1]:
            errors.append(f"op {op['idx']} {name}: validation count "
                          f"{r['count']}, want {counts[-1]}")
    tables, _ = gen.etl_replay(file_ops[:record["extra"]["files_done"]])
    want = {
        "products": [(p, int(did), dept, name)
                     for p, did, dept, name in tables["products"].values()],
        "orders": list(tables["orders"].values()),
        "order_items": list(tables["order_items"].values()),
    }
    for ds, rows in want.items():
        got = _read_parquet_rows(os.path.join(out_dir, f"final_{ds}"))
        _diff(f"final {ds}", _canon_rows(got), _canon_rows(rows), errors)


# ---------------------------------------------------------------------------

def lake_expected(spec, build):
    """Rows the op must return, and whether their order matters."""
    kind = spec["kind"]
    if kind in ("top5", "sql_top5"):
        return build.top5(), True
    if kind in ("range", "sql_range"):
        lo = (dt.date.fromisoformat(spec["lo"]) - gen.BASE_DATE).days
        hi = (dt.date.fromisoformat(spec["hi"]) - gen.BASE_DATE).days
        return [build.amount_agg(lo, hi)], True
    if kind == "point":
        return [build.order_row(spec["id"])], False
    if kind == "probe":
        return [build.order_row(i) for i in spec["ids"]], False
    if kind in ("travel", "sql_travel"):
        return [build.amount_agg(0, spec["day"])], True
    raise ValueError(kind)


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None and
                abs(float(a) - float(b)) <= 0.0101)
    return a == b


def check_lake(record, specs, build, errors):
    versions = record["extra"]["versions"]
    if len(set(versions)) != len(versions) or versions != sorted(versions):
        errors.append(f"orders versions not one commit per day: {versions}")
    for op in record["ops"]:
        if not op["ok"]:
            continue
        spec = specs[op["result"]["spec"]]
        want, ordered = lake_expected(spec, build)
        got = op["result"]["rows"]
        if not ordered:
            got = sorted(got, key=str)
            want = sorted(want, key=str)
        if len(got) != len(want) or not all(
                len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
                for g, w in zip(got, want)):
            errors.append(f"op {op['idx']} {spec}: got {got[:5]}, "
                          f"want {want[:5]}")


# ---------------------------------------------------------------------------

def check_cdc(record, seed, out_dir, errors):
    g = gen.CdcGenerator(seed)
    applied = []
    for _ in range(max(op["result"]["file"] for op in record["ops"]) + 1):
        g.file()
        applied.append(g.applied)
    for op in record["ops"]:
        if op["ok"] and op["result"]["applied"] != applied[op["result"]["file"]]:
            errors.append(f"op {op['idx']}: applied "
                          f"{op['result']['applied']} batches, want "
                          f"{applied[op['result']['file']]}")
    live = gen.cdc_replay(seed, record["extra"]["files_done"])
    want = [(k, u, a, dte, s) for k, (s, u, a, dte) in live.items()]
    got = _read_parquet_rows(os.path.join(out_dir, "final_table"))
    _diff("final cdc table", _canon_rows(got), _canon_rows(want), errors)


# ---------------------------------------------------------------------------

def check_corpus(record, data_dir, errors):
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet/*.parquet'")
    want = {}
    for name, sql in record["extra"]["oracle_sql"].items():
        rel = con.sql(sql)
        want[name] = _canon_named(rel.columns, rel.fetchall())
    for op in record["ops"]:
        if not op["ok"]:
            continue
        for name, w in want.items():
            r = op["result"][name]
            got = _canon_named(r["cols"], [tuple(x) for x in r["rows"]])
            if got[0] != w[0]:
                errors.append(f"op {op['idx']} {name}: columns {got[0]}, "
                              f"want {w[0]}")
            else:
                _diff(f"op {op['idx']} {name}", got[1], w[1], errors)
    return {name: len(w[1]) for name, w in want.items()}
